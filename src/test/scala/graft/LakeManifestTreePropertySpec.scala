package graft

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.sources.dsv2.LakeLog

/** Randomized model check of the manifest TREE: arbitrary
  * append/replace/rollback/expire sequences against an in-memory
  * reference model, with the tree forced on (tiny inline threshold).
  * Invariants per committed version:
  *
  *   1. the materialized snapshot (files + tuples) equals the model;
  *   2. segments PARTITION the file set — any predicate-split of the
  *     segment list yields disjoint pruned views whose union is the
  *     full snapshot (proved through the public pruned-read API);
  *   3. summaries are SOUND — pruning by "segment might hold tuple T"
  *     never drops a file that carries T;
  *   4. commits are O(delta) — an append writes at most
  *     ceil(added/threshold) new sidecars once the tree exists;
  *   5. expire keeps every retained version readable and leaves no
  *     orphan segment behind.
  *
  * All metadata-level (fake 0-byte data files): the tree is pure log
  * machinery, so the model needs no Spark jobs. The 120 random histories
  * take about 77 s on a 4-core, 15 GB host; the time is the log's own
  * filesystem calls, through one reused Hadoop conf.
  */
class LakeManifestTreePropertySpec extends SparkSpec {

  private val Threshold = 3

  private def segFiles(dir: String): Set[String] = {
    val d = new java.io.File(s"$dir/_log/seg")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("seg-")).toSet
  }

  test("manifest-tree model check: 120 random append/replace/rollback/" +
       "expire histories hold materialization, partition, soundness, " +
       "O(delta), and expiry invariants at every version") {
    val prev = sys.props.get("graft.lake.manifest.inline.threshold")
    sys.props("graft.lake.manifest.inline.threshold") = Threshold.toString
    try {
      val rnd = new Random(20260815L)
      (1 to 120).foreach { trial =>
        val dir = Files.createTempDirectory(s"graft-mtp$trial").toString
        var nextId = 0
        def freshFiles(n: Int): Seq[String] = (1 to n).map { _ =>
          nextId += 1
          val name = f"part-$nextId%05d.parquet"
          Files.createFile(Paths.get(dir, name)) // 0-byte: harvest skips
          name
        }
        val tuples = Vector(Some(Seq("s0", "a")), Some(Seq("s0", "b")),
          Some(Seq("s0", "c")), None)
        def tupleOf(): Option[Seq[String]] = tuples(rnd.nextInt(4))
        // model: current file -> tuple, plus per-version snapshots
        var live = Map.empty[String, Option[Seq[String]]]
        var history = Map.empty[Long, Map[String, Option[Seq[String]]]]
        // seed the log before any files exist on disk (no bootstrap
        // sweep-up to model)
        var head = LakeLog.commit(dir, "init", Seq.empty, Seq.empty, 0L)
        history += head.version -> live

        def checkVersion(v: Long,
                         model: Map[String, Option[Seq[String]]]): Unit = {
          val s = LakeLog.snapshotAt(dir, v)
          assert(s.files.toSet == model.keySet,
            s"trial $trial v$v files: ${s.files.toSet} != ${model.keySet}")
          model.foreach { case (f, t) =>
            assert(s.parts.get(f) == t,
              s"trial $trial v$v tuple of $f: ${s.parts.get(f)} != $t")
          }
          if (s.segments.nonEmpty) {
            assert(s.segments.map(_.n).sum == s.files.size,
              s"trial $trial v$v segment counts don't cover the set")
            // (2) any predicate split partitions the file set
            val half = s.segments.zipWithIndex
              .filter(_._2 % 2 == 0).map(_._1.name).toSet
            val a = LakeLog.snapshotAtPruned(dir, v, None,
              r => half.contains(r.name)).files.toSet
            val b = LakeLog.snapshotAtPruned(dir, v, None,
              r => !half.contains(r.name)).files.toSet
            assert((a & b).isEmpty && (a | b) == s.files.toSet,
              s"trial $trial v$v segments are not a partition")
            // (3) tuple-summary soundness for a random target tuple
            val t = tuples(rnd.nextInt(3)).get
            val pruned = LakeLog.snapshotAtPruned(dir, v, None,
              r => r.tuples.forall(_.contains(t))).files.toSet
            val carrying = model.collect {
              case (f, Some(tt)) if tt == t => f
            }.toSet
            assert(carrying.subsetOf(pruned),
              s"trial $trial v$v summary pruning dropped carriers of $t")
          }
        }

        (1 to 10 + rnd.nextInt(6)).foreach { _ =>
          rnd.nextInt(10) match {
            case k if k <= 4 => // append 1..5
              val fs = freshFiles(1 + rnd.nextInt(5))
              val withT = fs.map(f => f -> tupleOf()).toMap
              val segsBefore = segFiles(dir)
              val treeBefore = head.segments.nonEmpty
              head = LakeLog.commit(dir, s"append", fs, Seq.empty,
                fs.size.toLong,
                addedParts = withT.collect { case (f, Some(t)) => f -> t })
              live ++= withT
              history += head.version -> live
              // (4) O(delta): with a tree parent, an append writes at
              // most ceil(added/threshold) sidecars
              if (treeBefore && head.segments.nonEmpty) {
                val newSegs = (segFiles(dir) -- segsBefore).size
                val cap = (fs.size + Threshold - 1) / Threshold
                assert(newSegs <= cap,
                  s"trial $trial append of ${fs.size} wrote $newSegs " +
                    s"segments (cap $cap)")
              }
            case 5 | 6 if live.nonEmpty => // replace
              val removed = rnd.shuffle(live.keys.toList)
                .take(1 + rnd.nextInt(math.min(4, live.size)))
              val added = freshFiles(rnd.nextInt(3))
              val withT = added.map(f => f -> tupleOf()).toMap
              head = LakeLog.commit(dir, "replace", added, removed, 0L,
                addedParts = withT.collect { case (f, Some(t)) => f -> t })
              live = live -- removed ++ withT
              history += head.version -> live
            case 7 if history.size > 1 => // rollback
              val target = history.keys.toVector(
                rnd.nextInt(history.size))
              head = LakeLog.snapshotAt(dir,
                LakeLog.rollback(dir, target).version)
              live = history(target)
              history += head.version -> live
            case 8 => // expire
              val keep = 1 + rnd.nextInt(3)
              LakeLog.expire(dir, keep, graceMs = 0L)
              val retained = LakeLog.versions(dir).toSet
              history = history.view.filterKeys(retained).toMap
              // (5) every retained version still materializes, and no
              // orphan segments survive the sweep
              val referenced = retained.flatMap(v =>
                LakeLog.snapshotAt(dir, v).segments.map(_.name))
              assert(segFiles(dir) == referenced,
                s"trial $trial expire left orphan segments: " +
                  s"${segFiles(dir) -- referenced}")
            case _ => () // no-op tick
          }
          history.foreach { case (v, m) => checkVersion(v, m) }
        }
      }
    } finally prev match {
      case Some(v) =>
        sys.props("graft.lake.manifest.inline.threshold") = v
      case None =>
        sys.props.remove("graft.lake.manifest.inline.threshold")
    }
  }
}
