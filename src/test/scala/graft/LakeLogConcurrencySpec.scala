package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.{Failure, Success, Try}

import graft.sources.dsv2.LakeLog

/** The snapshot log under REAL concurrency — many JVM threads racing
  * the same optimistic-commit loop. The log is two filesystem
  * primitives, so this is a pure driver-contract test (the shared
  * session only supplies the lake handle's Hadoop conf).
  * (The 100 TB relevance: on a cluster, concurrent writers are separate
  * DRIVERS hitting shared storage; rename-without-overwrite is the only
  * arbitration. These tests are that arbitration, minus the network.)
  */
class LakeLogConcurrencySpec extends SparkSpec {

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-logc").toString
    new java.io.File(d).mkdirs()
    d
  }

  test("32 racing appenders all land: contiguous versions, every file " +
       "in the final manifest, per-commit deltas disjoint") {
    val dir = freshDir()
    LakeLog.commit(dir, "create", Seq.empty, Seq.empty, 0L)
    val n = 32
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = (0 until n).map { i =>
      pool.submit[Try[Unit]](() => {
        start.await()
        Try { LakeLog.commit(dir, "append", Seq(f"f$i%03d.parquet"),
          Seq.empty, 1L); () }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    results.map(_.get()).foreach {
      case Success(_) => ()
      case Failure(e) => fail(s"an append lost permanently: $e")
    }
    val vs = LakeLog.versions(dir)
    assert(vs == (0L to n.toLong), s"non-contiguous versions: $vs")
    val head = LakeLog.current(dir).get
    assert(head.files.size == n, s"lost files: ${head.files.size}")
    assert(head.files.toSet ==
      (0 until n).map(i => f"f$i%03d.parquet").toSet)
    // each version's delta is exactly one file, and no file twice
    val added = vs.tail.flatMap(v => LakeLog.snapshotAt(dir, v).added)
    assert(added.size == n && added.distinct.size == n)
    // commit times strictly increase — timestamp travel stays total
    val times = vs.map(LakeLog.snapshotAt(dir, _).timestampMs)
    assert(times == times.sorted && times.distinct.size == times.size)
  }

  test("racing replaces of the SAME file: exactly one wins, every loser " +
       "conflicts loudly, and the winner's rewrite is the head") {
    val dir = freshDir()
    LakeLog.commit(dir, "append", Seq("victim.parquet", "other.parquet"),
      Seq.empty, 2L)
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = (0 until n).map { i =>
      pool.submit[Try[String]](() => {
        start.await()
        Try {
          LakeLog.commit(dir, "replace", Seq(s"rewrite$i.parquet"),
            Seq("victim.parquet"), 1L)
          s"rewrite$i.parquet"
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val (winners, losers) = results.map(_.get()).partition(_.isSuccess)
    assert(winners.size == 1,
      s"exactly one replace may win, got ${winners.size}")
    losers.foreach { case Failure(e) =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException],
        s"loser must conflict, not corrupt: $e")
    case _ => ()
    }
    val head = LakeLog.current(dir).get
    val won = winners.head.get
    assert(head.files.toSet == Set("other.parquet", won),
      s"head must hold the single winner: ${head.files}")
  }

  test("appenders racing a replacer never resurrect the replaced file") {
    val dir = freshDir()
    LakeLog.commit(dir, "append", Seq("old.parquet"), Seq.empty, 1L)
    val pool = Executors.newFixedThreadPool(9)
    val start = new CountDownLatch(1)
    val appends = (0 until 8).map { i =>
      pool.submit[Try[Unit]](() => {
        start.await()
        Try { LakeLog.commit(dir, "append", Seq(s"a$i.parquet"),
          Seq.empty, 1L); () }
      })
    }
    val replace = pool.submit[Try[Unit]](() => {
      start.await()
      Try { LakeLog.commit(dir, "replace", Seq("new.parquet"),
        Seq("old.parquet"), 1L); () }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    (appends :+ replace).map(_.get()).foreach(r => assert(r.isSuccess, r))
    val head = LakeLog.current(dir).get
    assert(!head.files.contains("old.parquet"), "replaced file resurrected")
    assert(head.files.contains("new.parquet"))
    assert(head.files.size == 9, s"an append vanished: ${head.files}")
  }
}
