package graft.sources.dsv2

import java.util.{ArrayList, HashMap => JHashMap, List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}

/** The snapshot log that turns [[LakeTable]] from a directory of files
  * into a VERSIONED table — the transaction-log design every production
  * lakehouse format (Delta, Iceberg, Hudi) converges on, built here from
  * first principles on two filesystem primitives:
  *
  *   - a manifest per version (`_log/v%020d.json`) listing the COMPLETE
  *     data-file set of that snapshot plus the commit's added/removed
  *     delta — O(1) snapshot resolution, no log replay;
  *   - atomic publish via rename-without-overwrite: a commit stages its
  *     manifest under a temp name and renames to `v<N>.json`; two racing
  *     writers both targeting version N can't both win the rename, and
  *     the loser re-reads the new head and retries (optimistic
  *     concurrency). Appends always merge; a replace (copy-on-write DML)
  *     whose covered files are no longer current CONFLICTS and fails
  *     loud rather than resurrecting rows.
  *
  * Replaced data files are retained on disk (dropped from the manifest
  * only) — that is what makes time travel, rollback, version-diff CDC,
  * and the streaming source possible; [[LakeLog.expire]] is the explicit
  * vacuum that trades history for space.
  *
  * Scale notes: a manifest is one small JSON object read once per query
  * plan — driver-side metadata, never shipped to executors; at 100 TB
  * the file LIST is the scaling dimension (millions of entries), and the
  * flat complete-set encoding here would graduate to Iceberg-style
  * manifest trees, but every contract (atomic rename, complete-set
  * semantics, conflict detection) carries over unchanged.
  *
  * Unlogged directories interop both ways: reads fall back to a raw
  * directory listing, and the first logged commit BOOTSTRAPS a v0
  * manifest from that listing, upgrading the table in place.
  */
object LakeLog {
  private val mapper = new ObjectMapper()

  /** Test instrumentation: manifest reads and `_log` directory listings
    * performed since process start. Specs pin head resolution at O(1)
    * of both after the head hint exists; production code never reads
    * these.
    */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong()
  val logListings = new java.util.concurrent.atomic.AtomicLong()

  /** Test instrumentation for the manifest TREE: segment files read /
    * bytes read since process start. The bounded-manifest-I/O pins
    * (partition-filtered plans on many-file tables read only matching
    * segments) count these.
    */
  val segmentReads = new java.util.concurrent.atomic.AtomicLong()
  val segmentBytes = new java.util.concurrent.atomic.AtomicLong()

  /** Files-per-manifest ceiling for the FLAT encoding: a snapshot
    * listing more files than this graduates to the manifest tree
    * (segment sidecars + a segment list). Production default keeps
    * small tables flat (one read, no indirection); tests lower it via
    * the system property to exercise the tree at fixture scale.
    */
  def inlineThreshold: Int =
    sys.props.get("graft.lake.manifest.inline.threshold").map(_.toInt)
      .getOrElse(2048)

  /** Distinct-tuple ceiling for a segment's prune summary: past this
    * the summary is dropped (segment always loaded) rather than grown
    * unboundedly — commits write per-partition files, so real segments
    * stay far under it.
    */
  private val maxSummaryTuples = 64

  private def segDir(dir: String): Path = new Path(logDir(dir), "seg")

  /** Immutable-segment content cache (name+table-keyed): segments never
    * change once written, so commits can compute reuse and repeated
    * plans can skip re-reads without any invalidation protocol. Bounded
    * LRU — eviction only costs a re-read.
    */
  private val segCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String,
          (Seq[String], Map[String, LakeStats.FileStats],
            Map[String, Seq[String]])](128, 0.75f, true) {
        override def removeEldestEntry(
            e: JMap.Entry[String, (Seq[String],
              Map[String, LakeStats.FileStats],
              Map[String, Seq[String]])]): Boolean =
          // overridable so bounded-I/O pins can model the 100 TB
          // regime (more segments than the cache holds) on small
          // fixtures; production default 4096
          size() > Integer.getInteger("graft.lake.segcache.max", 4096)
      })

  /** One committed table version. `files` is the complete data-file set
    * (names relative to the table dir); `added`/`removed` are this
    * commit's delta against its parent.
    *
    * `dvs` is the complete DELETION-VECTOR map of the snapshot: data
    * file → the DV sidecar files whose position sets are subtracted at
    * read time (merge-on-read DML — a DELETE/MERGE writes positions
    * instead of rewriting files; see [[graft.sources.dsv2.LakeTable]]'s
    * `write.mode=merge-on-read`). Complete-set semantics like `files`:
    * each manifest carries the full map, so time travel to any version
    * applies exactly that version's deletes. A copy-on-write replace
    * that removes a data file drops its DVs with it.
    *
    * `dataChange=false` marks a commit that rearranges bytes without
    * changing table contents (compaction, clustering) — incremental
    * consumers (the streaming source, CDC) skip it wholesale.
    *
    * `updatePre`/`updatePost` are the commit-scoped UPDATE-PAIRING
    * annotation a merge-on-read UPDATE/MERGE leaves for the change
    * feed (Delta CDF's `_change_data` idea folded into the manifest):
    * `updatePre` names the subset of this commit's `dvAdded` sidecars
    * whose positions are pre-images of updated rows (vs plain
    * deletes), `updatePost` the subset of `added` files holding the
    * corresponding post-image rows. Pure CDC metadata — table state
    * (files/dvs) is complete without it, old manifests read as empty
    * (their events keep the unpaired insert/delete labels).
    *
    * `stats` is the complete per-file column-statistics map (data file
    * → [[LakeStats.FileStats]]), harvested at commit time for this
    * commit's added files and carried forward complete-set like
    * `files`, so planning prunes whole files from manifest metadata
    * without opening their footers (see [[LakeStats]]). Files without
    * an entry (pre-stats vintages, bootstrap sweeps) plan via their
    * footer as before.
    *
    * `parts` is the complete per-file PARTITION-TUPLE map of hidden
    * partitioning ([[LakePartitioning]]): data file → its transform
    * values in spec order (encoded slots). Complete-set like `files`;
    * tuple-less entries (unpartitioned tables, legacy vintages) are
    * simply absent — planners keep such files conservatively.
    */
  final case class Snapshot(version: Long, timestampMs: Long,
                            operation: String, files: Seq[String],
                            added: Seq[String], removed: Seq[String],
                            addedRows: Long, dataChange: Boolean = true,
                            dvs: Map[String, Seq[String]] = Map.empty,
                            dvAdded: Map[String, Seq[String]] = Map.empty,
                            stats: Map[String, LakeStats.FileStats] =
                              Map.empty,
                            updatePre: Map[String, Seq[String]] = Map.empty,
                            updatePost: Seq[String] = Seq.empty,
                            parts: Map[String, Seq[String]] = Map.empty,
                            segments: Seq[SegRef] = Seq.empty,
                            // live EQUALITY-DELETE files ([[LakeEq]]):
                            // each applies to data files with a KNOWN
                            // add version < its commit version. Carried
                            // forward commit to commit (O(#deletes)
                            // manifest space, never O(files)); retired
                            // only by rewrite_deletes / restored
                            // verbatim by rollback (eqsOverride).
                            eqs: Seq[LakeEq.EqRef] = Seq.empty)

  /** One MANIFEST-TREE segment reference: an immutable, content-
    * addressed sidecar (`_log/seg/<uuid>.json`) holding a slice of the
    * snapshot's per-file metadata (names + stats + tuples). Manifests
    * past [[inlineThreshold]] files store a segment LIST instead of the
    * flat per-file maps — Iceberg's manifest-list/manifest-file split:
    *
    *   - commits REUSE every parent segment untouched by the delta, so
    *     a 10-file append to a 10⁶-file table writes one new segment +
    *     a small manifest, not a 10⁶-entry JSON (O(delta) commit I/O);
    *   - `tuples` summarizes the segment's distinct partition tuples
    *     (when all files carry one and few are distinct — the normal
    *     shape, since commits write per-partition files), so a
    *     partition-filtered plan loads ONLY matching segments
    *     ([[snapshotPruned]]); None = mixed/unknown, always loaded.
    *
    * Segments are immutable: once written they never change, so
    * version history shares them structurally and a process-wide cache
    * serves re-reads.
    */
  final case class SegRef(name: String, n: Int,
                          tuples: Option[Seq[Seq[String]]],
                          lo: Option[String] = None,
                          hi: Option[String] = None)

  def logDir(dir: String): Path = new Path(dir, "_log")

  /** A branch is a WRITABLE ref: its own manifest sequence under
    * `_log/branches/<name>/`, seeded with a copy of the fork-point
    * manifest (complete-file-set semantics make forking free). Data
    * files of branch commits live in the same table dir, invisible to
    * main until [[fastForward]].
    */
  def branchLogDir(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch names are [A-Za-z0-9._-]+, got '$name'")
    // an all-digit branch would shadow numeric snapshot ids in
    // VERSION AS OF (branch resolution runs first) — reject at creation
    require(!name.forall(_.isDigit),
      s"branch name '$name' is all digits — it would shadow numeric " +
        "snapshot-id resolution in VERSION AS OF")
    new Path(logDir(dir), s"branches/$name")
  }

  private def ld(dir: String, branch: Option[String]): Path =
    branch.fold(logDir(dir))(branchLogDir(dir, _))

  private def manifestName(v: Long): String = f"v$v%020d.json"

  private val ManifestRe = "^v(\\d{20})\\.json$".r

  /** Committed versions present in the (main or branch) log, ascending. */
  def versions(dir: String, branch: Option[String] = None)(
      implicit lfs: LakeFs): Seq[Long] = {
    val fs = lfs.fs(dir)
    val d = ld(dir, branch)
    logListings.incrementAndGet()
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.flatMap(s =>
      ManifestRe.findFirstMatchIn(s.getPath.getName).map(_.group(1).toLong))
      .sorted
  }

  def isLogged(dir: String)(
      implicit lfs: LakeFs): Boolean = versions(dir).nonEmpty

  /** Start of the CONTIGUOUS version suffix ending at head — the oldest
    * version from which every later manifest is still retained.
    * [[expire]] keeps TAGGED snapshots older than the retention tail,
    * which leaves holes: a tagged v2 on a table whose tail is v8..v10
    * yields versions {2, 8, 9, 10}. The tag serves pinned time travel,
    * but an incremental replay cannot START there — v3..v7 are
    * vacuumed — so every "earliest usable version" decision (streaming
    * initial offset, backfill cursor validation) anchors here, not at
    * the global minimum.
    */
  def contiguousStart(dir: String)(implicit lfs: LakeFs): Option[Long] = {
    val vs = versions(dir)
    if (vs.isEmpty) None
    else {
      var i = vs.length - 1
      while (i > 0 && vs(i - 1) == vs(i) - 1) i -= 1
      Some(vs(i))
    }
  }

  def snapshotAt(dir: String, version: Long,
                 branch: Option[String] = None)(
      implicit lfs: LakeFs = LakeFs.active()): Snapshot =
    snapshotAtPruned(dir, version, branch, _ => true)

  /** [[snapshotAt]] with SEGMENT-LEVEL pruning: on a manifest-tree
    * snapshot, only segments `keepSeg` admits are loaded — the returned
    * snapshot's per-file maps (files/stats/parts) cover exactly those
    * segments (plus every file of summary-less segments, loaded
    * conservatively). The caller owns soundness of the predicate: a
    * partition-filtered plan passes the same tuple judgment file-level
    * pruning would apply, so a dropped segment's files were provably
    * excluded anyway. Flat manifests ignore the predicate (one read,
    * complete view).
    */
  def snapshotAtPruned(dir: String, version: Long,
                       branch: Option[String],
                       keepSeg: SegRef => Boolean)(
      implicit lfs: LakeFs): Snapshot = {
    val fs = lfs.fs(dir)
    val p = new Path(ld(dir, branch), manifestName(version))
    require(fs.exists(p),
      s"no snapshot v$version in $dir${branch.fold("")(b => s"@$b")} " +
        s"(expired or never committed); " +
        s"available: ${versions(dir, branch).mkString(", ")}")
    readManifest(fs, dir, p, keepSeg)
  }

  /** Head resolution — the per-query-plan hot path. The naive form
    * LISTS the whole `_log` dir (O(versions) directory entries on
    * every plan; a long-lived table accumulates 10⁵+ manifests), so
    * every MAIN commit also refreshes a tiny `_head.json` HINT (the
    * `_last_checkpoint` idea from Delta, possible here in its smallest
    * form because every manifest is already a self-contained complete
    * snapshot — there is nothing to compact, only the POINTER to
    * maintain). Resolution reads the hint and probes FORWARD with
    * existence checks until the first missing version: O(1 + commits
    * since the hint was written), which is O(1) in practice because the
    * hint is refreshed per commit. The hint is best-effort — stale,
    * missing, or unreadable hints (or a hint whose manifest expired,
    * impossible under per-commit refresh but handled anyway) fall back
    * to the listing; correctness never depends on it. Branch heads use
    * the listing (branches are short-lived audit refs).
    */
  def current(dir: String, branch: Option[String] = None)(
      implicit lfs: LakeFs = LakeFs.active()): Option[Snapshot] =
    currentPruned(dir, branch, _ => true)

  /** [[current]] with segment-level pruning (see [[snapshotAtPruned]]). */
  def currentPruned(dir: String, branch: Option[String],
                    keepSeg: SegRef => Boolean)(
      implicit lfs: LakeFs): Option[Snapshot] =
    headVersion(dir, branch).map(snapshotAtPruned(dir, _, branch, keepSeg))

  /** DELTA-shaped snapshot read: the commit's inline fields (added/
    * removed/dvs/dvAdded/...) complete, but per-file metadata (stats/
    * tuples) loaded only for segments whose NAME RANGE intersects this
    * commit's own files — the shape CDC planning needs. On a tree
    * table a commit's files land in one fresh segment, so planning a
    * delta version reads O(1) segments instead of O(table). Flat
    * manifests return the full snapshot (one read either way).
    */
  def snapshotAtDelta(dir: String, version: Long,
                      branch: Option[String] = None)(
      implicit lfs: LakeFs): Snapshot = {
    val skeleton = snapshotAtPruned(dir, version, branch, _ => false)
    // a flat manifest's "skeleton" IS the complete snapshot (keepSeg
    // only applies to segment lists) — one read, done
    if (skeleton.segments.isEmpty) return skeleton
    val wanted = (skeleton.added ++ skeleton.dvAdded.keys).toSet
    if (wanted.isEmpty) return skeleton
    // a commit's ADDED files live exactly in the segments it CREATED
    // (kept parent segments hold only parent files, and commits dedupe
    // their added set against the base) — diffing the parent's segment
    // list identifies them without any name heuristics. UUID file
    // names make pure range pruning weak, so the range check only has
    // to cover dvAdded targets (pre-existing files) and the
    // expired-parent fallback.
    val parentRefs: Set[String] =
      if (version <= 0) Set.empty
      else
        try snapshotAtPruned(dir, version - 1, branch, _ => false)
          .segments.map(_.name).toSet
        catch {
          // ONLY the expiry signals degrade to name-range pruning (the
          // result stays conservative); genuine corruption of a
          // still-retained parent must surface, not be masked as
          // "expired" (r12 advice). A mid-read vacuum race surfaces as
          // an IOException (readManifest's retry exhausts, or a
          // SegmentMissingException) — disambiguate by probing whether
          // the parent manifest still exists: gone = expiry, present =
          // real corruption.
          case _: IllegalArgumentException => Set.empty // expired
          case e: java.io.IOException =>
            if (!lfs.fs(dir).exists(new Path(ld(dir, branch),
                manifestName(version - 1)))) Set.empty // vacuum race
            else throw e
        }
    val dvWanted = skeleton.dvAdded.keySet
    val rangeWanted = if (parentRefs.isEmpty) wanted else dvWanted
    snapshotAtPruned(dir, version, branch, r =>
      (parentRefs.nonEmpty && !parentRefs.contains(r.name)) ||
        (rangeWanted.nonEmpty && ((r.lo, r.hi) match {
          case (Some(lo), Some(hi)) =>
            rangeWanted.exists(n => n >= lo && n <= hi)
          case _ => true // summary-less: load conservatively
        })))
  }

  /** Head VERSION without materializing the snapshot — what callers
    * that only range over versions (CDC planning) should use on a
    * tree table (a full `current()` loads every segment).
    */
  def currentVersion(dir: String)(
      implicit lfs: LakeFs = LakeFs.active()): Option[Long] =
    headVersion(dir, None)

  /** Head VERSION resolution (hint + forward probe / listing fallback)
    * without reading any manifest.
    */
  private def headVersion(dir: String,
                          branch: Option[String])(
      implicit lfs: LakeFs): Option[Long] =
    branch match {
      case Some(_) => versions(dir, branch).lastOption
      case None =>
        headHint(dir) match {
          case Some(h) =>
            val fs = lfs.fs(dir)
            if (!fs.exists(new Path(logDir(dir), manifestName(h))))
              versions(dir).lastOption // stale hint
            else {
              var v = h
              while (fs.exists(new Path(logDir(dir), manifestName(v + 1))))
                v += 1
              Some(v)
            }
          case None => versions(dir).lastOption
        }
    }

  /** version → operation string for every retained manifest of a REF
    * (main or a branch — r13 verdict item 7 extended the index per
    * branch, so branch-heavy WAP workflows keep O(new-versions)
    * planning too), served from a lazily-extended hint (`_ops.json`
    * in the ref's own log dir — the epoch-ref pattern): a call reads
    * the hint, loads only manifests ABOVE its high-water as SKELETONS
    * (zero segment I/O), and rewrites the hint covering the new head.
    * Amortized manifest reads per call = new versions since the last
    * call — what lets [[LakeTx.consistentView]], [[expire]]'s marker
    * scan, and [[lastCommittedEpoch]]'s branch fallback plan cuts on a
    * long history without touching every manifest. The hint is
    * derived data over immutable manifests: racing writers converge,
    * a torn/missing hint just means a full (skeleton) rescan, entries
    * for expired versions drop out on rewrite, and a dropped branch
    * takes its hint with its log dir.
    */
  def operations(dir: String,
                 branch: Option[String] = None)(
      implicit lfs: LakeFs): Seq[(Long, String)] = {
    val fs = lfs.fs(dir)
    val vs = versions(dir, branch)
    if (vs.isEmpty) return Seq.empty
    val p = new Path(ld(dir, branch), "_ops.json")
    val cached: Map[Long, String] =
      try {
        if (!fs.exists(p)) Map.empty
        else {
          val bytes = lfs.read(p)
          mapper.readValue(bytes, classOf[JMap[String, Object]])
            .asScala.map { case (k, v) =>
              k.toLong -> String.valueOf(v) }.toMap
        }
      } catch { case _: Exception => Map.empty } // torn: full rescan
    var fresh = 0
    val entries = vs.map { v =>
      v -> cached.getOrElse(v, {
        fresh += 1
        snapshotAtPruned(dir, v, branch, _ => false).operation
      })
    }
    // rewrite when anything changed: new versions appended or expired
    // ones dropped (keeps the hint from growing past retention)
    if (fresh > 0 || cached.size != entries.size)
      try {
        val m = new JHashMap[String, Object]()
        entries.foreach { case (v, op) => m.put(v.toString, op) }
        lfs.replace(p, mapper.writeValueAsBytes(m))
      } catch { case _: Exception => () } // best-effort: derived data
    entries
  }

  /** History-graft marker (`_log/_histgraft-<v>.json`): the highest MAIN
    * version at which non-linear history was introduced — a rollback
    * restoring a past state, or a fast_forward publishing branch
    * commits. Consumers that ride "every live row passed through an
    * enforced write after time T" guarantees (the CHECK-constraint
    * contradiction prune) compare their validation watermark against
    * it. Written BEFORE the grafting commit publishes, so a crash
    * between the two only over-disarms (the marker claims a graft
    * that never landed — conservative); an unreadable marker reports
    * Long.MaxValue for the same reason. Missing = no grafts ever.
    * Markers are monotonically-NAMED write-once files; readers take the
    * max over a listing, so an old marker is never invisible while a
    * newer one lands.
    */
  private val HistGraftPrefix = "_histgraft-"

  private def histGraftVersionedPath(dir: String, v: Long): Path =
    new Path(logDir(dir), f"$HistGraftPrefix$v%020d.json")

  def historyGraftVersion(dir: String)(implicit lfs: LakeFs): Option[Long] = {
    val fs = lfs.fs(dir)
    try {
      val ld0 = logDir(dir)
      val versioned: Seq[Long] =
        if (!fs.exists(ld0)) Seq.empty
        else fs.listStatus(ld0).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith(HistGraftPrefix) && n.endsWith(".json"))
          .map(_.stripPrefix(HistGraftPrefix).stripSuffix(".json"))
          .map(s => s.toLongOption.getOrElse(Long.MaxValue)) // torn name:
          // conservative (claims a graft newer than any watermark)
      versioned.maxOption
    } catch { case _: Exception => Some(Long.MaxValue) } // conservative
  }

  /** Record a graft at `version` (monotonic max); throws on failure —
    * the caller must NOT publish the grafting commit without the
    * marker, or a constraint prune could serve wrong answers. The new
    * marker is a write-once versioned file put IN PLACE before any
    * older markers are (best-effort) cleaned up, so concurrent readers
    * always see at least one marker ≥ the pre-existing maximum.
    */
  private[graft] def noteHistoryGraft(dir: String, version: Long)(
      implicit lfs: LakeFs): Unit = {
    val fs = lfs.fs(dir)
    val cur = historyGraftVersion(dir).getOrElse(-1L)
    if (cur >= version && cur != Long.MaxValue) return
    fs.mkdirs(logDir(dir))
    val noted =
      math.max(version, if (cur == Long.MaxValue) version else cur)
    val dest = histGraftVersionedPath(dir, noted)
    // a concurrent graft may have placed the same versioned name — that
    // marker serves identically; anything else fails loud
    if (!fs.exists(dest) && !lfs.create(dest, mapper.writeValueAsBytes(
          java.util.Map.of("version", java.lang.Long.valueOf(noted)))) &&
        !fs.exists(dest))
      throw new java.io.IOException(
        s"failed to record history graft for $dir")
    // the new marker is visible: retiring older ones is pure cleanup —
    // failures are harmless because readers take the max over whatever
    // remains
    try {
      fs.listStatus(logDir(dir)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(HistGraftPrefix) && n.endsWith(".json") &&
            n != dest.getName &&
            n.stripPrefix(HistGraftPrefix).stripSuffix(".json")
              .toLongOption.exists(_ < noted))
          fs.delete(st.getPath, false)
      }
    } catch { case _: Exception => () }
  }

  private def headHintPath(dir: String): Path =
    new Path(logDir(dir), "_head.json")

  private def headHint(dir: String)(implicit lfs: LakeFs): Option[Long] =
    try {
      val fs = lfs.fs(dir)
      val p = headHintPath(dir)
      if (!fs.exists(p)) None
      else {
        val bytes = lfs.read(p)
        Some(mapper.readValue(bytes, classOf[JMap[String, Object]])
          .get("version").asInstanceOf[Number].longValue())
      }
    } catch { case _: Exception => None } // torn/unreadable: fall back

  /** Best-effort post-commit hint refresh; racing writers may land out
    * of order (a LOWER hint just means an extra probe or two), and any
    * failure is swallowed — the listing fallback stays authoritative.
    */
  private def writeHeadHint(dir: String, version: Long)(
      implicit lfs: LakeFs): Unit =
    try lfs.replace(headHintPath(dir), mapper.writeValueAsBytes(
      java.util.Map.of("version", java.lang.Long.valueOf(version))))
    catch { case _: Exception => () }

  /** Latest snapshot whose commit time is <= `tsMs` (timestamp travel). */
  def snapshotAsOfTime(dir: String, tsMs: Long)(
      implicit lfs: LakeFs): Snapshot = {
    val all = versions(dir).map(snapshotAt(dir, _))
    all.filter(_.timestampMs <= tsMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot in $dir at or before timestamp $tsMs " +
          s"(earliest: ${all.headOption.map(_.timestampMs)})"))
  }

  private def readManifest(fs: FileSystem, dir: String, p: Path,
                           keepSeg: SegRef => Boolean = _ => true)
      : Snapshot = {
    // Manifests are write-once, but the PUBLISH rename is not atomic on
    // every filesystem w.r.t. readers — Hadoop's ChecksumFileSystem
    // moves the data file and its .crc sidecar in two steps, so a
    // reader racing the rename can see a transient ChecksumException
    // (caught live in LakeLogConcurrencySpec under 32-way commit
    // contention). Any read error on an existing manifest is therefore
    // transient; a bounded retry converges once the rename completes.
    // EXCEPTION: a segment sidecar that is MISSING is permanent tree
    // corruption (segments publish before the manifest that references
    // them, so no rename race can hide one) — fail in one attempt,
    // naming the segment, instead of burning 50 retries and reporting
    // the manifest as the unreadable file.
    var lastErr: java.io.IOException = null
    var attempt = 0
    while (attempt < 50) {
      attempt += 1
      try return readManifestOnce(fs, dir, p, keepSeg)
      catch {
        case e: SegmentMissingException => throw e
        case e: java.io.IOException =>
          lastErr = e
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(10) + 1)
      }
    }
    throw new java.io.IOException(
      s"manifest $p unreadable after $attempt attempts", lastErr)
  }

  /** A manifest references a segment sidecar that no longer exists —
    * external deletion or disk corruption, never a publish race (the
    * commit protocol writes all segments before renaming the manifest
    * into place). Non-retryable; carries the failing segment path so
    * tree corruption is diagnosable from the first error.
    */
  final class SegmentMissingException(p: Path,
                                      cause: java.io.FileNotFoundException)
    extends java.io.IOException(
      s"segment sidecar $p referenced by a published manifest is " +
        "missing (tree corruption or external deletion)", cause)

  private def readManifestOnce(fs: FileSystem, dir: String, p: Path,
                               keepSeg: SegRef => Boolean): Snapshot = {
    manifestReads.incrementAndGet()
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val m = mapper.readValue(bytes, classOf[JMap[String, Object]])
    def strs(k: String): Seq[String] = m.get(k) match {
      case l: JList[_] => l.asScala.map(_.toString).toSeq
      case _           => Seq.empty
    }
    def lng(k: String): Long = m.get(k) match {
      case n: Number => n.longValue()
      case _         => 0L
    }
    val dataChange = m.get("dataChange") match {
      case b: java.lang.Boolean => b.booleanValue()
      case _                    => true // pre-flag manifests: assume data
    }
    def dvMap(k: String): Map[String, Seq[String]] = m.get(k) match {
      case dm: JMap[_, _] => dm.asScala.map { case (key, v) =>
        String.valueOf(key) -> (v match {
          case l: JList[_] => l.asScala.map(_.toString).toSeq
          case _           => Seq.empty[String]
        })
      }.toMap
      case _ => Map.empty // pre-DV manifests
    }
    val base = Snapshot(lng("version"), lng("timestampMs"),
      String.valueOf(m.get("operation")), strs("files"), strs("added"),
      strs("removed"), lng("addedRows"), dataChange,
      dvMap("dvs"), dvMap("dvAdded"),
      LakeStats.fromJson(m.get("stats")), // pre-stats manifests: empty
      dvMap("updatePre"), strs("updatePost"), // pre-pairing: empty
      dvMap("parts"), // pre-partitioning manifests: empty
      eqs = LakeEq.fromJson(m.get("eqs"))) // pre-eq manifests: empty
    m.get("segments") match {
      case l: JList[_] =>
        // manifest tree: the flat per-file maps live in segment
        // sidecars; materialize the admitted ones
        val refs: Seq[SegRef] = l.asScala.toSeq.map { e =>
          val sm = e.asInstanceOf[JMap[String, Object]]
          val tuples = sm.get("tuples") match {
            case tl: JList[_] => Some(tl.asScala.toSeq.map {
              case t: JList[_] => t.asScala.map(_.toString).toSeq
              case other       => Seq(String.valueOf(other))
            })
            case _ => None
          }
          SegRef(String.valueOf(sm.get("name")),
            sm.get("n").asInstanceOf[Number].intValue(), tuples,
            Option(sm.get("lo")).map(String.valueOf),
            Option(sm.get("hi")).map(String.valueOf))
        }
        var files = Vector.empty[String]
        var stats = Map.empty[String, LakeStats.FileStats]
        var parts = Map.empty[String, Seq[String]]
        refs.filter(keepSeg).foreach { r =>
          val (f, st, pt) = readSegment(fs, dir, r.name)
          files ++= f; stats ++= st; parts ++= pt
        }
        base.copy(files = files.sorted, stats = stats, parts = parts,
          segments = refs)
      case _ => base
    }
  }

  /** Load one immutable segment sidecar (cache-first; a miss reads and
    * counts toward [[segmentReads]]/[[segmentBytes]]).
    */
  private def readSegment(fs: FileSystem, dir: String, name: String)
      : (Seq[String], Map[String, LakeStats.FileStats],
          Map[String, Seq[String]]) = {
    val p = new Path(segDir(dir), name)
    val key = p.toUri.toString
    val cached = segCache.get(key)
    if (cached != null) return cached
    segmentReads.incrementAndGet()
    val in =
      try fs.open(p)
      catch { case e: java.io.FileNotFoundException =>
        throw new SegmentMissingException(p, e) }
    val bytes = try in.readAllBytes() finally in.close()
    segmentBytes.addAndGet(bytes.length.toLong)
    val m = mapper.readValue(bytes, classOf[JMap[String, Object]])
    val files = m.get("files") match {
      case l: JList[_] => l.asScala.map(_.toString).toSeq
      case _           => Seq.empty
    }
    val parts = m.get("parts") match {
      case pm: JMap[_, _] => pm.asScala.map { case (k, v) =>
        String.valueOf(k) -> (v match {
          case l: JList[_] => l.asScala.map(_.toString).toSeq
          case _           => Seq.empty[String]
        })
      }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    val res = (files, LakeStats.fromJson(m.get("stats")), parts)
    segCache.put(key, res)
    res
  }

  /** Drop the immutable-segment cache — test instrumentation so
    * bounded-I/O pins measure real reads.
    */
  def clearSegmentCache(): Unit = segCache.clear()

  /** Serialize `s` to `tmp`. Past [[inlineThreshold]] files the
    * per-file maps (files/stats/parts) move into immutable segment
    * sidecars and the manifest stores the segment LIST — every parent
    * segment whose files all survive is REUSED by reference (O(delta)
    * commit I/O: a small append to a huge table writes one new segment,
    * a replace rewrites only the segments its removals touch). Returns
    * the snapshot carrying its final segment list plus the sidecar
    * paths created (the caller deletes them if the version race is
    * lost).
    */
  private def writeManifest(fs: FileSystem, dir: String, tmp: Path,
                            s: Snapshot): (Snapshot, Seq[Path]) = {
    val m = new JHashMap[String, Object]()
    m.put("version", java.lang.Long.valueOf(s.version))
    m.put("timestampMs", java.lang.Long.valueOf(s.timestampMs))
    m.put("operation", s.operation)
    def jl(xs: Seq[String]): JList[String] = {
      val l = new ArrayList[String](xs.size); xs.foreach(l.add); l
    }
    m.put("added", jl(s.added))
    m.put("removed", jl(s.removed))
    m.put("addedRows", java.lang.Long.valueOf(s.addedRows))
    m.put("dataChange", java.lang.Boolean.valueOf(s.dataChange))
    def putDvMap(k: String, dv: Map[String, Seq[String]]): Unit =
      if (dv.nonEmpty) {
        val dm = new JHashMap[String, Object]()
        dv.toSeq.sortBy(_._1).foreach { case (key, v) => dm.put(key, jl(v)) }
        m.put(k, dm)
      }
    putDvMap("dvs", s.dvs)
    putDvMap("dvAdded", s.dvAdded)
    putDvMap("updatePre", s.updatePre)
    if (s.updatePost.nonEmpty) m.put("updatePost", jl(s.updatePost))
    if (s.eqs.nonEmpty) m.put("eqs", LakeEq.toJson(s.eqs))
    val threshold = inlineThreshold
    val (result, created) =
      if (s.files.size <= threshold) {
        // flat encoding: one self-contained manifest (today's common
        // case — small tables never pay the indirection)
        m.put("files", jl(s.files))
        putDvMap("parts", s.parts)
        if (s.stats.nonEmpty) m.put("stats", LakeStats.toJson(s.stats))
        (s.copy(segments = Seq.empty), Seq.empty[Path])
      } else {
        fs.mkdirs(segDir(dir))
        val fileSet = s.files.toSet
        // reuse: a parent segment survives iff every file it lists is
        // still in the snapshot (removed files are NOT — so a segment
        // touched by a replace rewrites; an unreadable/expired segment
        // simply falls out and its files re-segment)
        val kept = s.segments.filter { r =>
          try readSegment(fs, dir, r.name)._1.forall(fileSet.contains)
          catch { case _: java.io.IOException => false }
        }
        val covered = kept.flatMap(r => readSegment(fs, dir, r.name)._1)
          .toSet
        val leftover = s.files.filterNot(covered)
        // new segments: whole partition-tuple GROUPS bin-packed to the
        // inline threshold — a chunk boundary never splits a group, so
        // a group at or past the threshold yields exactly-single-tuple
        // segments (its < cap remainder rejoins the small-group flow)
        // and a partition-filtered plan skips non-matching segments
        // without loading them. Small groups pack together in tuple
        // order; a bin flushes only when the next group overflows it,
        // so segment count stays within 2x of the unconstrained
        // chunking (and equals it for per-partition commit shapes).
        val cap = math.max(1, threshold)
        val groups: Seq[Seq[String]] = leftover
          .groupBy(f => s.parts.getOrElse(f, Seq.empty).mkString("\u0000"))
          .toSeq.sortBy(_._1).map(_._2.sorted)
        val chunksB = Seq.newBuilder[Seq[String]]
        var bin = Vector.empty[String]
        groups.foreach { g0 =>
          val full = g0.size / cap * cap
          g0.take(full).grouped(cap).foreach(chunksB += _)
          val g = g0.drop(full)
          if (g.nonEmpty) {
            if (bin.nonEmpty && bin.size + g.size > cap) {
              chunksB += bin; bin = Vector.empty
            }
            bin ++= g
          }
        }
        if (bin.nonEmpty) chunksB += bin
        val chunks = chunksB.result()
        val created = chunks.map { chunk =>
          val name = s"seg-${java.util.UUID.randomUUID()}.json"
          val sm = new JHashMap[String, Object]()
          sm.put("files", jl(chunk))
          val chunkParts = chunk.flatMap(f =>
            s.parts.get(f).map(f -> _)).toMap
          if (chunkParts.nonEmpty) {
            val pm = new JHashMap[String, Object]()
            chunkParts.toSeq.sortBy(_._1).foreach { case (k, v) =>
              pm.put(k, jl(v)) }
            sm.put("parts", pm)
          }
          val chunkStats = chunk.flatMap(f =>
            s.stats.get(f).map(f -> _)).toMap
          if (chunkStats.nonEmpty)
            sm.put("stats", LakeStats.toJson(chunkStats))
          val p = new Path(segDir(dir), name)
          val out = fs.create(p, false)
          try out.write(mapper.writeValueAsBytes(sm)) finally out.close()
          // prune summary: the distinct tuples, when every file has one
          // and few are distinct; otherwise none (always loaded)
          val tuples =
            if (chunk.forall(chunkParts.contains)) {
              val d = chunk.map(chunkParts).distinct
              if (d.size <= maxSummaryTuples) Some(d) else None
            } else None
          segCache.put(p.toUri.toString,
            (chunk, chunkStats, chunkParts))
          // name-range summary: a delta read (CDC planning a commit's
          // own files) loads only segments whose [lo, hi] intersects
          // the wanted names — O(1) segments for a fresh commit
          (SegRef(name, chunk.size, tuples,
            Some(chunk.min), Some(chunk.max)), p)
        }
        val refs = kept ++ created.map(_._1)
        val segList = new ArrayList[Object](refs.size)
        refs.foreach { r =>
          val sm = new JHashMap[String, Object]()
          sm.put("name", r.name)
          sm.put("n", java.lang.Integer.valueOf(r.n))
          r.tuples.foreach { ts =>
            val tl = new ArrayList[Object](ts.size)
            ts.foreach(t => tl.add(jl(t)))
            sm.put("tuples", tl)
          }
          r.lo.foreach(sm.put("lo", _))
          r.hi.foreach(sm.put("hi", _))
          segList.add(sm)
        }
        m.put("segments", segList)
        (s.copy(segments = refs), created.map(_._2))
      }
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(m)) finally out.close()
    (result, created)
  }

  /** Raw data-file listing (log-oblivious) — bootstrap + legacy reads. */
  def rawDataFiles(dir: String)(implicit lfs: LakeFs): Seq[String] = {
    val p = new Path(dir)
    val fs = lfs.fs(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
      .sorted
  }

  /** Commit a new version: `added` are freshly published file names,
    * `removed` the replaced ones (empty for appends). Returns the
    * committed snapshot. Retries on version races; throws
    * `ConcurrentModificationException` when a replace's covered files
    * are no longer current (another writer rewrote them first).
    */
  def commit(dir: String, operation: String, added: Seq[String],
             removed: Seq[String], addedRows: Long,
             dataChange: Boolean = true,
             branch: Option[String] = None,
             dvAdded: Map[String, Seq[String]] = Map.empty,
             updatePre: Map[String, Seq[String]] = Map.empty,
             updatePost: Seq[String] = Seq.empty,
             dedupeOnOperation: Boolean = false,
             addedParts: Map[String, Seq[String]] = Map.empty,
             dvsOverride: Option[Map[String, Seq[String]]] = None,
             // writer-built bloom filters per added file (col → base64),
             // attached to the harvested stats under field-id resolution
             addedBlooms: Map[String, Map[String, String]] = Map.empty,
             // writer-harvested exact column sums per added file
             // (col → (sum, abs-sum) decimal integer strings) — the
             // metadata-SUM/AVG facts; same attach rules as blooms
             addedSums: Map[String, Map[String, (String, String)]] =
               Map.empty,
             // writer-built KMV distinct-count sketches per added file
             // (col → base64) — the CBO column-statistics facts
             addedNdvs: Map[String, Map[String, String]] = Map.empty,
             // string (total, max) byte lengths per added file — the
             // CBO avgLen/maxLen facts
             addedLens: Map[String, Map[String, (String, String)]] =
               Map.empty,
             // writer-sampled value reservoirs per added file (col →
             // base64 doubles) — the CBO histogram facts ([[LakeHist]])
             addedHists: Map[String, Map[String, String]] = Map.empty,
             // ANALYZE backfill: full replacement FileStats for files
             // already in the snapshot (facts recomputed from their
             // immutable bytes — sums, sketches, blooms for vintages
             // that predate write-time harvesting). Entries for files
             // no longer current at commit time drop silently (their
             // stats left with them); on manifest-tree tables the
             // segments holding amended files REWRITE (stats live in
             // segments — a reused segment would serve stale facts).
             statsAmend: Map[String, LakeStats.FileStats] = Map.empty,
             // EQUALITY-DELETE files committing WITH this commit
             // ([[LakeEq]]): (sidecar name, key columns, key count) —
             // their EqRef version is stamped with THIS commit's
             // version inside the retry loop, so the sequencing rule
             // ("applies to files added strictly before me") holds
             // even after a lost version race. The same commit's own
             // added files (the upsert's post-images) get addV = the
             // same version and are therefore never affected.
             eqAdded: Seq[(String, Seq[String], Long)] = Seq.empty,
             // partition tuples of eqAdded sidecars (sidecar name ->
             // versioned slots) when the key columns determine the
             // partition — Iceberg's partition-scoped delete files;
             // absent entries commit table-wide refs
             eqTuples: Map[String, Seq[String]] = Map.empty,
             // rewrite_deletes retirement / rollback restore: replace
             // the carried eq list verbatim (like dvsOverride)
             eqsOverride: Option[Seq[LakeEq.EqRef]] = None,
             // retirement by NAME (r16): remove exactly these refs
             // from the carried list, keeping any OTHERS — including
             // refs committed by a concurrent writer after the
             // retiring rewrite planned (recomputed per retry attempt
             // against the current head, so the concurrent ref
             // survives where a verbatim eqsOverride would silently
             // wipe it)
             eqsRetire: Seq[String] = Seq.empty,
             // SEQUENCE INHERITANCE (r16, Iceberg's data-sequence-
             // number rule for rewrites): per-added-file ADD-VERSION
             // override. A dataChange=false rewrite stamps its
             // outputs with the PLAN-time version instead of the
             // commit's own, so equality refs committed while the
             // rewrite was in flight (version > plan version) still
             // attach to the rewritten rows — maintenance no longer
             // has to fail on a concurrent upsert epoch
             addedSeqs: Map[String, Long] = Map.empty,
             // rollback: the TARGET snapshot's per-file stats applied
             // verbatim for files in the next set — facts and the add
             // version are facts of the immutable bytes + the original
             // commit sequencing, and re-stamping a restored file's
             // addV would detach it from the restored eq-delete list
             // (equality-deleted rows would resurrect)
             statsRestore: Map[String, LakeStats.FileStats] = Map.empty,
             // invoked inside the retry loop IMMEDIATELY before each
             // publish attempt — the write paths pass their constraint-
             // set guard here so the enforced-set read and the manifest
             // publish are adjacent on every attempt (a check hoisted
             // before the loop is a TOCTOU: a constraint added during
             // a lost version race would let unenforced rows publish
             // on the retry). Throwing aborts the commit; the caller's
             // cleanup path removes the published-but-uncommitted files.
             prePublish: () => Unit = () => ())(implicit lfs: LakeFs)
      : Snapshot = {
    val fs = lfs.fs(dir)
    fs.mkdirs(ld(dir, branch))
    // the update-pairing annotation only ever references THIS commit's
    // own artifacts — a dangling reference would mislabel CDC events
    updatePre.foreach { case (f, vs) =>
      val own = dvAdded.getOrElse(f, Seq.empty).toSet
      require(vs.nonEmpty && vs.forall(own),
        s"updatePre for $f references sidecars outside this commit's " +
          s"dvAdded: ${vs.filterNot(own).mkString(", ")}")
    }
    require(updatePost.forall(added.contains),
      s"updatePost references files outside this commit's added set: " +
        updatePost.filterNot(added.contains).mkString(", "))
    require(addedSeqs.keySet.subsetOf(added.toSet),
      "addedSeqs names files outside this commit's added set: " +
        addedSeqs.keySet.diff(added.toSet).mkString(", "))
    // manifest stats for this commit's files: ONE local footer read per
    // added file, at write time, so no scan ever has to — hoisted out
    // of the retry loop (the added set never changes across attempts).
    // Writer-built blooms attach to their column's stats entry (keyed
    // by the file-local name the writer used, which is the footer's).
    val addedStats = LakeStats.harvest(dir, added).map { case (f, st) =>
      val bl = addedBlooms.getOrElse(f, Map.empty)
      val sm = addedSums.getOrElse(f, Map.empty)
      val nd = addedNdvs.getOrElse(f, Map.empty)
      val ln = addedLens.getOrElse(f, Map.empty)
      val hs = addedHists.getOrElse(f, Map.empty)
      if (bl.isEmpty && sm.isEmpty && nd.isEmpty && ln.isEmpty &&
          hs.isEmpty) f -> st
      else f -> st.copy(cols = st.cols.map { case (name, cs) =>
        val withBloom = bl.get(name).fold(cs)(b => cs.copy(bloom = Some(b)))
        val withSum = sm.get(name).fold(withBloom) { case (s, a) =>
          withBloom.copy(sum = Some(s), asum = Some(a))
        }
        val withNdv =
          nd.get(name).fold(withSum)(n => withSum.copy(ndv = Some(n)))
        val withLen = ln.get(name).fold(withNdv) { case (t, mx) =>
          withNdv.copy(tlen = Some(t), mlen = Some(mx))
        }
        name -> hs.get(name).fold(withLen)(h =>
          withLen.copy(hsample = Some(h)))
      })
    }
    var attempt = 0
    // The loser of a version race retries against the new head. Under
    // N-way contention a writer can lose N-1 straight races, so the cap
    // must comfortably exceed realistic writer counts, and the jittered
    // backoff de-synchronizes the herd (32 writers all re-reading the
    // head the same instant just race again; measured starving the old
    // flat 20-attempt loop in LakeLogConcurrencySpec).
    val maxAttempts = 200
    while (attempt < maxAttempts) {
      attempt += 1
      if (attempt > 1)
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(math.min(2L << math.min(attempt, 5), 50L) + 1))
      val head = current(dir, branch) match {
        case some @ Some(_) => some
        case None if branch.isDefined =>
          throw new IllegalStateException(
            s"branch '${branch.get}' does not exist in $dir — " +
              "createBranch first")
        case None =>
          // unlogged table with pre-existing files: bootstrap v0 first,
          // so history starts at the observed state
          val raw = rawDataFiles(dir).filterNot(added.contains)
          if (raw.isEmpty) None
          else tryPublish(fs, dir, Snapshot(0L, now(None), "bootstrap",
            raw, raw, Seq.empty, -1L), None) match {
            case Some(s) => Some(s)
            case None    => current(dir) // lost the race; re-read
          }
      }
      // idempotency-tagged commits (multi-table transaction applies):
      // the duplicate check runs AFTER the head read and covers every
      // version up to it, so it is atomic with the publish decision —
      // a racer that published the tag BEFORE our head read is seen
      // here; one that publishes AFTER it takes the version we are
      // about to contend, our tryPublish loses, and the retry rescans.
      // (A check hoisted before the head read has a hole: a late head
      // read targets the NEXT version uncontended and never re-checks —
      // caught live by LakeMultiCommitSpec's 8-way apply race.)
      if (dedupeOnOperation) {
        val existing = versions(dir, branch).reverseIterator
          .map(v => snapshotAt(dir, v, branch))
          .find(_.operation == operation)
        existing.foreach(s => return s)
      }
      val base = head.map(_.files).getOrElse(Seq.empty)
      val missing = removed.filterNot(base.contains)
      if (missing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"replace conflict in $dir: covered files no longer current: " +
            missing.mkString(", "))
      // bootstrap race: writer A's v0 bootstrap lists the directory and
      // can sweep up a file writer B already PUBLISHED but not yet
      // committed — B's own commit then appends the same name, and
      // `base ++ added` would list it twice, silently double-scanning
      // its rows. A name already in base is therefore dropped from this
      // commit's delta (it is current either way), and the complete set
      // is deduped as a belt-and-braces invariant.
      val addedNew = added.filterNot(base.toSet).sorted
      // merge-on-read deletes: a DV against a data file another writer
      // just REWROTE would delete positions of the wrong bytes — same
      // conflict class as a replace against a vanished file
      val dvMissing = dvAdded.keys.filterNot(base.contains)
      if (dvMissing.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"merge-on-read conflict in $dir: deletion vectors target " +
            s"files no longer current: ${dvMissing.mkString(", ")}")
      val baseDvs = head.map(_.dvs).getOrElse(Map.empty)
      // write-write ROW conflict: a new DV overlapping an already-
      // committed DV on the same file means two writers scanned the
      // same row live and both removed it — benign for delete-delete,
      // but an update (delete+insert) pair would DUPLICATE the row's
      // new versions. Serializable-by-default: the loser fails loud and
      // retries against the post-commit state (Iceberg's row-level
      // validation). Sequential DML never trips this — a later scan
      // subtracts existing DVs, so its positions are disjoint by
      // construction. Cost: DV reads only for re-touched files.
      val overlap = dvAdded.flatMap { case (f, vs) =>
        val existing = baseDvs.getOrElse(f, Seq.empty)
        if (existing.isEmpty) None
        else {
          val committed = LakeDv.positions(dir, existing).toSet
          val both = LakeDv.positions(dir, vs).filter(committed)
          if (both.isEmpty) None
          else Some(s"$f @ ${both.take(5).mkString(",")}" +
            (if (both.length > 5) ",…" else ""))
        }
      }
      if (overlap.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"merge-on-read conflict in $dir: positions deleted " +
            s"concurrently by another writer: ${overlap.mkString("; ")}")
      // a replaced file takes its DVs with it (the rewrite applied or
      // superseded them); new DVs merge per data file. A rollback
      // instead RESTORES a past snapshot's DV map verbatim — the
      // derived rule cannot reconstruct it (rolling back past a MOR
      // delete must drop its DVs; rolling back across rewrite_deletes
      // must re-attach the old files' DVs, else deleted rows resurrect)
      val nextDvs = dvsOverride.getOrElse {
        val nextDvs0 = baseDvs -- removed
        dvAdded.foldLeft(nextDvs0) { case (acc, (f, vs)) =>
          acc.updated(f, (acc.getOrElse(f, Seq.empty) ++ vs).distinct.sorted)
        }
      }
      // stats follow the file set: replaced files drop theirs, added
      // files bring freshly-harvested ones; files that predate stats
      // simply stay absent (footer-fallback planning). ANALYZE
      // amendments replace entries for files still current.
      val liveAmend = statsAmend.view.filterKeys(f =>
        base.contains(f) && !removed.contains(f)).toMap
      val nextVersion = head.map(_.version + 1).getOrElse(0L)
      // stamp each added file's ADD VERSION — the equality-delete
      // sequencing fact ([[LakeEq]]); stamped inside the loop because
      // a lost version race changes the version this commit lands at
      val nextFileSet =
        (base.filterNot(removed.toSet) ++ addedNew).toSet
      val nextStats = (head.map(_.stats).getOrElse(Map.empty) -- removed) ++
        addedStats.view.filterKeys(addedNew.contains)
          .map { case (f, st) =>
            f -> st.copy(addV = addedSeqs.getOrElse(f, nextVersion))
          } ++ liveAmend ++
        statsRestore.view.filterKeys(nextFileSet)
      // equality deletes: refuse to commit one against a snapshot
      // holding files the delete cannot be SEQUENCED with (unknown add
      // version — legacy vintages, bootstrap sweeps). Checked against
      // the POST-commit current set minus this commit's own files.
      if (eqAdded.nonEmpty)
        LakeEq.requireSequenceable(dir,
          Seq(LakeEq.EqRef("pending", nextVersion, Seq.empty, 0L)),
          base.filterNot(removed.toSet).filterNot(addedNew.contains),
          head.map(_.stats).getOrElse(Map.empty))
      val retireSet = eqsRetire.toSet
      val nextEqs = eqsOverride.getOrElse(
        head.map(_.eqs).getOrElse(Seq.empty)
          .filterNot(r => retireSet.contains(r.name)) ++
          eqAdded.map { case (n, kc, cnt) =>
            LakeEq.EqRef(n, nextVersion, kc, cnt, eqTuples.get(n)) })
      // partition tuples follow the file set exactly like stats
      val nextParts = (head.map(_.parts).getOrElse(Map.empty) -- removed) ++
        addedParts.view.filterKeys(addedNew.contains)
      // the parent's segment list is the REUSE base for the manifest
      // tree (writeManifest keeps every segment the delta left whole);
      // a segment holding an AMENDED file must rewrite — its embedded
      // stats are stale the moment the amendment lands
      val reuseBase = {
        val segs = head.map(_.segments).getOrElse(Seq.empty)
        if (liveAmend.isEmpty) segs
        else segs.filter { r =>
          try !readSegment(fs, dir, r.name)._1.exists(liveAmend.contains)
          catch { case _: java.io.IOException => false }
        }
      }
      val next = Snapshot(
        nextVersion,
        now(head.map(_.timestampMs)), operation,
        (base.filterNot(removed.toSet) ++ addedNew).distinct.sorted,
        addedNew, removed.sorted, addedRows, dataChange, nextDvs, dvAdded,
        nextStats, updatePre, updatePost.filter(addedNew.contains),
        nextParts,
        reuseBase, eqs = nextEqs)
      prePublish()
      tryPublish(fs, dir, next, branch) match {
        case Some(s) => return s
        case None    => () // another writer took this version; retry
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"gave up committing to $dir after $attempt attempts")
  }

  // strictly increasing commit times keep timestamp travel well-defined
  private def now(prev: Option[Long]): Long =
    math.max(System.currentTimeMillis(), prev.map(_ + 1).getOrElse(0L))

  /** Stage + atomic create-if-absent; None when the version was taken. */
  private def tryPublish(fs: FileSystem, dir: String, s: Snapshot,
                         branch: Option[String])(
      implicit lfs: LakeFs): Option[Snapshot] = {
    val d = ld(dir, branch)
    val dest = new Path(d, manifestName(s.version))
    if (fs.exists(dest)) return None
    val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}.json")
    val (written, createdSegs) = writeManifest(fs, dir, tmp, s)
    val won = lfs.createFrom(tmp, dest)
    fs.delete(tmp, false)
    if (won) {
      // keep MAIN head resolution O(1): refresh the hint per commit
      if (branch.isEmpty) writeHeadHint(dir, s.version)
      Some(written)
    } else {
      // lost the race: the fresh UUID segments are referenced by no
      // manifest — reclaim now instead of waiting for the vacuum
      createdSegs.foreach { p =>
        segCache.remove(p.toUri.toString)
        try fs.delete(p, false)
        catch { case _: java.io.IOException => () }
      }
      None
    }
  }

  // ----- branches: writable refs (write-audit-publish) -----------------

  /** Fork `name` at the current main head. The branch log starts with a
    * COPY of the head manifest — that version number is the fork point
    * [[fastForward]] later validates against.
    */
  def createBranch(dir: String, name: String)(
      implicit lfs: LakeFs): Snapshot = {
    val head = current(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no snapshot log to branch"))
    require(!tags(dir).contains(name),
      s"'$name' is already a tag in $dir")
    val fs = lfs.fs(dir)
    require(!fs.exists(branchLogDir(dir, name)),
      s"branch '$name' already exists in $dir")
    fs.mkdirs(branchLogDir(dir, name))
    tryPublish(fs, dir, head.copy(operation = s"branch($name)"),
      Some(name)).getOrElse(throw new IllegalStateException(
      s"lost the race creating branch '$name' in $dir"))
  }

  /** Live branches: name → head version. */
  def branches(dir: String)(implicit lfs: LakeFs): Map[String, Long] = {
    val fs = lfs.fs(dir)
    val root = new Path(logDir(dir), "branches")
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { s =>
      val name = s.getPath.getName
      versions(dir, Some(name)).lastOption.map(name -> _)
    }.toMap
  }

  def dropBranch(dir: String, name: String)(implicit lfs: LakeFs): Boolean =
    lfs.fs(dir).delete(branchLogDir(dir, name), true)

  /** Publish a branch onto main — the write-audit-publish commit. Only
    * valid when main still sits at the branch's fork point (same
    * linear-history rule as a git fast-forward); a main that advanced
    * since the fork CONFLICTS and needs a fresh branch. Every branch
    * commit (fork+1 .. head) lands on main in order via the same
    * rename-without-overwrite, so a racing main writer can't interleave
    * — the first taken version aborts the publish. Returns the number
    * of commits published; the branch is dropped on success.
    */
  def fastForward(dir: String, name: String)(implicit lfs: LakeFs): Int = {
    val bvs = versions(dir, Some(name))
    require(bvs.nonEmpty, s"no branch '$name' in $dir")
    val fork = bvs.head
    val mainHead = current(dir).getOrElse(throw new IllegalStateException(
      s"$dir lost its log"))
    if (mainHead.version != fork)
      throw new java.util.ConcurrentModificationException(
        s"cannot fast-forward '$name' in $dir: main advanced to " +
          s"v${mainHead.version} past the fork point v$fork — " +
          "re-branch and replay")
    val fs = lfs.fs(dir)
    // graft marker FIRST (see rollback): branch commits may hold rows
    // written before a constraint was declared+validated on main
    if (bvs.tail.nonEmpty) noteHistoryGraft(dir, bvs.last)
    bvs.tail.foreach { v =>
      val s = snapshotAt(dir, v, Some(name))
      tryPublish(fs, dir, s, None).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"cannot fast-forward '$name' in $dir: a main writer took " +
            s"v$v mid-publish"))
    }
    // a branch writer racing the publish may have landed commits after
    // the listing above — dropping the branch now would silently DELETE
    // them. Leave the branch in place and conflict instead: the
    // published prefix is already on main, nothing is lost, and the
    // racer's work stays auditable (a later fast-forward of the stale
    // branch correctly conflicts at the fork-point check).
    if (versions(dir, Some(name)) != bvs)
      throw new java.util.ConcurrentModificationException(
        s"fast-forward of '$name' in $dir published ${bvs.size - 1} " +
          "commits, but new branch commits landed mid-publish — branch " +
          "kept; re-branch from the new main head and replay them")
    dropBranch(dir, name)
    bvs.size - 1
  }

  // ----- tags: named immutable refs to snapshots ------------------------

  private val TagRe = "^ref-(.+)\\.json$".r
  private def tagPath(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag names are [A-Za-z0-9._-]+, got '$name'")
    // resolve() tries numeric ids BEFORE tag lookup, so an all-digit
    // tag would be unreachable (shadowed by version resolution) —
    // reject it at creation, where the user can still pick another name
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — it would be shadowed by " +
        "numeric snapshot-id resolution in VERSION AS OF")
    new Path(logDir(dir), s"ref-$name.json")
  }

  /** Pin `name` to `version` (Iceberg-style tag: immutable once
    * created — retag requires dropTag first; rename-without-overwrite
    * makes racing creates pick one winner). Tagged snapshots survive
    * [[expire]].
    */
  def tag(dir: String, name: String, version: Long)(
      implicit lfs: LakeFs): Unit = {
    snapshotAt(dir, version) // must exist
    require(!branches(dir).contains(name),
      s"'$name' is already a branch in $dir")
    val dest = tagPath(dir, name)
    val won = !lfs.fs(dest).exists(dest) && lfs.create(dest,
      mapper.writeValueAsBytes(java.util.Map.of("name", name, "version",
        java.lang.Long.valueOf(version))))
    if (!won)
      throw new IllegalStateException(
        s"tag '$name' already exists in $dir (tags are immutable — " +
          "dropTag first to move it)")
  }

  def dropTag(dir: String, name: String)(implicit lfs: LakeFs): Boolean =
    lfs.fs(dir).delete(tagPath(dir, name), false)

  /** All tags: name → pinned version. */
  def tags(dir: String)(implicit lfs: LakeFs): Map[String, Long] = {
    val fs = lfs.fs(dir)
    val ld = logDir(dir)
    if (!fs.exists(ld)) Map.empty
    else fs.listStatus(ld).toSeq.flatMap(s =>
      TagRe.findFirstMatchIn(s.getPath.getName).map { m =>
        val bytes = lfs.read(s.getPath)
        val j = mapper.readValue(bytes, classOf[JMap[String, Object]])
        m.group(1) -> j.get("version").asInstanceOf[Number].longValue()
      }).toMap
  }

  /** Resolve a version ref: a numeric snapshot id, or a tag name. */
  def resolve(dir: String, ref: String)(implicit lfs: LakeFs): Long =
    ref.toLongOption.getOrElse(tags(dir).getOrElse(ref,
      throw new IllegalArgumentException(
        s"'$ref' is neither a numeric snapshot id nor a tag in $dir " +
          s"(tags: ${tags(dir).keys.toSeq.sorted.mkString(", ")})")))

  // ----- streaming-epoch refs: exactly-once bookkeeping ----------------

  /** `stream_epoch(<queryId>:<epochId>)` — the operation string an epoch
    * commit seals into its manifest; the replay check keys on it.
    */
  def epochOp(queryId: String, epochId: Long): String =
    s"stream_epoch($queryId:$epochId)"

  private val EpochOpRe = """^stream_epoch\((.*):(-?\d+)\)$""".r

  private def epochRefPath(dir: String, queryId: String): Path = {
    require(queryId.nonEmpty && queryId.matches("[A-Za-z0-9._-]+"),
      s"stream query ids are [A-Za-z0-9._-]+, got '$queryId'")
    new Path(logDir(dir), s"stream-$queryId.json")
  }

  /** Advance the per-query committed-epoch ref AFTER an epoch's log
    * commit. The ref lives beside the manifests but is NEVER expired,
    * so the exactly-once replay check stays O(1) and correct even when
    * the epoch's marker manifest is vacuumed. Epoch commits of one
    * query are serial (driver-side), so overwrite is single-writer;
    * the write is atomic on `file://` and a torn read elsewhere falls
    * back to the log scan.
    */
  def recordCommittedEpoch(dir: String, queryId: String,
                           epochId: Long)(implicit lfs: LakeFs): Unit =
    lfs.replace(epochRefPath(dir, queryId), mapper.writeValueAsBytes(
      java.util.Map.of("queryId", queryId,
        "epoch", java.lang.Long.valueOf(epochId))))

  /** Does the query's epoch REF alone already record `epoch` (or later)?
    * Used by [[expire]] to decide whether a marker manifest is still a
    * load-bearing retention promise.
    */
  private def lastEpochRefCovers(dir: String, queryId: String,
                                 epoch: Long)(implicit lfs: LakeFs): Boolean =
    try {
      val fs = lfs.fs(dir)
      val p = epochRefPath(dir, queryId)
      fs.exists(p) && {
        val bytes = lfs.read(p)
        mapper.readValue(bytes, classOf[JMap[String, Object]])
          .get("epoch").asInstanceOf[Number].longValue() >= epoch
      }
    } catch { case _: Exception => false } // unreadable ref: keep marker

  /** Newest committed epoch of `queryId`, or None if it never committed.
    * Fast path is the ref file (one tiny read); because the ref can lag
    * exactly one epoch behind (crash between the log commit and the ref
    * update), the log stays authoritative: manifests are scanned
    * NEWEST-FIRST only until this query's most recent marker — O(commits
    * since this query's last epoch), not O(all versions) — and the
    * larger of the two answers wins. [[expire]] retains each query's
    * newest marker manifest, so the scan finds it even after a vacuum.
    */
  def lastCommittedEpoch(dir: String, queryId: String,
                         branch: Option[String] = None)(
      implicit lfs: LakeFs): Option[Long] = {
    val fs = lfs.fs(dir)
    val ref =
      try {
        val p = epochRefPath(dir, queryId)
        if (!fs.exists(p)) None
        else {
          val bytes = lfs.read(p)
          val j = mapper.readValue(bytes, classOf[JMap[String, Object]])
          Some(j.get("epoch").asInstanceOf[Number].longValue())
        }
      } catch { case _: Exception => None } // torn/absent: log decides
    // ops-hint-backed fallback: amortized O(new versions) manifest
    // skeletons on BOTH main and branch refs (a fresh stream's first
    // epoch on a 10⁶-commit history reads the hint, not the history);
    // the old newest-first manifest walk was O(history) exactly when
    // the query had no prior epoch — every stream's first commit
    val fromLog = operations(dir, branch).reverseIterator.collectFirst {
      case (_, EpochOpRe(q, e)) if q == queryId => e.toLong
    }
    (ref.toSeq ++ fromLog.toSeq).maxOption
  }

  /** Roll the table back to `version`: commits a NEW head whose file set
    * equals the old snapshot's — history is preserved (the rollback is
    * itself a version), so the rolled-past states stay auditable.
    */
  def rollback(dir: String, version: Long)(implicit lfs: LakeFs): Snapshot = {
    val target = snapshotAt(dir, version)
    val head = current(dir).getOrElse(
      throw new IllegalStateException(s"$dir has no log to roll back"))
    require(version <= head.version,
      s"cannot roll forward to v$version from v${head.version}")
    // The new head must equal the TARGET STATE, not just its file set:
    // its DV map verbatim (commit's derived dvs rule would keep rows
    // deleted when rolling back past a MOR delete, and resurrect
    // deleted rows when rolling back across rewrite_deletes/compact by
    // re-adding old files stripped of their DVs), and the target's
    // partition tuples for the re-added files (else pruning/SPJ lose
    // the restored files' layout).
    // graft marker FIRST: the restored state may predate guarantees
    // validated later (CHECK pruning) — a crash after the marker but
    // before the commit only over-disarms
    noteHistoryGraft(dir, head.version + 1)
    commit(dir, s"rollback(v$version)",
      added = target.files.filterNot(head.files.contains),
      removed = head.files.filterNot(target.files.contains),
      addedRows = -1L,
      addedParts = target.parts,
      dvsOverride = Some(target.dvs),
      // equality deletes restore VERBATIM like DVs, and the restored
      // files keep the target's per-file stats — including addV, the
      // sequencing fact the restored eq list applies through
      eqsOverride = Some(target.eqs),
      statsRestore = target.stats)
  }

  /** Expire history: keep the newest `keepLast` snapshots PLUS any
    * tagged snapshot, delete the other manifests, then delete data
    * files no retained snapshot references. The vacuum that trades time
    * travel for space — referenced files are never touched; a tag is a
    * retention promise, so `VERSION AS OF '<tag>'` keeps working after
    * any expire (drop the tag to release it). Returns (expired manifest
    * count, deleted file count). Single-writer maintenance operation
    * (like every lakehouse vacuum).
    */
  /** Grace window for orphan deletion: a file published within the last
    * `graceMs` may belong to a writer BETWEEN its publish renames and
    * its log commit — deleting it would let that commit succeed with a
    * manifest pointing at a vanished file. Production default 10 min
    * (the Delta/Iceberg vacuum-retention idea at small scale);
    * overridable per call, and fixtures pass 0 to observe deletions
    * synchronously.
    */
  def defaultExpireGraceMs: Long =
    sys.props.get("graft.lake.expire.grace.ms").map(_.toLong)
      .getOrElse(10L * 60 * 1000)

  def expire(dir: String, keepLast: Int)(implicit lfs: LakeFs): (Int, Int) =
    expire(dir, keepLast, defaultExpireGraceMs)

  def expire(dir: String, keepLast: Int, graceMs: Long)(
      implicit lfs: LakeFs): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val fs = lfs.fs(dir)
    val vs = versions(dir)
    if (vs.isEmpty) return (0, 0)
    val tagged = tags(dir).values.toSet
    val (dropCand, keepTail) = vs.splitAt(math.max(0, vs.size - keepLast))
    // each stream query's NEWEST epoch-marker manifest is a retention
    // promise like a tag: vacuuming it would let a crash-replayed epoch
    // whose ref update also died re-commit (double write). A marker
    // already covered by the query's epoch ref (the normal case — the
    // ref is written right after each commit) is redundant and expires
    // normally, so dead queries don't pin history; only the
    // crash-window marker survives, until the query's next epoch.
    // amortized O(new versions) metadata reads via the ops hint —
    // skeletons only, zero segment I/O
    val newestMarker: Set[Long] = operations(dir).flatMap {
      case (v, op) => op match {
        case EpochOpRe(q, e) => Some((q, e.toLong, v))
        case _               => None
      }
    }.groupMapReduce(_._1)(t => (t._2, t._3))((a, b) =>
      if (a._1 >= b._1) a else b)
      .collect { case (q, (epoch, v))
        if !lastEpochRefCovers(dir, q, epoch) => v }.toSet
    val retained = tagged ++ newestMarker
    val drop = dropCand.filterNot(retained)
    val keep = keepTail ++ dropCand.filter(retained)
    // a live branch references its own commits' files (staged work that
    // hasn't fast-forwarded yet) — the vacuum must not eat a branch
    val branchSnaps = branches(dir).keySet.toSeq.flatMap(b =>
      versions(dir, Some(b)).map(v => snapshotAt(dir, v, Some(b))))
    val branchFiles = branchSnaps.flatMap(_.files).toSet
    // retained snapshots reference their data files AND their deletion
    // vectors — a vacuumed DV would resurrect deleted rows
    val keptSnaps = keep.map(snapshotAt(dir, _))
    // a DECIDED-but-unapplied multi-table transaction (marker written,
    // apply crashed, recover not yet run) references staged files that
    // are in NO manifest yet — the marker is the commit point, so they
    // are committed data, not orphans. Protected regardless of age:
    // the grace window covers publish→commit races, not crash windows
    // of unbounded duration.
    val txPending = LakeTx.pendingFor(dir).flatMap(_.added).toSet
    // equality-delete sidecars of retained snapshots (and branches) are
    // live delete state — vacuuming one resurrects its deleted rows
    val branchEqs = branchSnaps.flatMap(_.eqs.map(_.name)).toSet
    val referenced = keptSnaps.flatMap(s =>
      s.files ++ s.dvs.values.flatten ++ s.eqs.map(_.name)).toSet ++
      branchFiles ++ branchEqs ++ txPending
    val horizon = System.currentTimeMillis() - graceMs
    def aged(f: String): Boolean =
      try fs.getFileStatus(new Path(dir, f)).getModificationTime < horizon
      catch { case _: java.io.IOException => false } // vanished: skip
    val orphans = (rawDataFiles(dir) ++ rawDvFiles(dir) ++ rawEqFiles(dir))
      .filterNot(referenced).filter(aged)
    drop.foreach(v =>
      fs.delete(new Path(logDir(dir), manifestName(v)), false))
    orphans.foreach(f => fs.delete(new Path(dir, f), false))
    // manifest-tree segments referenced by NO retained manifest (main,
    // tagged, or branch) are metadata orphans — same grace window as
    // data files (a just-written segment may belong to a commit racing
    // its manifest rename)
    val keptSegs = (keptSnaps ++ branchSnaps)
      .flatMap(_.segments.map(_.name)).toSet
    val segD = segDir(dir)
    if (fs.exists(segD))
      fs.listStatus(segD).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("seg-") &&
          !keptSegs.contains(st.getPath.getName) &&
          st.getModificationTime < horizon)
        .foreach { st =>
          segCache.remove(st.getPath.toUri.toString)
          fs.delete(st.getPath, false)
        }
    // a crashed multi-table stage ([[LakeTx.stageAppend]]) can leave a
    // scratch subdir under _staging — unreachable by any reader, pure
    // disk leak; reclaim aged ones under the same grace window that
    // protects in-flight writers
    val staging = new Path(dir, "_staging")
    if (fs.exists(staging))
      fs.listStatus(staging).toSeq
        .filter(s => s.isDirectory && s.getModificationTime < horizon)
        .foreach(s => fs.delete(s.getPath, true))
    (drop.size, orphans.size)
  }

  /** Deletion-vector sidecars on disk (log-oblivious listing — the
    * vacuum's orphan-candidate source; DVs never participate in
    * bootstrap).
    */
  def rawDvFiles(dir: String)(implicit lfs: LakeFs): Seq[String] = {
    val p = new Path(dir)
    val fs = lfs.fs(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".dv.bin"))
      .map(_.getPath.getName)
      .sorted
  }

  /** Equality-delete sidecars on disk (the vacuum's orphan-candidate
    * source, like [[rawDvFiles]]; never part of bootstrap).
    */
  def rawEqFiles(dir: String)(implicit lfs: LakeFs): Seq[String] = {
    val p = new Path(dir)
    val fs = lfs.fs(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("eq-") &&
        s.getPath.getName.endsWith(".json"))
      .map(_.getPath.getName)
      .sorted
  }
}
