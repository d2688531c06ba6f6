package graft.sources.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `db.t.partitions` — the partition-inventory METADATA table
  * (Iceberg's spelling): one row per live partition tuple with its
  * transform values (typed output columns), file count, and LIVE row
  * count (manifest row counts minus deletion-vector positions). Pure
  * driver metadata — no data file is opened when every file carries
  * manifest stats; stat-less legacy vintages cost one footer read.
  *
  * Unpartitioned tables yield the single all-files row; a tuple-less
  * file in a partitioned table (hand-dropped into the dir) groups
  * under all-null transform values rather than vanishing.
  */
class LakePartitionsTable(tableName: String, dir: String)(
    implicit lfs: LakeFs) extends Table
    with SupportsRead {

  private val allSpecs = LakePartitioning.specsOf(dir)
  private val bound: Seq[LakePartitioning.Bound] = {
    if (allSpecs.isEmpty || allSpecs.last.isEmpty) Seq.empty
    else LakePartitioning.bind(allSpecs.last,
      LakeTableIO.tableSchema(dir))
  }

  /** Output column name per transform: identity keeps the source name,
    * everything else suffixes the function.
    */
  private def colName(b: LakePartitioning.Bound): String = b.t match {
    case LakePartitioning.PIdentity(c)    => c
    case LakePartitioning.PBucket(_, c)   => s"${c}_bucket"
    case LakePartitioning.PTruncate(_, c) => s"${c}_trunc"
    case LakePartitioning.PDays(c)        => s"${c}_days"
    case LakePartitioning.PMonths(c)      => s"${c}_months"
    case LakePartitioning.PYears(c)       => s"${c}_years"
    case LakePartitioning.PHours(c)       => s"${c}_hours"
  }

  override def name(): String = tableName

  override lazy val schema: StructType = StructType(
    bound.map(b => StructField(colName(b), b.outType, nullable = true)) ++
      Seq(StructField("file_count", LongType, nullable = false),
        // NULL only when a file of the partition carries an attached
        // ref ABOVE the key-scoping cap (same exact-or-NULL rule as
        // db.t.files.live_rows — r16 exact arm for small refs)
        StructField("row_count", LongType, nullable = true)))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan with Batch {
      override def readSchema(): StructType = schema
      override def toBatch: Batch = this
      override def description(): String =
        s"graft_lake partitions metadata of $dir"

      override def planInputPartitions(): Array[InputPartition] = {
        // row_count is a PROMISE like the files inventory's live_rows:
        // a partition holding any file an eq ref ATTACHES to reports
        // NULL — unless every attached ref is within the key-scoping
        // cap, where the r16 exact arm ([[LakeEq.countMatches]])
        // prices the matches per file and the partition keeps an
        // EXACT count (exact or NULL, never wrong)
        val ((files, dvs, stats, parts), eqs) =
          LakeTableIO.snapshotViewEq(dir)
        // per-snapshot memo (LakeMetaMemo): the body below is a pure
        // function of this view — serve the memoized rows while the
        // view is unchanged, recompute on any commit
        val snapshotKey = (files.map(_.getName), dvs, stats, parts, eqs)
        val rows = LakeMetaMemo.rows("partitions", dir, snapshotKey) {
        lazy val tschema = LakeTableIO.tableSchema(dir)
        lazy val tcols = LakeTableIO.columnRefs(tschema)
        // the SHARED scoping memo + probe budget ([[LakeEq
        // .inventoryScope]] — one source of truth with the files
        // inventory): wholesale decline over the bound, a metadata
        // query never becomes a data scan
        val (applicableByFile, probeOk) = LakeEq.inventoryScope(dir,
          files.map(_.getName), eqs, stats, parts, tcols, tschema)
        def liveRows(fileName: String, path: org.apache.hadoop.fs.Path)
            : Option[Long] =
          applicableByFile(fileName).flatMap { app =>
            val st = stats.get(fileName)
            val rows = st.map(_.rows)
              .getOrElse(LakeTableIO.footerRows(Seq(path)))
            lazy val dead: Array[Long] = dvs.get(fileName)
              .map(LakeDv.positions(dir, _)).getOrElse(Array.empty)
            if (app.isEmpty)
              Some(math.max(0L, rows - dead.length.toLong))
            else if (!probeOk) None // over budget: the r15 promise
            else LakeEq.countMatches(dir, path, app, tschema, dead)
              .map(m => math.max(0L, rows - dead.length.toLong - m))
          }
        // current-spec tuples decode into the typed columns; old
        // evolution vintages and tuple-less files group under ONE
        // all-null row (their layout is a different shape)
        def keyOf(f: org.apache.hadoop.fs.Path): Option[Seq[String]] =
          parts.get(f.getName).collect {
            case t if LakePartitioning.splitTuple(t)._1 ==
                allSpecs.length - 1 &&
                LakePartitioning.currentSlots(t).length == bound.length =>
              LakePartitioning.currentSlots(t)
          }
        files
          .groupBy(keyOf)
          .toSeq
          .map { case (slots0, fs0) =>
            val slots: Seq[Any] = slots0 match {
              case Some(t) => bound.zip(t).map { case (b, s) =>
                LakePartitioning.decodeSlot(b, s).getOrElse(null)
              }
              case None => bound.map(_ => null)
            }
            slots ++ Seq(fs0.size.toLong, {
              val per = fs0.map(f => liveRows(f.getName, f))
              if (per.exists(_.isEmpty)) null
              else per.flatten.sum
            })
          }
        }
        Array(LakeMetaRowsPartition(rows))
      }

      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(
              p: InputPartition): PartitionReader[InternalRow] =
            new PartitionReader[InternalRow] {
              private val it =
                p.asInstanceOf[LakeMetaRowsPartition].rows.iterator
              private var cur: InternalRow = _
              override def next(): Boolean = it.hasNext && {
                cur = InternalRow.fromSeq(it.next()); true
              }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
        }
    }
}

/** `db.t.files` — the file-inventory METADATA table (Iceberg's
  * spelling): one row per live data file with its physical and LIVE
  * row counts, deletion-vector sidecar count, on-disk size, partition
  * tuple (raw slot rendering; null for unpartitioned/tuple-less
  * files), and whether manifest stats back it. The ops surface a
  * 100 TB table is administered through — small-file skew, DV debt
  * before a rewrite_deletes, stats coverage before relying on
  * metadata aggregates — all answered from the manifest plus ONE
  * directory listing (sizes), no data file opened when stats cover
  * the snapshot (stat-less legacy files cost one footer read each,
  * the same fallback the partitions table takes).
  */
class LakeFilesTable(tableName: String, dir: String)(
    implicit lfs: LakeFs) extends Table
    with SupportsRead {

  override def name(): String = tableName

  override lazy val schema: StructType = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("partition", org.apache.spark.sql.types.StringType,
      nullable = true),
    StructField("rows", LongType, nullable = false),
    // EXACT even under live equality refs when every attached ref is
    // within the key-scoping cap (r16: one bounded key-column probe
    // prices the matches — [[LakeEq.countMatches]]); NULL only above
    // the bound or when the probe cannot answer — the inventory
    // serves what is provable and NULLs the rest; db.t.deletes shows
    // the debt behind every NULL
    StructField("live_rows", LongType, nullable = true),
    StructField("dv_count", org.apache.spark.sql.types.IntegerType,
      nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("has_stats", org.apache.spark.sql.types.BooleanType,
      nullable = false)))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan with Batch {
      override def readSchema(): StructType = schema
      override def toBatch: Batch = this
      override def description(): String =
        s"graft_lake files metadata of $dir"

      override def planInputPartitions(): Array[InputPartition] = {
        val ((files, dvs, stats, parts), eqs) =
          LakeTableIO.snapshotViewEq(dir)
        // per-snapshot memo (LakeMetaMemo): live files are immutable,
        // so every derived column — sizes included — is a pure
        // function of this view; recomputes on any commit
        val snapshotKey = (files.map(_.getName), dvs, stats, parts, eqs)
        val rows = LakeMetaMemo.rows("files", dir, snapshotKey) {
        lazy val tschema = LakeTableIO.tableSchema(dir)
        lazy val tcols = LakeTableIO.columnRefs(tschema)
        // live_rows is a PROMISE: an eq ref ATTACHED to the file
        // (the shared scoped predicate — exactly what the scan
        // subtracts and rewrite_deletes would touch) used to make it
        // unknowable from metadata. Since r16 SMALL refs (every
        // attached ref within the key-scoping cap) get an EXACT
        // answer instead: one bounded key-column probe of the file
        // ([[LakeEq.countMatches]]) prices the matches; NULL remains
        // only above the key bound or on any probe uncertainty —
        // exact or NULL, never wrong
        // the SHARED scoping memo + probe budget ([[LakeEq
        // .inventoryScope]]): the exact arm declines WHOLESALE
        // (uniform NULL for every attached file) when refs attach to
        // more files than the bound — a broadly-attached ref must
        // not turn this metadata query into a driver-side data scan
        val (applicableByFile, probeOk) = LakeEq.inventoryScope(dir,
          files.map(_.getName), eqs, stats, parts, tcols, tschema)
        // one listing for every size — O(1) remote calls, not O(files)
        val path = new org.apache.hadoop.fs.Path(dir)
        val fs = lfs.fs(path)
        val sizes: Map[String, Long] =
          try fs.listStatus(path)
            .map(st => st.getPath.getName -> st.getLen).toMap
          catch { case scala.util.control.NonFatal(_) => Map.empty }
        files.map { f =>
          val n = f.getName
          val st = stats.get(n)
          val physical = st.map(_.rows)
            .getOrElse(LakeTableIO.footerRows(Seq(f)))
          val dvFiles = dvs.getOrElse(n, Seq.empty)
          // the NULL arm skips the O(positions) DV read outright
          val live: Any = applicableByFile(n) match {
            case None => null // cannot sequence: unknowable
            case Some(app) =>
              lazy val dead: Array[Long] =
                if (dvFiles.isEmpty) Array.empty
                else LakeDv.positions(dir, dvFiles)
              if (app.isEmpty)
                math.max(0L, physical - dead.length.toLong)
              else if (!probeOk) null // over budget: the r15 promise
              else LakeEq.countMatches(dir, f, app, tschema, dead) match {
                case Some(m) =>
                  math.max(0L, physical - dead.length.toLong - m)
                case None => null
              }
          }
          Seq[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(n),
            parts.get(n).map(t =>
              org.apache.spark.unsafe.types.UTF8String
                .fromString(t.mkString("/"))).orNull,
            physical,
            live,
            dvFiles.size,
            sizes.getOrElse(n, -1L),
            st.isDefined)
        }
        }
        Array(LakeMetaRowsPartition(rows))
      }

      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(
              p: InputPartition): PartitionReader[InternalRow] =
            new PartitionReader[InternalRow] {
              private val it =
                p.asInstanceOf[LakeMetaRowsPartition].rows.iterator
              private var cur: InternalRow = _
              override def next(): Boolean = it.hasNext && {
                cur = InternalRow.fromSeq(it.next()); true
              }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
        }
    }
}

/** `db.t.deletes` — the DELETE-DEBT inventory: one row per live
  * delete artifact, both contracts. Equality refs ([[LakeEq]]) show
  * their commit version, key columns, key count, and how many CURRENT
  * files they apply to (the sequencing rule — what a rewrite_deletes
  * would touch); position DVs show their target file and position
  * count. THE ops surface for retirement planning: the files and
  * partitions inventories report NULL live counts exactly where a
  * scoped ref attaches (r15) — this table is how a user SEES the
  * debt behind every NULL. Driver metadata only (eq
  * facts live in the manifest; DV sidecars are O(positions) reads).
  */
class LakeDeletesTable(tableName: String, dir: String)(
    implicit lfs: LakeFs) extends Table
    with SupportsRead {

  override def name(): String = tableName

  override lazy val schema: StructType = StructType(Seq(
    StructField("kind", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("ref", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("version", LongType, nullable = true),
    StructField("key_cols", org.apache.spark.sql.types.StringType,
      nullable = true),
    StructField("entries", LongType, nullable = false),
    StructField("target_file", org.apache.spark.sql.types.StringType,
      nullable = true),
    StructField("applies_to_files", LongType, nullable = true)))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () =>
    new Scan with Batch {
      override def readSchema(): StructType = schema
      override def toBatch: Batch = this
      override def description(): String =
        s"graft_lake deletes inventory of $dir"
      // rows build at EXECUTION (planInputPartitions), not at scan
      // construction — EXPLAIN must not pay one sidecar read per DV
      override def planInputPartitions(): Array[InputPartition] = {
        def utf8(s: String) =
          org.apache.spark.unsafe.types.UTF8String.fromString(s)
        val head = LakeLog.current(dir)
        // one schema load for ALL refs (was per-ref x2 — r15 review)
        lazy val tschema = LakeTableIO.tableSchema(dir)
        lazy val tableCols = LakeTableIO.columnRefs(tschema)
        val rows: Seq[Seq[Any]] = head.toSeq.flatMap { s =>
          val eqRows = s.eqs.map { r =>
            // a file the ref provably applies to, OR one it cannot be
            // SEQUENCED with (no add version) — the latter BLOCKS a
            // rewrite loud, so under-reporting it would advertise a
            // retirement scope the operation will never honor
            // key-statistics scoping mirrors the scan's attachment AND
            // rewrite_deletes' target set exactly ([[LakeEq
            // .scopedApplicable]]) — the inventory must advertise what
            // a retirement would actually touch, no more, no less
            val applies = s.files.count(f =>
              s.stats.get(f) match {
                case Some(st) if st.addV >= 0 =>
                  LakeEq.scopedApplicable(dir, Seq(r), st.addV,
                    Some(st), tableCols, tschema,
                    s.parts.get(f)).nonEmpty
                case _ => true // unsequenceable: the rewrite must face it
              })
            Seq[Any](utf8("equality"), utf8(r.name), r.version,
              utf8(r.keyCols.mkString(",")), r.n, null, applies.toLong)
          }
          val dvRows = s.dvs.toSeq.sortBy(_._1).flatMap { case (f, vs) =>
            vs.map { v =>
              Seq[Any](utf8("position"), utf8(v), null, null,
                LakeDv.positions(dir, Seq(v)).length.toLong, utf8(f), 1L)
            }
          }
          eqRows ++ dvRows
        }
        Array(LakeMetaRowsPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(
              p: InputPartition): PartitionReader[InternalRow] =
            new PartitionReader[InternalRow] {
              private val it =
                p.asInstanceOf[LakeMetaRowsPartition].rows.iterator
              private var cur: InternalRow = _
              override def next(): Boolean = it.hasNext && {
                cur = InternalRow.fromSeq(it.next()); true
              }
              override def get(): InternalRow = cur
              override def close(): Unit = ()
            }
        }
    }
}

/** Per-snapshot memo for the driver-computed metadata inventories
  * (r17, guide §6 — the r16 verdict's manifest-summary item): the
  * partitions/files tables re-derived their rows on EVERY execution —
  * manifest walk, DV position reads, bounded eq-ref key probes, footer
  * fallbacks — although the result is a pure function of the snapshot.
  * The memo keys the computed rows by the FULL snapshot view (file
  * names, DV map, stats, tuples, eq refs — compared by equality, so a
  * dropped-and-recreated table at the same version number can never
  * serve stale rows), holding only the LATEST snapshot per (table,
  * inventory): any commit changes the view and recomputes, exactly the
  * manifest-caching discipline the production table formats ship.
  * Nothing persists across JVMs — a fresh driver run recomputes from
  * the manifest + data files.
  */
private[dsv2] object LakeMetaMemo {
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Any, Seq[Seq[Any]])]

  def rows(kind: String, dir: String, snapshotKey: Any)
          (compute: => Seq[Seq[Any]]): Seq[Seq[Any]] =
    cache.get((kind, dir)) match {
      case Some((k, r)) if k == snapshotKey => r
      case _ =>
        val r = compute
        cache.put((kind, dir), (snapshotKey, r))
        r
    }
}

/** Driver-computed metadata rows, shipped pre-decoded (internal
  * values) in the single partition.
  */
case class LakeMetaRowsPartition(rows: Seq[Seq[Any]])
    extends InputPartition

/** A batch scan serving driver-computed rows — the vehicle for every
  * metadata-only fast path (completely-pushed aggregates, inventory
  * tables): one partition, values already in internal form.
  */
class LakeLocalRowsScan(out: StructType, rows: Seq[Seq[Any]],
                        desc: String) extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def description(): String = desc
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeMetaRowsPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it =
            p.asInstanceOf[LakeMetaRowsPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = it.hasNext && {
            cur = InternalRow.fromSeq(it.next()); true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}
