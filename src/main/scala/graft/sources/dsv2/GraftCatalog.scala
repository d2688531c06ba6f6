package graft.sources.dsv2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A directory-backed `TableCatalog`: identifier `ns1.….tbl` maps to
  * `<root>/ns1/…/tbl`, each table a [[LakeTable]]. This is the piece
  * that makes the connector reachable from PLAIN SQL — including
  * `MERGE INTO graft_lake.db.t …`, which Spark only plans against a
  * catalog-resolved v2 table (a temp view can't host row-level ops).
  *
  * Register per session:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_lake",
  *     classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft_lake.root", "/lake/root")
  * }}}
  *
  * Deliberately minimal: create / load / drop / list. Rename and alter
  * throw — schema evolution in this lake happens by rewrite, and an
  * unimplemented path must fail loud, not no-op.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _
  private implicit var lfs: LakeFs = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"catalog $name requires spark.sql.catalog.$name.root")
    lfs = LakeFs.active()
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): Path = {
    // identifier segments become PATH segments — without this check a
    // backtick-quoted name like `..` walks out of the catalog root and
    // DROP TABLE would recursively delete the whole lake
    (ident.namespace.toSeq :+ ident.name).foreach(seg =>
      require(seg.matches("[A-Za-z0-9_.-]+") && seg != "." && seg != "..",
        s"graft_lake identifier segment '$seg' is not a safe path " +
          "segment ([A-Za-z0-9_.-]+, not '.'/'..')"))
    new Path((root +: ident.namespace.toSeq :+ ident.name).mkString("/"))
  }

  private def fs = lfs.fs(root)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((root +: namespace.toSeq).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  /** A raw `fs.exists(dir)` alone would report FALSE for the VIRTUAL
    * spellings loadTable resolves (`db.t.branch_dev`, `db.t.changes`,
    * `db.t.files`, `db.t.partitions`) — and `writeStream.toTable`
    * consults tableExists before loadTable, so it would silently
    * CREATE a real table shadowing the spelling: a streaming write
    * aimed at a branch would land in a brand-new table named
    * `branch_dev` instead (caught live by the WAP upsert pin).
    */
  override def tableExists(ident: Identifier): Boolean =
    fs.exists(tableDir(ident)) || {
      ident.namespace.nonEmpty && {
        val parentDir = tableDir(Identifier.of(
          ident.namespace.dropRight(1), ident.namespace.last))
        // affirm only what the spelling can actually SERVE: the parent
        // must be a LOGGED lake table (a bare namespace dir, or a raw
        // parquet dir, would resolve to a feed that throws on read —
        // and affirming it would block creating real tables under a
        // namespace that happens to share a name). Under a logged
        // table the four metadata names are RESERVED (like Iceberg's
        // metadata tables): a real child table cannot shadow them.
        fs.exists(new Path(parentDir, "_log")) && (ident.name match {
          case n if n.startsWith("branch_") =>
            LakeLog.branches(parentDir.toString)
              .contains(n.stripPrefix("branch_"))
          case "changes" | "files" | "partitions" | "deletes" => true
          case _ => false
        })
      }
    }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!fs.exists(dir)) {
      // Iceberg's writable-branch spelling: `db.t.branch_dev` reads AND
      // writes branch `dev` of table `db.t` (INSERT/MERGE target their
      // commits at the branch head; main never sees them until
      // CALL system.fast_forward)
      if (ident.name.startsWith("branch_") && ident.namespace.nonEmpty) {
        val parentIdent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        val parentDir = tableDir(parentIdent)
        val b = ident.name.stripPrefix("branch_")
        if (fs.exists(parentDir) &&
            LakeLog.branches(parentDir.toString).contains(b))
          return new LakeTable(
            (catalogName +: ident.namespace.toSeq).mkString("."),
            parentDir.toString, branch = Some(b))
      }
      // Iceberg's metadata-table spelling: `db.t.changes` is table
      // `db.t`'s change-data feed (LakeChangesTable) — batch AND
      // streaming readable; a REAL table named `changes` under a
      // `db.t` namespace takes precedence (its dir exists, checked
      // above)
      if (ident.name == "changes" && ident.namespace.nonEmpty) {
        val parentIdent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        val parentDir = tableDir(parentIdent)
        if (fs.exists(parentDir))
          return new LakeChangesTable(
            (catalogName +: ident.namespace.toSeq :+ "changes")
              .mkString("."), parentDir.toString)
      }
      // `db.t.deletes` — the delete-debt inventory (both contracts:
      // equality refs + position DVs), the retirement-planning surface
      if (ident.name == "deletes" && ident.namespace.nonEmpty) {
        val parentIdent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        val parentDir = tableDir(parentIdent)
        if (fs.exists(parentDir))
          return new LakeDeletesTable(
            (catalogName +: ident.namespace.toSeq :+ "deletes")
              .mkString("."), parentDir.toString)
      }
      // `db.t.partitions` — the partition-inventory metadata table
      if (ident.name == "partitions" && ident.namespace.nonEmpty) {
        val parentIdent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        val parentDir = tableDir(parentIdent)
        if (fs.exists(parentDir))
          return new LakePartitionsTable(
            (catalogName +: ident.namespace.toSeq :+ "partitions")
              .mkString("."), parentDir.toString)
      }
      // `db.t.files` — the file-inventory metadata table
      if (ident.name == "files" && ident.namespace.nonEmpty) {
        val parentIdent = Identifier.of(ident.namespace.dropRight(1),
          ident.namespace.last)
        val parentDir = tableDir(parentIdent)
        if (fs.exists(parentDir))
          return new LakeFilesTable(
            (catalogName +: ident.namespace.toSeq :+ "files")
              .mkString("."), parentDir.toString)
      }
      throw new NoSuchTableException(ident)
    }
    new LakeTable((catalogName +: ident.namespace.toSeq :+ ident.name)
      .mkString("."), dir.toString)
  }

  /** Time travel — `SELECT … FROM t VERSION AS OF <ref>` resolves here:
    * `ref` is a numeric snapshot id or a TAG name (`LakeLog.tag`); the
    * returned table reads that snapshot's manifest and rejects writes.
    * Fails loud for unlogged tables, expired versions, unknown tags.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!fs.exists(dir)) throw new NoSuchTableException(ident)
    val name = (catalogName +: ident.namespace.toSeq :+ ident.name)
      .mkString(".")
    // a branch name reads the branch HEAD (read-only pin; writes go
    // through the db.t.branch_<name> spelling)
    LakeLog.branches(dir.toString).get(version) match {
      case Some(head) =>
        new LakeTable(name, dir.toString, pinnedVersion = Some(head),
          branch = Some(version))
      case None =>
        val v = LakeLog.resolve(dir.toString, version)
        LakeLog.snapshotAt(dir.toString, v) // existence check, fails loud
        new LakeTable(name, dir.toString, pinnedVersion = Some(v))
    }
  }

  /** `TIMESTAMP AS OF` — Spark hands MICROseconds since epoch; resolve
    * to the latest snapshot committed at or before that instant.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!fs.exists(dir)) throw new NoSuchTableException(ident)
    val snap = LakeLog.snapshotAsOfTime(dir.toString, timestampMicros / 1000L)
    new LakeTable((catalogName +: ident.namespace.toSeq :+ ident.name)
      .mkString("."), dir.toString, pinnedVersion = Some(snap.version))
  }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    // every column gets a FIELD ID at birth (1..n) — the identity that
    // survives renames and makes drop-then-re-add safe (ids are never
    // reused; readers resolve id-stamped files strictly by id)
    val schema = StructType(info.columns().zipWithIndex.map { case (c, i) =>
      StructField(c.name(), c.dataType(), c.nullable(),
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(LakeParquet.FieldIdKey, i + 1L).build())
    })
    // HIDDEN PARTITIONING: `PARTITIONED BY (bucket(8, k), days(ts), …)`
    // becomes the table's transform spec — validated against the
    // schema now (a bad source column/type must fail at CREATE, not at
    // first INSERT), persisted as a table property, burned into layout
    // from the first write
    val spec = LakePartitioning.fromTransforms(info.partitions())
    LakePartitioning.bind(spec, schema) // fails loud on bad col/type
    schema.fieldNames.foreach(n => require(
      n != LakeTableIO.MetaFile && n != LakeTableIO.MetaPos,
      s"graft_lake: '$n' is a reserved metadata column name"))
    val dir = tableDir(ident)
    fs.mkdirs(dir)
    LakeTableIO.writeSchema(dir.toString, schema,
      maxFieldId = schema.length)
    // TBLPROPERTIES: only the DML-mode switch is a real table knob;
    // Spark-internal bookkeeping properties (owner, provider, …) are
    // not persisted
    val mode = Option(info.properties().get("write.mode"))
    mode.foreach { m =>
      require(m == "merge-on-read" || m == "copy-on-write",
        s"graft_lake: write.mode must be merge-on-read or " +
          s"copy-on-write, got '$m'")
    }
    // bloom-indexed columns validated NOW (a bad column/type must fail
    // at CREATE, not silently build no index at first INSERT)
    val bloomCols = Option(info.properties().get(LakeBloom.ColKey))
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    bloomCols.foreach { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c))
      require(f.isDefined,
        s"graft_lake: ${LakeBloom.ColKey} names unknown column '$c'")
      require(LakeBloom.admits(f.get.dataType),
        s"graft_lake: ${LakeBloom.ColKey} column '$c' has type " +
          s"${f.get.dataType.simpleString} — blooms admit " +
          "int/bigint/string/date/timestamp")
    }
    // write sort order validated NOW: names must resolve (the ordered
    // write distribution would otherwise fail at first INSERT)
    val sortCols = Option(info.properties().get(LakeTableIO.SortColsKey))
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    sortCols.foreach { c =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"graft_lake: ${LakeTableIO.SortColsKey} names unknown " +
          s"column '$c'")
    }
    // NDV-sketched columns: same CREATE-grade validation as blooms
    val ndvCols = Option(info.properties().get(LakeNdv.ColKey))
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    ndvCols.foreach { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c))
      require(f.isDefined,
        s"graft_lake: ${LakeNdv.ColKey} names unknown column '$c'")
      require(LakeNdv.admits(f.get.dataType),
        s"graft_lake: ${LakeNdv.ColKey} column '$c' has type " +
          s"${f.get.dataType.simpleString} — NDV sketches admit " +
          "int/bigint/string/date/timestamp")
    }
    // histogram-sampled columns: same CREATE-grade validation
    val histCols = Option(info.properties().get(LakeHist.ColKey))
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    histCols.foreach { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c))
      require(f.isDefined,
        s"graft_lake: ${LakeHist.ColKey} names unknown column '$c'")
      require(LakeHist.admits(f.get.dataType),
        s"graft_lake: ${LakeHist.ColKey} column '$c' has type " +
          s"${f.get.dataType.simpleString} — histogram samples admit " +
          "int/bigint/date/timestamp")
    }
    // CHECK constraints validated NOW (parse/resolve/boolean against
    // the new schema); the table is empty, so the guarantee holds from
    // the first row — every write path enforces per row
    val checkProps = {
      import scala.jdk.CollectionConverters._
      info.properties().asScala.toMap.filter { case (k, _) =>
        k.startsWith(LakeChecks.Prefix) &&
          k.length > LakeChecks.Prefix.length
      }
    }
    checkProps.foreach { case (k, text) =>
      LakeChecks.resolve(org.apache.spark.sql.SparkSession.active,
        schema, k.substring(LakeChecks.Prefix.length), text)
    }
    // writer knobs validated NOW (CREATE-grade), persisted below
    val compression =
      Option(info.properties().get(LakeTableIO.CompressionKey))
    compression.foreach(LakeTableIO.validateCompression)
    val targetBytes =
      Option(info.properties().get(LakeTableIO.TargetFileBytesKey))
    targetBytes.foreach(LakeTableIO.validateTargetFileBytes)
    val props =
      compression.map(LakeTableIO.CompressionKey -> _).toMap ++
        targetBytes.map(LakeTableIO.TargetFileBytesKey -> _).toMap ++
        mode.filter(_ == "merge-on-read").map("write.mode" -> _).toMap ++
        (if (spec.isEmpty) Map.empty
         else Map(LakePartitioning.SpecKey ->
           LakePartitioning.show(spec))) ++
        (if (bloomCols.isEmpty) Map.empty
         else Map(LakeBloom.ColKey -> bloomCols.mkString(","))) ++
        (if (sortCols.isEmpty) Map.empty
         else Map(LakeTableIO.SortColsKey -> sortCols.mkString(","))) ++
        (if (ndvCols.isEmpty) Map.empty
         else Map(LakeNdv.ColKey -> ndvCols.mkString(","))) ++
        (if (histCols.isEmpty) Map.empty
         else Map(LakeHist.ColKey -> histCols.mkString(","))) ++
        checkProps ++
        // validation watermark v0: the guarantee holds from creation
        // (before any data) — see LakeChecks.MetaPrefix
        checkProps.keys.map(k => (LakeChecks.MetaPrefix +
          k.substring(LakeChecks.Prefix.length)) -> "0").toMap
    if (props.nonEmpty) LakeTableIO.writeProps(dir.toString, props)
    // v0 = the empty table: history (and any stream) starts at creation
    LakeLog.commit(dir.toString, "create", Seq.empty, Seq.empty, 0L)
    new LakeTable((catalogName +: ident.namespace.toSeq :+ ident.name)
      .mkString("."), dir.toString)
  }

  // route the deprecated StructType spelling through the TableInfo path
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTable(ident, new TableInfo.Builder()
      .withColumns(schema.fields.map(f =>
        org.apache.spark.sql.connector.catalog.Column
          .create(f.name, f.dataType, f.nullable)))
      .withPartitions(partitions)
      .withProperties(properties)
      .build())

  /** SQL `CALL graft_lake.system.<proc>(…)` — the maintenance surface
    * (history / rollback / expire / compact); see [[LakeProcedures]].
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    LakeProcedures.load(root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array(LakeProcedures.Namespace)))
      Array.empty
    else LakeProcedures.names
      .map(Identifier.of(Array(LakeProcedures.Namespace), _)).toArray

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    fs.exists(dir) && fs.delete(dir, true)
  }

  /** Schema evolution by metadata alone — no data rewrite, FIELD-ID
    * based (the Iceberg/Delta-column-mapping model):
    *
    *   - ADD COLUMN (top-level, nullable, appended last): the sidecar
    *     widens; the new column takes a FRESH id (`maxFieldId + 1` —
    *     ids are never reused), so re-adding a previously dropped name
    *     is safe against every id-stamped file (readers resolve those
    *     strictly by id and can never see the old column's values).
    *     Only a LEGACY id-less data file still carrying the name — or
    *     a name some other column previously had — blocks the add,
    *     because name-based resolution would be ambiguous there;
    *   - DROP COLUMN: the sidecar narrows; the bytes stay in the files
    *     (time travel ignores the sidecar's present, readers just never
    *     project the column again). The id retires with it;
    *   - RENAME COLUMN: the column keeps its id (and records the old
    *     name in prior-names metadata for id-less legacy files), so
    *     every existing file keeps resolving — old files readable
    *     under the new name, no rewrite.
    *
    *   - ALTER COLUMN TYPE: WIDENING promotions only (INT->BIGINT,
    *     FLOAT->DOUBLE — Iceberg's metadata-only set): the column keeps
    *     its id, no file rewrites; readers upcast old vintages at
    *     decode, and stats pruning stays conservative across the mixed
    *     physical types (kind-mismatch comparisons keep the file).
    *
    * Lossy type changes and repositioning still need a rewrite — fail
    * loud, never no-op. Each ALTER logs a `dataChange=false` commit for the
    * audit trail. A v1 (pre-field-id) sidecar migrates in place: ids
    * 1..n are assigned to the current columns first; its id-less files
    * keep resolving by name.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!fs.exists(dir)) throw new NoSuchTableException(ident)
    // two-phase: VALIDATE every change against the evolving schema
    // first, collecting audit labels, and only then persist + log — so
    // a multi-change ALTER where the third change is invalid leaves
    // neither a half-applied schema nor phantom alter_* commits in the
    // history for changes that never happened
    var (schema, maxId) = LakeTableIO.tableSchemaInfo(dir.toString)
    if (maxId == 0) {
      // migrate a v1 schema: current columns get ids 1..n; files
      // already on disk have no ids and keep resolving by name
      schema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(LakeParquet.FieldIdKey, i + 1L).build())
      })
      maxId = schema.length
    }
    def allPriorNames(s: StructType): Set[String] =
      s.fields.flatMap(LakeParquet.priorNames).map(_.toLowerCase).toSet
    val audits = scala.collection.mutable.ArrayBuffer.empty[String]
    // CHECK constraints added in THIS alter — re-validated once more
    // AFTER the properties land (see the re-validation block below)
    val addedChecks =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var propsAfter: Option[Map[String, String]] = None
    // rewrite the column-list knobs (write.sort.columns, bloom.columns)
    // through `f` — Some(newName) keeps/renames an entry, None drops it;
    // an emptied knob unsets. Chained through propsAfter so it composes
    // with SetProperty changes in the same ALTER.
    def editColKnobs(f: String => Option[String]): Unit = {
      val base = propsAfter.getOrElse(LakeTableIO.tableProps(dir.toString))
      val next = Seq(LakeTableIO.SortColsKey, LakeBloom.ColKey,
          LakeNdv.ColKey, LakeHist.ColKey)
        .foldLeft(base) { (props, key) =>
          props.get(key) match {
            case None => props
            case Some(v) =>
              val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
                .toSeq.flatMap(f(_))
              if (cols.isEmpty) props - key
              else props + (key -> cols.mkString(","))
          }
        }
      if (next != base) propsAfter = Some(next)
    }
    // CHECK constraints in the EVOLVING property state (a constraint
    // set earlier in this multi-change ALTER counts); a column one of
    // them references cannot be renamed or dropped — SQL-text rewrite
    // is fragile, so the constraint must be dropped first, loud
    def requireNoCheckOn(col: String, action: String): Unit = {
      val props = propsAfter.getOrElse(LakeTableIO.tableProps(dir.toString))
      val pinned = props.toSeq.collect {
        case (k, text) if k.startsWith(LakeChecks.Prefix) &&
            k.length > LakeChecks.Prefix.length &&
            (try LakeChecks.referencedColumns(
              org.apache.spark.sql.SparkSession.active, text)
              .exists(_.equalsIgnoreCase(col))
            // unparseable text: pin conservatively, never silently break
            catch { case scala.util.control.NonFatal(_) => true }) =>
          k.substring(LakeChecks.Prefix.length)
      }
      require(pinned.isEmpty,
        s"graft_lake: cannot $action column '$col' — check " +
          s"constraint(s) ${pinned.mkString(", ")} reference it; " +
          "UNSET the constraint first")
    }
    // live EQUALITY-DELETE refs bind their key columns by name: a
    // RENAME or DROP of a key column under live refs leaves refs that
    // can never re-bind — every read of an affected file fails, and
    // (unlike a bad commit) rollback stops helping once later commits
    // land. Retirement is cheap and restores full ALTER freedom.
    def requireNoEqOn(col: String, action: String): Unit = {
      val live = LakeLog.current(dir.toString).map(_.eqs)
        .getOrElse(Seq.empty)
        .filter(_.keyCols.exists(_.equalsIgnoreCase(col)))
      require(live.isEmpty,
        s"graft_lake: cannot $action column '$col' — live equality-" +
          s"delete ref(s) ${live.map(_.name).take(3).mkString(", ")} " +
          "key on it; CALL system.rewrite_deletes first")
    }
    // hidden partitioning interplay: specs reference source columns by
    // name, so a RENAME rewrites EVERY spec with it (evolution keeps
    // old layouts readable, so historical specs evolve in lockstep
    // too), a DROP of any spec's source column is rejected (old files'
    // layouts depend on it), and widening a BUCKET source of any spec
    // is rejected (the hash of 5:INT ≠ hash of 5:BIGINT — bucket
    // assignments are burned into the files)
    var specs = LakePartitioning.specsOf(dir.toString)
    def spec: Seq[LakePartitioning.PTransform] =
      if (specs.isEmpty) Seq.empty else specs.last
    def specSources: Set[String] =
      specs.flatten.map(_.col.toLowerCase).toSet
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft_lake: nested columns cannot be added")
        val name = add.fieldNames()(0)
        require(add.isNullable,
          s"graft_lake: new column $name must be nullable — existing " +
            "rows back-fill null")
        require(add.position() == null,
          "graft_lake: columns append at the end (no FIRST/AFTER)")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"graft_lake: column $name already exists")
        require(!allPriorNames(schema).contains(name.toLowerCase),
          s"graft_lake: $name is a PRIOR name of another column — " +
            "legacy id-less files would resolve it ambiguously")
        require(!LakeTableIO.legacyFooterColumns(dir.toString)
            .exists(_.equalsIgnoreCase(name)),
          s"graft_lake: a current ID-LESS data file still carries " +
            s"column $name (dropped earlier?) — name-based resolution " +
            "would resurrect its old values; rewrite those files first " +
            "(id-stamped files are immune: they resolve strictly by id)")
        maxId += 1
        schema = schema.add(StructField(name, add.dataType(),
          nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(LakeParquet.FieldIdKey, maxId.toLong).build()))
        audits += s"alter_add($name)"
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft_lake: nested columns cannot be dropped")
        val name = del.fieldNames()(0)
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (idx < 0) {
          if (!del.ifExists())
            throw new IllegalArgumentException(
              s"graft_lake: no column $name to drop")
        } else {
          require(schema.length > 1,
            "graft_lake: cannot drop the last column")
          require(!specSources.contains(name.toLowerCase),
            s"graft_lake: $name is a partition source column " +
              s"(${spec.map(_.show).mkString(",")}) — the table's " +
              "layout depends on it; rewrite to a new spec instead")
          requireNoCheckOn(name, "drop")
          requireNoEqOn(name, "drop")
          schema = StructType(schema.fields.patch(idx, Nil, 1))
          // the forward-looking knobs shed the dropped column (a
          // dangling name would wedge every subsequent write: the
          // ordered distribution / bloom harvest resolve by name)
          editColKnobs(c =>
            if (c.equalsIgnoreCase(name)) None else Some(c))
          audits += s"alter_drop($name)"
        }
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "graft_lake: nested columns cannot be renamed")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(idx >= 0, s"graft_lake: no column $from to rename")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"graft_lake: column $to already exists")
        requireNoCheckOn(from, "rename")
        requireNoEqOn(from, "rename")
        val f = schema.fields(idx)
        // renaming back to one of this column's OWN prior names is a
        // clean round-trip; a prior name of ANOTHER column is rejected
        // (legacy id-less files would resolve it ambiguously)
        val othersPriors = StructType(schema.fields.patch(idx, Nil, 1))
        require(!allPriorNames(othersPriors).contains(to.toLowerCase),
          s"graft_lake: $to is a PRIOR name of another column — " +
            "legacy id-less files would resolve it ambiguously")
        // keep the id; record the old name (most recent first) so
        // id-less legacy files keep resolving; the resurrected current
        // name leaves the prior list
        val priors = (f.name +: LakeParquet.priorNames(f))
          .filterNot(_.equalsIgnoreCase(to)).distinct
        val renamed = f.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(LakeParquet.PriorNamesKey, priors.toArray)
            .build())
        schema = StructType(schema.fields.updated(idx, renamed))
        // every spec follows the rename — partition identity is the
        // transform + source column, not the name
        specs = specs.map(_.map {
          case t if t.col.equalsIgnoreCase(from) =>
            t match {
              case p: LakePartitioning.PIdentity => p.copy(col = to)
              case p: LakePartitioning.PBucket   => p.copy(col = to)
              case p: LakePartitioning.PTruncate => p.copy(col = to)
              case p: LakePartitioning.PDays     => p.copy(col = to)
              case p: LakePartitioning.PMonths   => p.copy(col = to)
              case p: LakePartitioning.PYears    => p.copy(col = to)
              case p: LakePartitioning.PHours    => p.copy(col = to)
            }
          case t => t
        })
        // sort/bloom knobs follow the rename like the specs do
        editColKnobs(c =>
          if (c.equalsIgnoreCase(from)) Some(to) else Some(c))
        audits += s"alter_rename($from->$to)"
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames().length == 1,
          "graft_lake: nested column types cannot be changed")
        val name = ut.fieldNames()(0)
        val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"graft_lake: no column $name to widen")
        val f = schema.fields(idx)
        val (from, to) = (f.dataType, ut.newDataType())
        // metadata-only type WIDENING (Iceberg's type-promotion set):
        // every old value is exactly representable in the new type, so
        // files never rewrite — readers upcast per vintage, resolving
        // by field id. Anything lossy (narrowing, string↔number,
        // decimal scale changes) still needs a rewrite: fail loud.
        import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
        val widens = (from, to) match {
          case (IntegerType, LongType)  => true
          case (FloatType, DoubleType)  => true
          // DECIMAL precision growth at the SAME scale: the unscaled
          // value is identical under both types (scale changes would
          // rescale every value — lossy, rewrite). Both readers widen
          // across the INT64↔FLBA encoding boundary: new files encode
          // per the NEW precision, old vintages decode per their own
          // footer physical type.
          case (a: org.apache.spark.sql.types.DecimalType,
                b: org.apache.spark.sql.types.DecimalType) =>
            a.scale == b.scale && b.precision > a.precision &&
              b.precision <= 38
          case _                        => false
        }
        require(widens,
          s"graft_lake: cannot change $name from $from to $to — only " +
            "widening promotions (INT->BIGINT, FLOAT->DOUBLE, " +
            "DECIMAL(p,s)->DECIMAL(p+,s) up to 38) are " +
            "metadata-only; anything lossy needs a table rewrite")
        require(!specs.flatten.exists(t =>
            t.isInstanceOf[LakePartitioning.PBucket] &&
              t.col.equalsIgnoreCase(name)),
          s"graft_lake: $name is a bucket partition source — widening " +
            "would change the hash of every existing value (bucket " +
            "assignments are burned into the data layout)")
        schema = StructType(schema.fields.updated(idx,
          f.copy(dataType = to)))
        audits += s"alter_widen($name:${from.simpleString}->${to.simpleString})"
      case sp: TableChange.SetProperty =>
        // the three user knobs evolve by ALTER; everything else is
        // engine-owned state. Sort-order and bloom changes are
        // metadata-only and FORWARD-looking (Iceberg's semantics):
        // future writes pick them up, existing files stay readable and
        // conservatively judged (bloomless/unsorted vintages keep).
        val knobs = Set("write.mode", LakeTableIO.SortColsKey,
          LakeBloom.ColKey, LakeNdv.ColKey, LakeHist.ColKey,
          LakeTableIO.CompressionKey, LakeTableIO.TargetFileBytesKey)
        val isCheck = sp.property().startsWith(LakeChecks.Prefix) &&
          sp.property().length > LakeChecks.Prefix.length
        require(knobs.contains(sp.property()) || isCheck,
          s"graft_lake: unknown table property '${sp.property()}' " +
            s"(settable: ${knobs.toSeq.sorted.mkString(", ")}, " +
            s"${LakeChecks.Prefix}<name>)")
        if (isCheck) {
          // ADD CONSTRAINT on a live table: resolve against the
          // (possibly just-evolved) schema, then validate the EXISTING
          // rows once — Delta's semantics: a declared constraint is a
          // table-wide guarantee from the moment it exists
          val cname = sp.property().substring(LakeChecks.Prefix.length)
          val spark = org.apache.spark.sql.SparkSession.active
          LakeChecks.resolve(spark, schema, cname, sp.value())
          val fq = (catalogName +: ident.namespace.toSeq :+ ident.name)
            .map(p => s"`$p`").mkString(".")
          val violations = spark.sql(
            s"SELECT count(*) FROM $fq WHERE NOT (${sp.value()}) " +
              s"AND (${sp.value()}) IS NOT NULL")
            .collect().head.getLong(0)
          require(violations == 0L,
            s"graft_lake: cannot add check constraint '$cname' — " +
              s"$violations existing row(s) violate (${sp.value()})")
          // NO validation watermark yet: the watermark is what arms
          // contradiction pruning, and writing it alongside the
          // constraint text would make the post-props re-validation
          // below vacuous — `SELECT count(*) WHERE NOT (text)` is
          // exactly the filter shape the armed prune rewrites to zero
          // files, so the count would always "pass" without scanning.
          // The watermark lands only AFTER that re-count really ran
          // (pruneArmed stays false while it is missing). Stale sibling
          // watermark from a dropped+re-added same-name constraint is
          // scrubbed for the same reason.
          val base = propsAfter
            .getOrElse(LakeTableIO.tableProps(dir.toString))
          propsAfter = Some(base + (sp.property() -> sp.value()) -
            (LakeChecks.MetaPrefix + cname))
          addedChecks += ((cname, sp.value()))
          audits += s"alter_set(${sp.property()}=${sp.value()})"
        } else {
        val cols = sp.value().split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        def fieldOf(c: String) =
          schema.fields.find(_.name.equalsIgnoreCase(c))
        sp.property() match {
          case "write.mode" =>
            require(sp.value() == "merge-on-read" ||
                sp.value() == "copy-on-write",
              s"graft_lake: write.mode must be merge-on-read or " +
                s"copy-on-write, got '${sp.value()}'")
          case LakeTableIO.CompressionKey =>
            LakeTableIO.validateCompression(sp.value())
          case LakeTableIO.TargetFileBytesKey =>
            LakeTableIO.validateTargetFileBytes(sp.value())
          case LakeTableIO.SortColsKey =>
            cols.foreach(c => require(fieldOf(c).isDefined,
              s"graft_lake: ${LakeTableIO.SortColsKey} names unknown " +
                s"column '$c'"))
          case key @ (LakeBloom.ColKey | LakeNdv.ColKey |
                      LakeHist.ColKey) =>
            val (admits, what) =
              if (key == LakeBloom.ColKey)
                (LakeBloom.admits _, "blooms")
              else if (key == LakeHist.ColKey)
                (LakeHist.admits _, "histogram samples")
              else (LakeNdv.admits _, "NDV sketches")
            cols.foreach { c =>
              val f = fieldOf(c)
              require(f.isDefined,
                s"graft_lake: $key names unknown column '$c'")
              require(admits(f.get.dataType),
                s"graft_lake: $key column '$c' has " +
                  s"type ${f.get.dataType.simpleString} — not an " +
                  s"admitted type for $what")
            }
        }
        // merge, never replace: other persisted props (the partition
        // spec, sibling knobs — including one set earlier in THIS
        // multi-change ALTER) survive a single-knob flip
        val base = propsAfter
          .getOrElse(LakeTableIO.tableProps(dir.toString)) - sp.property()
        propsAfter = Some(
          if (sp.property() == "write.mode" &&
              sp.value() == "copy-on-write") base // the default: unset
          else base + (sp.property() -> sp.value()))
        audits += s"alter_set(${sp.property()}=${sp.value()})"
        }
      case rp: TableChange.RemoveProperty =>
        val knobs = Set("write.mode", LakeTableIO.SortColsKey,
          LakeBloom.ColKey, LakeNdv.ColKey, LakeHist.ColKey,
          LakeTableIO.CompressionKey, LakeTableIO.TargetFileBytesKey)
        val isCheckRm = rp.property().startsWith(LakeChecks.Prefix) &&
          rp.property().length > LakeChecks.Prefix.length
        require(knobs.contains(rp.property()) || isCheckRm,
          s"graft_lake: unknown table property '${rp.property()}'")
        val dropped = propsAfter
          .getOrElse(LakeTableIO.tableProps(dir.toString)) - rp.property()
        propsAfter = Some(
          if (!isCheckRm) dropped
          // the constraint's validation watermark retires with it
          else dropped - (LakeChecks.MetaPrefix +
            rp.property().substring(LakeChecks.Prefix.length)))
        audits += s"alter_unset(${rp.property()})"
      case other =>
        throw new UnsupportedOperationException(
          s"graft_lake: unsupported ALTER ${other.getClass.getSimpleName}" +
            " — type/position changes need a table rewrite")
    }
    LakeTableIO.writeSchema(dir.toString, schema, maxId)
    // fold the (possibly rename-rewritten) specs into whatever property
    // state this ALTER decided on
    val specsNow = LakePartitioning.specsOf(dir.toString)
    if (specs != specsNow || propsAfter.isDefined) {
      val base =
        propsAfter.getOrElse(LakeTableIO.tableProps(dir.toString))
      val next =
        if (specs.isEmpty)
          base - LakePartitioning.SpecKey - LakePartitioning.SpecsKey
        else {
          val withCur = base +
            (LakePartitioning.SpecKey -> LakePartitioning.show(spec))
          if (specs.length > 1)
            withCur + (LakePartitioning.SpecsKey ->
              LakePartitioning.showSpecs(specs))
          else withCur - LakePartitioning.SpecsKey
        }
      LakeTableIO.writeProps(dir.toString, next)
    }
    // ADD-CONSTRAINT race closure: re-validate AFTER the properties
    // landed. A writer whose factory predates the property write
    // enforces nothing and may commit rows between our first
    // validation and the props write; now that (a) the props are
    // visible (later-planned writes enforce; in-flight writes fail
    // their commit-time constraint-set re-check) and (b) we count
    // again, a violating row that slipped into that window is caught
    // here — the constraint is rolled back off the table and the
    // ALTER fails loud instead of declaring a broken guarantee.
    if (addedChecks.nonEmpty) {
      // test seam: fires after the properties landed and BEFORE the
      // re-validation — lets a spec inject exactly the concurrent
      // commit the re-validation exists to catch (production no-op)
      GraftCatalog.midAlterHook()
      val fq = (catalogName +: ident.namespace.toSeq :+ ident.name)
        .map(p => s"`$p`").mkString(".")
      val spark = org.apache.spark.sql.SparkSession.active
      // the head each re-count provably covers, read BEFORE the count:
      // this becomes the constraint's validation watermark. Rows that
      // commit after this read were planned with the check.<name>
      // property visible (enforced) or fail their commit-time
      // constraint-set re-check — either way the guarantee holds past
      // the watermark, so stamping the pre-count head is sound.
      val watermarks = addedChecks.map { case (cname, text) =>
        val wm = LakeLog.current(dir.toString)
          .map(_.version).getOrElse(0L)
        val violations =
          try spark.sql(s"SELECT count(*) FROM $fq WHERE NOT ($text) " +
            s"AND ($text) IS NOT NULL").collect().head.getLong(0)
          catch { case scala.util.control.NonFatal(_) => -1L }
        if (violations != 0L) {
          val cur = LakeTableIO.tableProps(dir.toString)
          LakeTableIO.writeProps(dir.toString,
            cur - (LakeChecks.Prefix + cname) -
              (LakeChecks.MetaPrefix + cname))
          throw new IllegalStateException(
            s"graft_lake: check constraint '$cname' rolled back — a " +
              s"concurrent write landed " +
              s"${if (violations < 0) "rows it could not re-validate"
                else s"$violations violating row(s)"} between " +
              "validation and declaration; retry the ALTER")
        }
        (LakeChecks.MetaPrefix + cname) -> wm.toString
      }
      // every re-count ran over a REAL scan (pruneArmed was false —
      // no watermark existed for the new constraints) and passed:
      // NOW arm contradiction pruning by publishing the watermarks
      LakeTableIO.writeProps(dir.toString,
        LakeTableIO.tableProps(dir.toString) ++ watermarks)
    }
    audits.foreach(op => LakeLog.commit(dir.toString, op, Seq.empty,
      Seq.empty, 0L, dataChange = false))
    new LakeTable((catalogName +: ident.namespace.toSeq :+ ident.name)
      .mkString("."), dir.toString)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft_lake: rename not supported")

  /** Partition-transform V2 functions ([[LakeFunctions]]) — what
    * Spark's storage-partitioned-join compatibility check and the
    * write-side clustered distribution resolve `bucket`/`truncate`/
    * `days`/`months`/`years` against. Resolvable bare and under the
    * `system` namespace (both spellings Spark probes).
    */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val ok = ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system"))
    (if (ok) LakeFunctions.load(ident.name) else None).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      LakeFunctions.names.map(Identifier.of(namespace, _)).toArray
    else throw new NoSuchNamespaceException(namespace)
}

object GraftCatalog {
  /** Test seam for the ADD-CONSTRAINT race-closure re-validation: fires
    * between the ALTER's property write and its post-props re-count,
    * so a spec can land the concurrent unenforced commit that window
    * admits and assert the ALTER rolls the constraint back loud. A
    * production no-op.
    */
  private[graft] var midAlterHook: () => Unit = () => ()
}
