package graft.sources.dsv2

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.LakeSnapshots

/** Table-maintenance procedures for [[GraftCatalog]], reachable from
  * plain SQL via Spark 4's `CALL` statement (the same surface Iceberg
  * exposes its maintenance through):
  *
  * {{{
  *   CALL graft_lake.system.history('db.t')
  *   CALL graft_lake.system.rollback('db.t', 3)
  *   CALL graft_lake.system.expire('db.t', 2)
  *   CALL graft_lake.system.compact('db.t', 134217728)
  * }}}
  *
  * Each procedure binds typed parameters, runs the corresponding
  * [[graft.operators.LakeSnapshots]] / [[LakeLog]] operation, and
  * returns its result as a [[LocalScan]] — log work is driver-side
  * metadata, so the result rows are already local; only `compact`
  * launches distributed work (the rewrite job), via the active session.
  */
object LakeProcedures {
  val Namespace = "system"

  def names: Seq[String] =
    Seq("history", "rollback", "expire", "compact", "zorder",
      "rewrite_deletes", "analyze", "tag", "drop_tag", "tags", "branch",
      "drop_branch", "fast_forward", "branches",
      "add_partition_field", "drop_partition_field")

  /** One partition-evolution step: validate the new CURRENT spec
    * against the live schema, append it to the spec list (old ids keep
    * naming old layouts), seal a `dataChange=false` audit commit.
    */
  private def evolveSpec(dir: String,
      step: Seq[LakePartitioning.PTransform] =>
        Seq[LakePartitioning.PTransform])(
      implicit lfs: LakeFs): GenericInternalRow = {
    val specs = LakePartitioning.specsOf(dir)
    val cur =
      if (specs.isEmpty) Seq.empty[LakePartitioning.PTransform]
      else specs.last
    val newSpec = step(cur)
    if (newSpec.nonEmpty) // empty = evolved to unpartitioned: fine
      LakePartitioning.bind(newSpec, LakeTableIO.tableSchema(dir))
    val all = specs :+ newSpec
    val props = LakeTableIO.tableProps(dir)
    LakeTableIO.writeProps(dir, props +
      (LakePartitioning.SpecKey -> LakePartitioning.show(newSpec)) +
      (LakePartitioning.SpecsKey -> LakePartitioning.showSpecs(all)))
    LakeLog.commit(dir,
      s"evolve_spec(${LakePartitioning.show(newSpec)})",
      Seq.empty, Seq.empty, 0L, dataChange = false)
    new GenericInternalRow(Array[Any](all.length - 1,
      UTF8String.fromString(LakePartitioning.show(newSpec))))
  }

  /** Resolve `system.<name>` for a catalog rooted at `root`. */
  def load(root: String, ident: Identifier)(
      implicit lfs: LakeFs): UnboundProcedure = {
    require(ident.namespace.sameElements(Array(Namespace)),
      s"graft_lake procedures live in the '$Namespace' namespace, got " +
        ident.namespace.mkString("."))
    def dirOf(table: String): String =
      (root +: table.split('.').toSeq).mkString("/")
    ident.name match {
      case "history" => new LakeProcedure("history",
        Array(param("table", StringType)),
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("n_files", IntegerType, nullable = false),
          StructField("n_added", IntegerType, nullable = false),
          StructField("n_removed", IntegerType, nullable = false),
          StructField("added_rows", LongType, nullable = false),
          StructField("data_change", BooleanType, nullable = false))),
        in => LakeSnapshots.historyRows(dirOf(str(in, 0))).map {
          case (v, op, nf, na, nr, rows, dc) =>
            new GenericInternalRow(Array[Any](v,
              UTF8String.fromString(op), nf, na, nr, rows, dc))
        })
      case "rollback" => new LakeProcedure("rollback",
        Array(param("table", StringType), param("version", LongType)),
        StructType(Seq(
          StructField("head_version", LongType, nullable = false))),
        in => {
          val v = LakeSnapshots.rollback(dirOf(str(in, 0)), in.getLong(1))
          Seq(new GenericInternalRow(Array[Any](v)))
        })
      case "expire" => new LakeProcedure("expire",
        Array(param("table", StringType), param("keep_last", IntegerType)),
        StructType(Seq(
          StructField("expired_manifests", IntegerType, nullable = false),
          StructField("deleted_files", IntegerType, nullable = false))),
        in => {
          val (m, f) = LakeSnapshots.expire(dirOf(str(in, 0)), in.getInt(1))
          Seq(new GenericInternalRow(Array[Any](m, f)))
        })
      case "compact" => new LakeProcedure("compact",
        Array(param("table", StringType), param("target_bytes", LongType)),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false))),
        in => {
          val (before, after) = LakeSnapshots.compact(
            SparkSession.active, dirOf(str(in, 0)), in.getLong(1))
          Seq(new GenericInternalRow(Array[Any](before, after)))
        })
      case "rewrite_deletes" => new LakeProcedure("rewrite_deletes",
        Array(param("table", StringType)),
        StructType(Seq(
          StructField("files_rewritten", IntegerType, nullable = false),
          StructField("positions_materialized", LongType,
            nullable = false))),
        in => {
          val (files, positions) = LakeSnapshots.rewriteDeletes(
            SparkSession.active, dirOf(str(in, 0)))
          Seq(new GenericInternalRow(Array[Any](files, positions)))
        })
      case "analyze" => new LakeProcedure("analyze",
        Array(param("table", StringType)),
        StructType(Seq(
          StructField("files_amended", IntegerType, nullable = false),
          StructField("facts_added", IntegerType, nullable = false))),
        in => {
          val (files, facts) = LakeAnalyze.analyze(
            SparkSession.active, dirOf(str(in, 0)))
          Seq(new GenericInternalRow(Array[Any](files, facts)))
        })
      case "zorder" => new LakeProcedure("zorder",
        Array(param("table", StringType), param("columns", StringType),
          param("target_files", IntegerType)),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false))),
        in => {
          val cols = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty)
          val (before, after) = LakeSnapshots.zorder(
            SparkSession.active, dirOf(str(in, 0)), cols.toSeq,
            in.getInt(2))
          Seq(new GenericInternalRow(Array[Any](before, after)))
        })
      // PARTITION EVOLUTION (Iceberg's ALTER TABLE ... ADD/DROP
      // PARTITION FIELD, spelled as procedures since stock Spark SQL
      // has no syntax for it): the table's spec list grows a NEW
      // current spec — ZERO files rewrite; existing vintages keep
      // their own layout (each file's tuple records its spec id) and
      // every reader resolves per file. New writes use the new spec.
      case "add_partition_field" => new LakeProcedure(
        "add_partition_field",
        Array(param("table", StringType), param("field", StringType)),
        StructType(Seq(
          StructField("spec_id", IntegerType, nullable = false),
          StructField("spec", StringType, nullable = false))),
        in => {
          val t = LakePartitioning.parse(str(in, 1)) match {
            case Seq(one) => one
            case other => throw new IllegalArgumentException(
              s"add_partition_field takes ONE transform, got " +
                s"'${str(in, 1)}' (${other.size})")
          }
          Seq(evolveSpec(dirOf(str(in, 0)), cur => {
            require(!cur.exists(_.show == t.show),
              s"graft_lake: spec already contains ${t.show}")
            cur :+ t
          }))
        })
      case "drop_partition_field" => new LakeProcedure(
        "drop_partition_field",
        Array(param("table", StringType), param("field", StringType)),
        StructType(Seq(
          StructField("spec_id", IntegerType, nullable = false),
          StructField("spec", StringType, nullable = false))),
        in => {
          val want = LakePartitioning.parse(str(in, 1)) match {
            case Seq(one) => one.show
            case _ => str(in, 1).trim // bare column = identity spelling
          }
          Seq(evolveSpec(dirOf(str(in, 0)), cur => {
            val next = cur.filterNot(t => t.show == want ||
              (t.isInstanceOf[LakePartitioning.PIdentity] &&
                t.col.equalsIgnoreCase(want)))
            require(next.size == cur.size - 1,
              s"graft_lake: '$want' matches ${cur.size - next.size} " +
                s"fields of spec [${cur.map(_.show).mkString(",")}] — " +
                "need exactly one")
            next
          }))
        })
      case "tag" => new LakeProcedure("tag",
        Array(param("table", StringType), param("name", StringType),
          param("version", LongType)),
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        in => {
          val (name, v) = (str(in, 1), in.getLong(2))
          LakeLog.tag(dirOf(str(in, 0)), name, v)
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), v)))
        })
      case "drop_tag" => new LakeProcedure("drop_tag",
        Array(param("table", StringType), param("name", StringType)),
        StructType(Seq(
          StructField("dropped", BooleanType, nullable = false))),
        in => Seq(new GenericInternalRow(Array[Any](
          LakeLog.dropTag(dirOf(str(in, 0)), str(in, 1))))))
      case "tags" => new LakeProcedure("tags",
        Array(param("table", StringType)),
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        in => LakeLog.tags(dirOf(str(in, 0))).toSeq.sortBy(_._1).map {
          case (name, v) => new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), v))
        })
      case "branch" => new LakeProcedure("branch",
        Array(param("table", StringType), param("name", StringType)),
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("fork_version", LongType, nullable = false))),
        in => {
          val name = str(in, 1)
          val fork = LakeLog.createBranch(dirOf(str(in, 0)), name)
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), fork.version)))
        })
      case "drop_branch" => new LakeProcedure("drop_branch",
        Array(param("table", StringType), param("name", StringType)),
        StructType(Seq(
          StructField("dropped", BooleanType, nullable = false))),
        in => Seq(new GenericInternalRow(Array[Any](
          LakeLog.dropBranch(dirOf(str(in, 0)), str(in, 1))))))
      case "fast_forward" => new LakeProcedure("fast_forward",
        Array(param("table", StringType), param("name", StringType)),
        StructType(Seq(
          StructField("commits_published", IntegerType, nullable = false))),
        in => Seq(new GenericInternalRow(Array[Any](
          LakeLog.fastForward(dirOf(str(in, 0)), str(in, 1))))))
      case "branches" => new LakeProcedure("branches",
        Array(param("table", StringType)),
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("head_version", LongType, nullable = false))),
        in => LakeLog.branches(dirOf(str(in, 0))).toSeq.sortBy(_._1).map {
          case (name, v) => new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), v))
        })
      case other => throw new IllegalArgumentException(
        s"no such procedure: $Namespace.$other " +
          s"(available: ${names.mkString(", ")})")
    }
  }

  private def param(name: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()

  private def str(in: InternalRow, i: Int): String =
    in.getUTF8String(i).toString
}

/** One CALL-able procedure: binds trivially (parameters are fixed), runs
  * `body` on the bound argument row, returns one [[LocalScan]] of
  * result rows. Side-effecting, hence non-deterministic.
  */
private[dsv2] class LakeProcedure(procName: String,
                                  params: Array[ProcedureParameter],
                                  out: StructType,
                                  body: InternalRow => Seq[InternalRow])
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = procName
  override def description(): String = s"graft_lake $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params
  override def isDeterministic: Boolean = false
  override def call(input: InternalRow): java.util.Iterator[Scan] =
    Collections.singletonList[Scan](
      new LakeProcedureResult(out, body(input).toArray)).iterator()
}

private[dsv2] class LakeProcedureResult(out: StructType,
                                        data: Array[InternalRow])
    extends LocalScan {
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = out
  override def description(): String = s"graft_lake procedure result"
}
