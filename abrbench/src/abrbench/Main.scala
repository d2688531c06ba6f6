package abrbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{BenchCalib, CacheRegistry, GraftSession, SparkEntry}
import graft.pipeline.{AbrSchemas, AgencyDeltaStage, Pipeline}
import graft.sources.DatasetRegistry
import graft.sources.dsv2.{LakeCatalogs, LakeLog}

/** The benchmark's JVM: one Spark session on `local[cpus]`,
  * one client, a closed loop (each operation starts when the previous one
  * has returned). It calls only the program's public functions and
  * writes what it saw — operation times, run-log events, spans and the
  * Spark listener's task records — to one JSON file; `run.py` turns that
  * into metrics and checks the outputs.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *             <cpus> <setups> [query,query,...]
  *
  * The optional query list names declared queries (`SparkEntry.queries`)
  * to run once each, traced, after the loop (see [[QueryPass]]).
  */
object Main {

  final case class Opts(workload: String, input: String, work: String,
                        seconds: Double, trace: Boolean, cpus: Int,
                        setups: Int, queries: Seq[String])

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  val Warmups = 2

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1), args(2), args(3).toDouble, args(4) == "1",
      args(5).toInt, args(6).toInt,
      args.lift(7).toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
    val wl: Workload = o.workload match {
      case "weekly_drop" => new WeeklyWorkload(o)
      case "lake_upserts" => new LakeWorkload(o)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val clock = new Clock
    val tracer = new Tracer(clock)

    // set-up, repeated: each repetition starts a fresh session and seeds
    // a fresh lake; the loop runs on the last one
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until o.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      wl.setup(spark, i)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val listener = new TaskLog(clock)
    val calib = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var gc0 = 0L
    var stat0 = ""
    var loop0 = 0L
    def elapsed = (System.nanoTime() - loop0) / 1e9
    // the first Warmups operations run while classes load and the JIT
    // compiles the delta's generated code (the next ones still ran ~30 %
    // slower with one); they are checked but kept out of every metric, and
    // the measured loop starts when they end
    var i = 0
    var stop = false
    while (!stop && wl.hasNext(i) && (i < Warmups || elapsed < o.seconds)) {
      if (i >= Warmups) calib += BenchCalib.measureOnce()
      // in a traced run, operations alternate untraced, traced, traced,
      // untraced (ABBA), so the run carries its own untraced baseline for
      // the tracing overhead and a drift over the run cancels out of it
      val traced = o.trace && i >= Warmups && Set(1, 2)((i - Warmups) % 4)
      if (traced) spark.sparkContext.addSparkListener(listener)
      val rec =
        try wl.op(spark, i, if (traced) Some(tracer) else None)
        catch { case e: Exception =>
          // a failed operation ends the loop: the lake may be half-written
          e.printStackTrace()
          stop = true
          Map("error" -> String.valueOf(e.getMessage), "wall_s" -> 0.0)
        }
      if (traced) {
        org.apache.spark.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      ops += rec ++ Map("i" -> i, "traced" -> traced, "warmup" -> (i < Warmups))
      if (i == Warmups - 1) {
        gc0 = gcMs()
        stat0 = procStat()
        loop0 = System.nanoTime()
      }
      i += 1
    }
    val loopS = elapsed
    val stat1 = procStat()
    val gcS = (gcMs() - gc0) / 1e3

    val sc = spark.sparkContext
    val pinnedB = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val heapB = heapAfterGc()
    val end = wl.finish(spark)
    val queries =
      if (o.queries.isEmpty) Nil
      else {
        sc.addSparkListener(listener)
        val r = QueryPass.run(spark, o.queries, s"${o.input}/tables",
          s"${o.work}/queries", tracer)
        org.apache.spark.BusDrain(sc)
        sc.removeSparkListener(listener)
        r
      }

    val out = Map(
      "workload" -> o.workload,
      "setup_s" -> setupS.toSeq,
      "loop_s" -> loopS,
      "ops" -> ops.toSeq,
      "queries" -> queries,
      "end" -> (end ++ Map(
        "pinned_storage_b" -> pinnedB, "heap_after_gc_b" -> heapB)),
      "calib_ms" -> calib.toSeq,
      "gc_s" -> gcS,
      "proc_stat" -> Seq(stat0, stat1),
      "spans" -> tracer.spans,
      "tasks" -> listener.tasks,
      "stages" -> listener.stages,
      "jobs" -> listener.jobs,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cpus" -> o.cpus,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "max_heap_b" -> Runtime.getRuntime.maxMemory()))
    spark.stop()
    Files.writeString(Paths.get(o.work, "result.json"),
      mapper.writeValueAsString(out))
  }

  /** The session every workload runs on: the program's own session shape,
    * with scratch space kept inside the work directory.
    */
  def session(o: Opts): SparkSession = {
    val s = GraftSession
      .builder(s"local[${o.cpus}]", o.cpus.toString, "abrbench")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full GC. Spark's context cleaner frees shuffle
    * and broadcast state only after the GC that clears their weak
    * references, so the collection is repeated and the lowest reading
    * taken.
    */
  def heapAfterGc(): Long = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }.min

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def procStat(): String =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).getOrElse("")
    catch { case _: Exception => "" }

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: set-up, the i-th timed operation, and what is collected
  * after the loop for the output checks.
  */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def hasNext(i: Int): Boolean
  def op(spark: SparkSession, i: Int, tracer: Option[Tracer]): Map[String, Any]
  def finish(spark: SparkSession): Map[String, Any]
}

/** `weekly_drop`: each operation is one `Pipeline.run` over the next
  * week's zip; set-up runs the pipeline on the seed week (week 0), which
  * has no predecessor and so no delta.
  */
final class WeeklyWorkload(o: Main.Opts) extends Workload {
  private val weeks: Int = {
    val s = Files.list(Paths.get(o.input))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("week_")) - 1
    finally s.close()
  }
  private var lakeRoot = ""

  // the other seven datasets are opaque: four placeholder columns each
  private val schemas: Map[String, Seq[String]] =
    DatasetRegistry.datasets.map(_ -> Seq("c1", "c2", "c3", "c4")).toMap ++
      Map("Agency_Data" -> AbrSchemas.agencyColumns)

  /** Copy week `w`'s zip to where the pipeline expects its download; the
    * pipeline deletes it after a successful run.
    */
  private def stageZip(w: Int): String = {
    val dl = Paths.get(o.work, "download")
    Files.createDirectories(dl)
    val z = dl.resolve(f"week_$w%02d.zip")
    Files.copy(Paths.get(o.input, f"week_$w%02d.zip"), z,
      StandardCopyOption.REPLACE_EXISTING)
    z.toString
  }

  private def config(w: Int, hooks: Option[Map[String,
      Seq[(SparkSession, Pipeline.Config, String, Pipeline.RunLog) => Unit]]]) = {
    val base = Pipeline.Config(
      stagingDir = s"${o.work}/staging", lakeRoot = lakeRoot,
      zipFile = Some(stageZip(w)), schemas = schemas)
    hooks.fold(base)(h => base.copy(hooks = h))
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    lakeRoot = s"${o.work}/lake$rep"
    Pipeline.run(spark, config(0, None))
  }

  def hasNext(i: Int): Boolean = i < weeks

  def op(spark: SparkSession, i: Int, tracer: Option[Tracer]): Map[String, Any] = {
    val w = i + 1
    tracer match {
      case None =>
        val cfg = config(w, None)
        val (_, s) = Main.secs(Pipeline.run(spark, cfg))
        Map("week" -> w, "wall_s" -> s)
      case Some(t) =>
        val clock = t.clock
        val events = ArrayBuffer.empty[(Double, String)]
        val log = new Pipeline.RunLog(m => events += ((clock.nowMs(), m)))
        val hook: (SparkSession, Pipeline.Config, String, Pipeline.RunLog) => Unit =
          (s, c, d, l) => t.span("delta", w)(AgencyDeltaStage.run(s, c, d, l))
        val cfg = config(w, Some(Map("Agency_Data" -> Seq(hook))))
        // the kill-switch check, timed on its own: inside the run it is
        // not bracketed by any run-log event
        t.span("killswitch", w)(Pipeline.checkDisabled(spark, cfg, log))
        events.clear()
        val (_, s) = Main.secs(
          t.span("week", w)(Pipeline.run(spark, cfg, log)))
        Map("week" -> w, "wall_s" -> s,
          "events" -> events.map { case (ts, m) => Seq(ts, m) }.toSeq)
    }
  }

  def finish(spark: SparkSession): Map[String, Any] =
    Map("lake_root" -> lakeRoot)
}

/** `lake_upserts`: a merge-on-read `graft_lake` table holding the
  * Agency_Data current state; each operation is one MERGE of the next
  * batch, a point lookup by `pid` and a time-travel count one version
  * back.
  */
final class LakeWorkload(o: Main.Opts) extends Workload {
  private val batches: Int = {
    val s = Files.list(Paths.get(o.input))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("batch_"))
    finally s.close()
  }
  private var table = ""
  private var dir = ""
  private val cols = AbrSchemas.agencyColumns

  def setup(spark: SparkSession, rep: Int): Unit = {
    LakeCatalogs.register(spark)
    val ns = s"abrbench_${ProcessHandle.current().pid()}_$rep"
    table = s"${LakeCatalogs.CatalogName}.$ns.agency"
    dir = s"${LakeCatalogs.root}/$ns/agency"
    spark.sql(s"CREATE TABLE $table (${cols.map(c => s"$c STRING").mkString(", ")}) " +
      "TBLPROPERTIES ('write.mode'='merge-on-read')")
    spark.read.parquet(s"${o.input}/base.parquet").createOrReplaceTempView("base")
    spark.sql(s"INSERT INTO $table SELECT ${cols.mkString(", ")} FROM base")
  }

  def hasNext(i: Int): Boolean = i < batches

  def op(spark: SparkSession, i: Int, tracer: Option[Tracer]): Map[String, Any] = {
    spark.read.parquet(f"${o.input}/batch_$i%02d.parquet")
      .createOrReplaceTempView("batch")
    val key = Files.readString(Paths.get(f"${o.input}/batch_$i%02d.lookup"))
    val before = LakeLog.currentVersion(dir).get
    def sp[A](name: String)(f: => A): A =
      tracer.fold(f)(_.span(name, i)(f))
    val sets = cols.tail.map(c => s"t.$c = s.$c").mkString(", ")
    val ((mergeS, planS, row, execS, cnt, travelS), wall) =
      Main.secs(sp("round") {
        val (_, mergeS) = Main.secs(sp("merge")(spark.sql(
          s"""MERGE INTO $table t USING batch s ON t.pid = s.pid
             |WHEN MATCHED THEN UPDATE SET $sets
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)))
        val (lookup, planS) = Main.secs(sp("lookup_plan") {
          val df = spark.sql(s"SELECT * FROM $table WHERE pid = '$key'")
          df.queryExecution.executedPlan
          df
        })
        val (row, execS) = Main.secs(sp("lookup_exec")(lookup.collect()))
        val (cnt, travelS) = Main.secs(sp("travel")(spark.sql(
          s"SELECT count(*) FROM $table VERSION AS OF $before")
          .collect()(0).getLong(0)))
        (mergeS, planS, row, execS, cnt, travelS)
      })
    val base = Map("batch" -> i, "wall_s" -> wall, "merge_s" -> mergeS,
      "lookup_plan_s" -> planS, "lookup_exec_s" -> execS,
      "travel_s" -> travelS, "travel_version" -> before,
      "travel_count" -> cnt, "lookup_pid" -> key,
      "lookup_rows" -> row.map(r => cols.map(c => r.getAs[String](c))).toSeq)
    // the log layer timed directly, outside the operation's time
    tracer.foreach { t =>
      t.span("head", i)(LakeLog.current(dir))
      t.span("snapshot_at", i)(LakeLog.snapshotAt(dir, before))
    }
    base
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val head = LakeLog.current(dir).get
    val out = s"${o.work}/final_state"
    spark.table(table).write.parquet(out)
    Map("table_dir" -> dir, "final_state" -> out,
      "versions" -> head.version, "data_files" -> head.files.size,
      "dv_files" -> head.dvs.values.map(_.size).sum)
  }
}

/** One pass over declared queries, each in a fresh `newSession()` as the
  * program's own bench runs them: `build` is the registry call (plan
  * construction plus any first-touch fixture or artifact build), `exec`
  * collects the result. Results are written as parquet for the oracle
  * check, outside both spans.
  */
object QueryPass {
  def run(spark: SparkSession, names: Seq[String], sfDir: String,
          out: String, tracer: Tracer): Seq[Map[String, Any]] =
    names.zipWithIndex.map { case (n, j) =>
      val s = spark.newSession()
      CacheRegistry.setCurrent(n)
      val op = 1000 + j
      val (df, buildS) = Main.secs(
        tracer.span(s"build:$n", op)(SparkEntry.queries(n)(s, sfDir)))
      val (rows, execS) = Main.secs(
        tracer.span(s"exec:$n", op)(df.collect()))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$out/$n")
      Map("name" -> n, "op" -> op, "build_s" -> buildS, "exec_s" -> execS,
        "oracle" -> SparkEntry.oracleSql.getOrElse(n, ""),
        "result" -> s"$out/$n")
    }
}
