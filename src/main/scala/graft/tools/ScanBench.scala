package graft.tools

import org.apache.spark.sql.functions._

/** Decode-path microbench: CTAS `orders` (optionally replicated to the
  * target row count) into a connector table once, then time FULL scans
  * (a residual filter keeps the metadata aggregate from
  * short-circuiting the read) under BOTH read paths — vectorized
  * ColumnarBatch (default) and the row fast path (kill switch) —
  * isolating the PartitionReader's value-decode cost from
  * fixture/planning noise. The wide aggregate touches 5 columns of
  * every surviving row.
  *
  * Usage: runMain graft.tools.ScanBench <sfDir> [runs=5] [replicate=1]
  *        [compactFiles=0]
  * compactFiles > 0 bin-packs the CTAS'd table toward that many files
  * first — the genuinely scan-bound shape (replication writes one
  * small file per replica, and 700 footers of planning noise would
  * otherwise drown the decode cost this tool exists to measure).
  */
object ScanBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args.lift(1).map(_.toInt).getOrElse(5)
    val replicate = args.lift(2).map(_.toInt).getOrElse(1)
    val compactFiles = args.lift(3).map(_.toInt).getOrElse(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.GraftSession.local(cpus, "graft-scanbench")
    import graft.sources.dsv2.LakeCatalogs
    LakeCatalogs.register(spark)
    implicit val lfs: graft.sources.dsv2.LakeFs =
      graft.sources.dsv2.LakeFs(spark)
    val ns = LakeCatalogs.ns(sfDir)
    val tbl = s"${LakeCatalogs.CatalogName}.$ns.scanbench_orders"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val base = graft.Tables(spark, sfDir, "orders")
    val src =
      if (replicate <= 1) base
      else (1 until replicate).foldLeft(base)((acc, i) =>
        acc.unionByName(base.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * 100000000L))))
    src.writeTo(tbl).create()
    if (compactFiles > 0) {
      val dir = graft.sources.dsv2.LakeCatalogs.tablePath(
        sfDir, "scanbench_orders")
      val total = graft.sources.dsv2.LakeLog.current(dir).get.files
        .map(f => new org.apache.hadoop.fs.Path(dir, f))
        .map(p => lfs.fs(p).getFileStatus(p).getLen).sum
      val (b, a) = graft.operators.LakeSnapshots.compact(
        spark, dir, math.max(1L, total / compactFiles) + (32L << 10))
      println(s"SCANB compacted files $b -> $a")
    }
    val n = spark.table(tbl).count()
    println(s"SCANB rows=$n")
    // wide decode: 5 columns of every row cross the reader
    def q = spark.table(tbl)
      .where(col("o_orderkey") >= 0L) // residual: forces the scan
      .agg(count(lit(1)), sum("o_custkey"),
        sum(length(col("o_orderstatus"))),
        min("o_orderdate"), sum(col("o_totalprice")))
    def time(label: String): Unit = (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      val r = q.collect()
      println(f"SCANB $label run$i ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"row=${r.head}")
    }
    System.setProperty("graft.lake.reader.columnar", "true")
    println("SCANB plan(columnar) " + q.queryExecution.executedPlan
      .toString.linesIterator
      .filter(l => l.contains("Scan") || l.contains("ColumnarToRow"))
      .mkString(" | ").take(300))
    time("columnar")
    System.setProperty("graft.lake.reader.columnar", "false")
    time("row")
    // EQ-ATTACHED scan (r16 receipt): one equality ref tombstoning
    // ~1% of keys, committed through the engine's own channel; its
    // key range spans every file, so the membership test sits in the
    // decode loop of BOTH paths — this times columnar selection-
    // vector subtraction against the row reader's per-row test on
    // the shape a continuously-upserted table's hot files have.
    val dir = graft.sources.dsv2.LakeCatalogs.tablePath(
      sfDir, "scanbench_orders")
    val keys = spark.table(tbl).select("o_orderkey")
      .where(col("o_orderkey") % 97 === 0)
      .collect().map(_.getLong(0).toString).toSeq // fixture setup,
        // outside the timed region (~1% of keys)
    val side = graft.sources.dsv2.LakeEq.write(
      dir, Seq("o_orderkey"), keys)
    graft.sources.dsv2.LakeLog.commit(dir, "eq_bench", Seq.empty,
      Seq.empty, 0L, dataChange = false,
      eqAdded = Seq((side, Seq("o_orderkey"), keys.size.toLong)))
    println(s"SCANB eq ref attached: ${keys.size} keys")
    System.setProperty("graft.lake.reader.columnar", "true")
    println("SCANB plan(columnar+eq) " + q.queryExecution.executedPlan
      .toString.linesIterator
      .filter(l => l.contains("Scan") || l.contains("ColumnarToRow"))
      .mkString(" | ").take(300))
    time("columnar+eq")
    System.setProperty("graft.lake.reader.columnar", "false")
    time("row+eq")
    System.clearProperty("graft.lake.reader.columnar")
    spark.stop()
  }
}
