package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

import graft.sources.dsv2.{GraftCatalog, LakeFs, LakeLog, LakeStats,
  LakeTableIO}

/** Measure what manifest-embedded file stats buy at PLANNING time: a
  * lake table of N range-disjoint files, a selective key predicate,
  * and the same [[LakeTableIO.planRowGroups]] call with and without
  * the manifest stats map — wall time and parquet footer opens for
  * both. The claim under test: with stats, planning I/O is
  * O(matching files); without, O(table files). The gap GROWS with N
  * (at lakehouse scale N is 10⁵–10⁷ and each footer open is a remote
  * read), so measuring at two N values shows the slope, not just the
  * constant.
  *
  * Usage: runMain graft.tools.StatsPruneBench <sfDir> [nFiles] [nFiles2]
  * Prints one JSON line per N.
  */
object StatsPruneBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val sizes = args.drop(1).map(_.toInt) match {
      case Array() => Seq(64, 256)
      case xs      => xs.toSeq
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "graft-statsprune")
    val root = java.nio.file.Files
      .createTempDirectory("graft-spb").toString
    spark.conf.set("spark.sql.catalog.spb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spb.root", root)
    implicit val lfs: LakeFs = LakeFs(spark)

    sizes.foreach { n =>
      val tbl = s"spb.db.t$n"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.read.parquet(s"$sfDir/orders.parquet")
        .repartitionByRange(n, col("o_orderkey"))
        .writeTo(tbl).create()
      val dir = s"$root/db/t$n"
      val head = LakeLog.current(dir).getOrElse(
        sys.error(s"no log at $dir"))
      val files = head.files.map(new Path(dir, _))
      val refs = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
      // ~one file's key range out of n
      val ks = spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(org.apache.spark.sql.functions.min("o_orderkey"),
          org.apache.spark.sql.functions.max("o_orderkey"))
        .collect().head
      val (kmin, kmax) = (ks.getLong(0), ks.getLong(1))
      val width = math.max(1L, (kmax - kmin) / n)
      val lo = kmin + (kmax - kmin) / 2
      val pushed: Array[org.apache.spark.sql.sources.Filter] = Array(
        GreaterThanOrEqual("o_orderkey", lo),
        LessThanOrEqual("o_orderkey", lo + width))
      def run(stats: Map[String, LakeStats.FileStats]): (Double, Long, Int) = {
        // min of 3: steady-state planning cost
        var best = Double.MaxValue
        var opens = 0L
        var kept = 0
        (1 to 3).foreach { _ =>
          val o0 = LakeStats.footerOpens.get()
          val t0 = System.nanoTime()
          val plan = LakeTableIO.planRowGroups(files, refs, pushed,
            pruneGroups = true, stats = stats)
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt < best) best = dt
          opens = LakeStats.footerOpens.get() - o0
          kept = plan.parts.length
        }
        (best, opens, kept)
      }
      val (tWith, oWith, kWith) = run(head.stats)
      val (tWithout, oWithout, kWithout) = run(Map.empty)
      println(s"""{"n_files":$n,"with_stats":{"sec":$tWith,""" +
        s""""footer_opens":$oWith,"kept_groups":$kWith},""" +
        s""""without_stats":{"sec":$tWithout,""" +
        s""""footer_opens":$oWithout,"kept_groups":$kWithout},""" +
        s""""speedup":${tWithout / math.max(tWith, 1e-9)}}""")
    }
    spark.stop()
  }
}
