package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog, LakePartitioning}

/** V2 predicate pushdown on the lake scan
  * ([[graft.sources.dsv2.LakeScanBuilder.pushPredicates]]): an
  * EXPLICITLY-written transform predicate over the catalog's own bound
  * functions — `bucket(8, k) = 3`, `years(d) = 54` — prunes files
  * against their manifest tuples, a shape the V1 Filter API
  * structurally cannot carry. Soundness pins: the predicate is always
  * RESIDUAL (Spark re-evaluates rows, so pruning can never change an
  * answer), a mismatched parameter or absent transform never prunes,
  * tuple-less files are kept, and ordinary filters keep riding the V1
  * machinery (consumption verified end to end elsewhere; translation
  * parity spot-pinned here).
  */
class LakeV2PredicateSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-v2p").toString
    n += 1
    val cat = s"v2pcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def lakeDesc(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect()
    def walk(p: SparkPlan): Seq[String] = {
      val children = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case other                    => other.children
      }
      (p match {
        case b: BatchScanExec
            if b.scan.description.contains("graft_lake") =>
          Seq(b.scan.description)
        case _ => Nil
      }) ++ children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).mkString("\n")
  }

  private def prunedOf(desc: String): (Int, Int) = {
    val m = "files_pruned_by_partition=(\\d+)/(\\d+)".r
      .findFirstMatchIn(desc).getOrElse(fail(s"no pruning tag: $desc"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("bucket(8, k) = 3 written explicitly prunes to the matching " +
       "bucket's files (V1 filters cannot carry the shape), stays " +
       "residual, and the result is exactly the brute evaluation") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.b (k BIGINT, v STRING) " +
        s"PARTITIONED BY (bucket(8, k))")
      spark.range(0, 800).selectExpr("id AS k", "concat('v', id) AS v")
        .createOrReplaceTempView("v2p_src")
      spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM v2p_src")
      val head = LakeLog.current(s"$root/db/b").get
      assert(head.files.size == 8, s"one file per bucket: ${head.files}")
      val q = spark.sql(
        s"SELECT k FROM $cat.db.b WHERE $cat.system.bucket(8, k) = 3")
      val desc = lakeDesc(q)
      assert(desc.contains("pushed_transform=["), desc)
      val (pruned, total) = prunedOf(desc)
      assert(total == 8 && pruned == 7,
        s"exactly the 7 sibling buckets prune: $desc")
      // the predicate must stay RESIDUAL — Spark re-evaluates rows
      assert(q.queryExecution.executedPlan.toString.contains("Filter"),
        "the transform predicate must keep a Filter node")
      // brute-force oracle: the writer's own transform evaluation
      val bound = LakePartitioning.Bound(
        LakePartitioning.PBucket(8, "k"), 0,
        org.apache.spark.sql.types.LongType)
      val expected = (0L until 800L).filter(k => bound.eval(k) == 3)
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == expected,
        "pruned result must equal the brute evaluation")
      // counter-pin: a MISMATCHED parameter (bucket(16, k)) must not
      // prune against bucket(8) tuples — and still answer exactly
      val q16 = spark.sql(
        s"SELECT k FROM $cat.db.b WHERE $cat.system.bucket(16, k) = 3")
      val d16 = lakeDesc(q16)
      assert(prunedOf(d16)._1 == 0,
        s"bucket(16) must not prune bucket(8) tuples: $d16")
      val bound16 = LakePartitioning.Bound(
        LakePartitioning.PBucket(16, "k"), 0,
        org.apache.spark.sql.types.LongType)
      val exp16 = (0L until 800L).filter(k => bound16.eval(k) == 3)
      assert(q16.collect().map(_.getLong(0)).sorted.toSeq == exp16)
    }
  }

  test("years(d) = n prunes a years-partitioned table to the matching " +
       "year's files; a tuple-less external file is KEPT and the " +
       "residual filter keeps the answer exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.y (d DATE, x BIGINT) " +
        s"PARTITIONED BY (years(d))")
      spark.sql(s"INSERT INTO $cat.db.y VALUES " +
        "(DATE '2022-03-01', 1), (DATE '2023-06-02', 2), " +
        "(DATE '2024-01-03', 3), (DATE '2024-11-04', 4), " +
        "(DATE '2025-02-05', 5)")
      val dir = s"$root/db/y"
      assert(LakeLog.current(dir).get.files.size == 4,
        "one file per year partition")
      // years() ordinals are years since 1970: 2024 -> 54
      val q = spark.sql(s"SELECT x FROM $cat.db.y " +
        s"WHERE $cat.system.years(d) = 54")
      val desc = lakeDesc(q)
      assert(desc.contains("pushed_transform=["), desc)
      assert(prunedOf(desc) == ((3, 4)), s"three sibling years prune: $desc")
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
      // inject a TUPLE-LESS file holding a 2024 row AND a 2023 row:
      // pruning must keep it (no tuple) and the residual filter must
      // still split the rows correctly
      val tmp = Files.createTempDirectory("v2p-ext").toString
      spark.sql("SELECT DATE '2024-05-05' AS d, CAST(100 AS BIGINT) AS x " +
        "UNION ALL SELECT DATE '2023-05-05', CAST(200 AS BIGINT)")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = lfs.fs(dir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, "part-ext.parquet"))
      LakeLog.commit(dir, "sneak", Seq("part-ext.parquet"), Seq.empty, 2L)
      val q2 = spark.sql(s"SELECT x FROM $cat.db.y " +
        s"WHERE $cat.system.years(d) = 54")
      val d2 = lakeDesc(q2)
      assert(prunedOf(d2) == ((3, 5)),
        s"the tuple-less file must be KEPT: $d2")
      assert(q2.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(3L, 4L, 100L),
        "the kept file's rows must be row-filtered, not trusted")
    }
  }

  test("V1 parity through the V2 route: ordinary filters still consume " +
       "(identity partition) and prune (stats) exactly as before") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.p (r STRING, k BIGINT) " +
        s"PARTITIONED BY (r)")
      spark.sql(s"INSERT INTO $cat.db.p VALUES ('a', 1), ('b', 2), " +
        "('c', 3)")
      // identity partition filter: consumed (no Filter node) and the
      // metadata aggregate stays available under it
      val agg = spark.sql(
        s"SELECT count(*) FROM $cat.db.p WHERE r = 'b'")
      assert(agg.queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        agg.queryExecution.executedPlan.toString)
      assert(agg.collect().head.getLong(0) == 1L)
      // string pushdown shapes (STARTS_WITH translates V2 -> V1)
      val sw = spark.sql(
        s"SELECT k FROM $cat.db.p WHERE r LIKE 'b%'")
      assert(sw.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }
}
