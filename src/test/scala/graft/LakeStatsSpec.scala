package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.dsv2.{GraftCatalog, LakeLog, LakeStats, LakeTableIO}

/** Manifest-embedded file statistics ([[graft.sources.dsv2.LakeStats]]):
  * commits harvest per-file column min/max/null-counts into the
  * snapshot manifest, and planning prunes whole files from that
  * metadata WITHOUT opening their parquet footers — the contract that
  * keeps a selective query's planning cost O(matching files), not
  * O(table files). Pinned with the footer-open counter, the same
  * instrumentation style as LakeLog's head-resolution reads.
  */
class LakeStatsSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-stats").toString
    n += 1
    val cat = s"statcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  /** Three single-file commits with disjoint k ranges: [0,100), [100,200),
    * [200,300). Returns the table dir.
    */
  private def rangedTable(cat: String, root: String, name: String): String = {
    spark.sql(s"CREATE TABLE $cat.db.$name (k BIGINT, v STRING)")
    Seq(0, 100, 200).foreach { lo =>
      spark.range(lo, lo + 100).selectExpr("id AS k", "concat('v', id) AS v")
        .coalesce(1).createOrReplaceTempView(s"src_$name$lo")
      spark.sql(s"INSERT INTO $cat.db.$name SELECT * FROM src_$name$lo")
    }
    s"$root/db/$name"
  }

  test("commits harvest per-file min/max/null stats into the manifest, " +
       "complete-set across versions") {
    withCatalog { (cat, root) =>
      val dir = rangedTable(cat, root, "t")
      val head = LakeLog.current(dir).get
      assert(head.files.size == 3)
      assert(head.stats.keySet == head.files.toSet,
        "every committed file carries stats")
      val perFile = head.files.map(f => head.stats(f).cols("k"))
      assert(perFile.map(c => (c.min.get.toLong, c.max.get.toLong)).sorted ==
        Seq((0L, 99L), (100L, 199L), (200L, 299L)))
      assert(perFile.forall(_.nulls == 0))
      assert(head.stats.values.forall(_.rows == 100))
      // string column harvested too (short bounds)
      assert(head.files.forall(f => head.stats(f).cols.contains("v")))
    }
  }

  test("planning prunes whole files from manifest stats with ZERO footer " +
       "opens for the excluded files, and the filtered result is exact") {
    withCatalog { (cat, root) =>
      val dir = rangedTable(cat, root, "p")
      // direct planner pin: deterministic, no plan-reuse ambiguity
      val head = LakeLog.current(dir).get
      val refs = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
      val pushed: Array[org.apache.spark.sql.sources.Filter] = Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("k", 120L),
        org.apache.spark.sql.sources.LessThanOrEqual("k", 130L))
      val before = LakeStats.footerOpens.get()
      val plan = LakeTableIO.planRowGroups(
        head.files.map(f => new Path(dir, f)), refs, pushed,
        pruneGroups = true, stats = head.stats)
      val opens = LakeStats.footerOpens.get() - before
      assert(plan.statsPrunedFiles == 2, s"2 of 3 files prunable: $plan")
      assert(opens == 1, s"only the surviving file's footer is read: $opens")
      assert(plan.parts.map(
        _.asInstanceOf[graft.sources.dsv2.LakeInputPartition].path)
        .forall(_.contains("/db/p/")))
      // end-to-end: the same predicate through SQL is exact
      val got = spark.sql(
        s"SELECT k FROM $cat.db.p WHERE k BETWEEN 120 AND 130 ORDER BY k")
        .collect().map(_.getLong(0))
      assert(got.toSeq == (120L to 130L))
      // and the whole-table planning cost dropped: an equality probe
      // opens at most one footer end-to-end
      val b2 = LakeStats.footerOpens.get()
      assert(spark.sql(s"SELECT v FROM $cat.db.p WHERE k = 250")
        .collect().map(_.getString(0)).toSeq == Seq("v250"))
      val probeOpens = LakeStats.footerOpens.get() - b2
      assert(probeOpens <= 2,
        s"equality probe must not open all 3 footers: $probeOpens")
    }
  }

  test("files WITHOUT manifest stats (bootstrap/legacy vintage) keep " +
       "planning via their footer — conservative, never wrong") {
    withCatalog { (_, root) =>
      // externally-populated dir: bootstrap sweeps the files with no
      // stats harvest
      val dir = s"$root/ext"
      spark.range(0, 100).selectExpr("id AS k").coalesce(1)
        .write.parquet(dir)
      val fs = lfs.fs(dir)
      fs.delete(new Path(dir, "_SUCCESS"), false)
      // any commit bootstraps v0 from the raw listing — those files
      // get no stats harvest (they were not written through a commit)
      LakeLog.commit(dir, "noop", Seq.empty, Seq.empty, 0L)
      val head = LakeLog.current(dir).get
      // bootstrap v0 swept raw files: no stats for them
      val bootstrapped = head.files.filterNot(head.stats.contains)
      assert(bootstrapped.nonEmpty, "bootstrap files carry no stats")
      val refs = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
      val pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.EqualTo("k", 42L))
      val before = LakeStats.footerOpens.get()
      val plan = LakeTableIO.planRowGroups(
        head.files.map(f => new Path(dir, f)), refs, pushed,
        pruneGroups = true, stats = head.stats)
      assert(LakeStats.footerOpens.get() - before >= bootstrapped.size,
        "stat-less files fall back to footer planning")
      assert(plan.keptRows >= 1)
    }
  }

  test("an all-null column provably fails every pushed comparison: the " +
       "file prunes without a footer read") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.nulls (k BIGINT, v STRING)")
      spark.range(0, 50).selectExpr("id AS k", "CAST(NULL AS STRING) AS v")
        .coalesce(1).createOrReplaceTempView("nulls_a")
      spark.range(50, 100).selectExpr("id AS k", "concat('x', id) AS v")
        .coalesce(1).createOrReplaceTempView("nulls_b")
      spark.sql(s"INSERT INTO $cat.db.nulls SELECT * FROM nulls_a")
      spark.sql(s"INSERT INTO $cat.db.nulls SELECT * FROM nulls_b")
      val dir = s"$root/db/nulls"
      val head = LakeLog.current(dir).get
      val allNull = head.stats.values.filter(fs =>
        fs.cols.get("v").exists(c => c.min.isEmpty && c.nulls == fs.rows))
      assert(allNull.size == 1, s"one all-null-v file: ${head.stats}")
      val refs = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
      val pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.EqualTo("v", "x60"))
      val before = LakeStats.footerOpens.get()
      val plan = LakeTableIO.planRowGroups(
        head.files.map(f => new Path(dir, f)), refs, pushed,
        pruneGroups = true, stats = head.stats)
      assert(plan.statsPrunedFiles == 1)
      assert(LakeStats.footerOpens.get() - before == 1)
      assert(spark.sql(s"SELECT k FROM $cat.db.nulls WHERE v = 'x60'")
        .collect().map(_.getLong(0)).toSeq == Seq(60L))
    }
  }

  test("RENAME COLUMN keeps stats pruning: bounds resolve by FIELD ID, " +
       "so files written under the old name still prune on the new one") {
    withCatalog { (cat, root) =>
      val dir = rangedTable(cat, root, "r")
      spark.sql(s"ALTER TABLE $cat.db.r RENAME COLUMN k TO key")
      val head = LakeLog.current(dir).get
      val refs = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
      assert(refs.exists(_.name == "key"))
      val pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.EqualTo("key", 150L))
      val before = LakeStats.footerOpens.get()
      val plan = LakeTableIO.planRowGroups(
        head.files.map(f => new Path(dir, f)), refs, pushed,
        pruneGroups = true, stats = head.stats)
      assert(plan.statsPrunedFiles == 2,
        s"id-resolved stats must keep pruning after a rename: $plan")
      assert(LakeStats.footerOpens.get() - before == 1)
      assert(spark.sql(s"SELECT v FROM $cat.db.r WHERE key = 150")
        .collect().map(_.getString(0)).toSeq == Seq("v150"))
    }
  }

  test("string bounds longer than MaxStatLen are dropped, not truncated " +
       "— the file stays conservative instead of mispruning") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.big (k BIGINT, body STRING)")
      spark.sql(s"INSERT INTO $cat.db.big " +
        s"SELECT id, repeat('z', 500) FROM range(10)")
      val dir = s"$root/db/big"
      val head = LakeLog.current(dir).get
      assert(head.stats.values.flatMap(_.cols.get("body"))
        .forall(c => c.min.isEmpty && c.max.isEmpty),
        s"oversized string bounds must be dropped: ${head.stats}")
      // k bounds still present
      assert(head.stats.values.flatMap(_.cols("k").min.map(_.toLong))
        .min == 0L)
    }
  }

  test("the copy-on-write runtime group filter consults manifest stats " +
       "before footers: an excluded file is dropped with zero I/O") {
    withCatalog { (cat, root) =>
      val dir = rangedTable(cat, root, "rg")
      val head = LakeLog.current(dir).get
      val ref = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
        .find(_.name == "k").get
      val byMax = head.files.sortBy(f => head.stats(f).cols("k").max.get.toLong)
      val (loFile, hiFile) = (byMax.head, byMax.last)
      val before = LakeStats.footerOpens.get()
      // probe values {250, 260} sit only in the last file's range
      assert(!LakeTableIO.fileMightContain(s"$dir/$loFile", ref,
        Seq(java.lang.Long.valueOf(250L), java.lang.Long.valueOf(260L)),
        head.stats.get(loFile)))
      assert(LakeStats.footerOpens.get() - before == 0,
        "manifest-excluded file must not open its footer")
      assert(LakeTableIO.fileMightContain(s"$dir/$hiFile", ref,
        Seq(java.lang.Long.valueOf(250L)), head.stats.get(hiFile)))
      // end-to-end: MERGE touching one file's key range rewrites only it
      spark.range(250, 255).selectExpr("id AS k", "'m' AS v")
        .createOrReplaceTempView("rg_src")
      spark.sql(
        s"""MERGE INTO $cat.db.rg t USING rg_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      val after = LakeLog.current(dir).get
      assert(after.removed == Seq(hiFile),
        s"only the covered file is replaced: ${after.removed}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.rg WHERE v = 'm'")
        .collect().head.getLong(0) == 5)
    }
  }

  test("global COUNT(*) is answered from manifest metadata: pushed " +
       "aggregate in the plan, zero footer opens, DV-exact, and " +
       "time travel counts its own snapshot") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.cnt (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.range(0, 500).selectExpr("id AS k", "concat('v', id) AS v")
        .coalesce(2).createOrReplaceTempView("cnt_src")
      spark.sql(s"INSERT INTO $cat.db.cnt SELECT * FROM cnt_src")
      spark.sql(s"DELETE FROM $cat.db.cnt WHERE k % 10 = 3")
      val q = spark.sql(s"SELECT count(*) FROM $cat.db.cnt")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregates"),
        s"expected the metadata count scan in:\n$plan")
      val before = LakeStats.footerOpens.get()
      assert(q.collect().head.getLong(0) == 450)
      assert(LakeStats.footerOpens.get() - before == 0,
        "a stats-carrying table answers count(*) without any footer read")
      // time travel: the pre-delete snapshot counts all rows
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.cnt VERSION AS OF 1")
        .collect().head.getLong(0) == 500)
      // filtered count declines the push (filters are residual here)
      val filtered = spark.sql(
        s"SELECT count(*) FROM $cat.db.cnt WHERE k < 100")
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(filtered.collect().head.getLong(0) == 90)
      // grouped count declines too
      // deleted keys are =3 mod 10, all odd: evens keep 250, odds 200
      assert(spark.sql(s"SELECT k % 2, count(*) FROM $cat.db.cnt " +
        "GROUP BY 1 ORDER BY 1").collect().map(_.getLong(1)).toSeq ==
        Seq(250L, 200L))
    }
  }

  test("metadata MIN/MAX/COUNT(col): answered from manifest bounds when " +
       "provable — exact with nulls, NULL on all-null, declining on DVs " +
       "and unharvestable bounds but never wrong") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.mm " +
        "(k BIGINT, s STRING, d DATE, nul STRING, big STRING)")
      spark.range(0, 100).selectExpr(
        "id AS k",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('s', id) END AS s",
        "date_add(DATE'2020-01-01', CAST(id AS INT)) AS d",
        "CAST(NULL AS STRING) AS nul",
        "repeat('x', 200) AS big")
        .coalesce(2).createOrReplaceTempView("mm_src")
      spark.sql(s"INSERT INTO $cat.db.mm SELECT * FROM mm_src")
      val q = spark.sql(s"SELECT min(k), max(k), count(k), min(s), " +
        s"max(s), min(d), max(d), count(s), min(nul) FROM $cat.db.mm")
      assert(q.queryExecution.executedPlan.toString
        .contains("PushedAggregates"), q.queryExecution.executedPlan)
      val before = LakeStats.footerOpens.get()
      val r = q.collect().head
      assert(LakeStats.footerOpens.get() - before == 0)
      assert(r.getLong(0) == 0 && r.getLong(1) == 99)
      assert(r.getLong(2) == 100)
      // string order is unsigned UTF-8/UTF8String order: 's1' < 's99'
      assert(r.getString(3) == "s1" && r.getString(4) == "s99")
      assert(r.getDate(5).toString == "2020-01-01" &&
        r.getDate(6).toString == "2020-04-09")
      assert(r.getLong(7) == 100 - 15) // 15 multiples of 7 in [0,100)
      assert(r.isNullAt(8), "all-null column: SQL NULL min")
      // oversized bounds were dropped at harvest → min(big) must
      // DECLINE the push (absent entry) yet stay correct via the scan
      val qb = spark.sql(s"SELECT min(big) FROM $cat.db.mm")
      assert(!qb.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(qb.collect().head.getString(0) == "x" * 200)
      // a deletion vector kills every column-level push (the DV'd row
      // could be the extremum) but COUNT(*) stays metadata
      spark.sql(s"ALTER TABLE $cat.db.mm SET TBLPROPERTIES " +
        "('write.mode'='merge-on-read')")
      spark.sql(s"DELETE FROM $cat.db.mm WHERE k = 99")
      val qd = spark.sql(s"SELECT max(k) FROM $cat.db.mm")
      assert(!qd.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(qd.collect().head.getLong(0) == 98)
      val qc = spark.sql(s"SELECT count(*) FROM $cat.db.mm")
      assert(qc.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(qc.collect().head.getLong(0) == 99)
    }
  }

  test("zorder + manifest stats compound: after clustering on (a, b), " +
       "a selective predicate on EITHER column prunes most files " +
       "without footer reads — a single-column sort only prunes one") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.z (a BIGINT, b BIGINT)")
      // a,b independent uniform; a-sorted layout scatters b
      spark.range(0, 1 << 14).selectExpr("id % 128 AS a",
        "CAST(floor(rand(7) * 128) AS BIGINT) AS b")
        .createOrReplaceTempView("z_src")
      spark.sql(s"INSERT INTO $cat.db.z SELECT * FROM z_src")
      val dir = s"$root/db/z"
      spark.sql(s"CALL ${cat}.system.zorder('db.z', 'a,b', 16)")
      val head = graft.sources.dsv2.LakeLog.current(dir).get
      assert(head.files.size == 16 &&
        head.stats.keySet == head.files.toSet)
      val refs = LakeTableIO.columnRefs(LakeTableIO.tableSchema(dir))
      def pruned(colName: String): Int = {
        val pushed: Array[org.apache.spark.sql.sources.Filter] = Array(
          org.apache.spark.sql.sources.GreaterThanOrEqual(colName, 0L),
          org.apache.spark.sql.sources.LessThanOrEqual(colName, 7L))
        LakeTableIO.planRowGroups(head.files.map(f => new Path(dir, f)),
          refs, pushed, pruneGroups = true,
          stats = head.stats).statsPrunedFiles
      }
      // a 1/16-wide slice on either dimension: the z-layout gives every
      // file a ~quarter-range rectangle in each dim, so >= half the
      // files must exclude the slice on pure manifest metadata
      assert(pruned("a") >= 8, s"a-slice pruned only ${pruned("a")}/16")
      assert(pruned("b") >= 8, s"b-slice pruned only ${pruned("b")}/16")
      // correctness through the real scan
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.z WHERE b <= 7")
        .collect().head.getLong(0) ==
        spark.sql("SELECT count(*) FROM z_src WHERE b <= 7")
          .collect().head.getLong(0))
    }
  }

  test("merge-on-read deletes leave stats valid: DV'd rows may still " +
       "widen bounds (conservative), scans stay exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.mor (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.mor " +
        "SELECT id, concat('v', id) FROM range(100)")
      spark.sql(s"DELETE FROM $cat.db.mor WHERE k < 50")
      val dir = s"$root/db/mor"
      val head = LakeLog.current(dir).get
      assert(head.stats.nonEmpty && head.dvs.nonEmpty)
      // bounds still cover the deleted range — conservative is correct
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor WHERE k < 50")
        .collect().head.getLong(0) == 0)
      assert(spark.table(s"$cat.db.mor").count() == 50)
    }
  }
}
