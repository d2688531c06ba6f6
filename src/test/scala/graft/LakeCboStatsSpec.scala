package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog, LakeNdv}

/** DSv2 column statistics for the cost-based optimizer: writer-built
  * KMV distinct-count sketches ([[graft.sources.dsv2.LakeNdv]], opt-in
  * `stats.ndv.columns`) plus exact null counts and folded min/max
  * bounds, reported through `Scan.estimateStatistics().columnStats()`
  * and consumed by catalyst as `ColumnStat` under
  * spark.sql.cbo.enabled. These are ESTIMATES that steer plan choice
  * (join ordering, cardinality, filter selectivity) — a wrong estimate
  * can never change an answer, which is why DVs are ignored here while
  * the metadata AGGREGATES decline on them.
  */
class LakeCboStatsSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-cbo").toString
    n += 1
    val cat = s"cbocat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def withCbo[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevJr = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      f
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prev)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevJr)
    }
  }

  test("KMV sketch: exact below K, within ~10% above, and the union of " +
       "per-file sketches estimates the union") {
    // exact region: 100 distinct
    val small = new LakeNdv.Builder()
    (0 until 100).foreach(i => small.add(mix(i)))
    assert(LakeNdv.estimate(Seq(LakeNdv.decode(small.toBase64)))
      .contains(100L))
    // estimate region: 50k distinct, one sketch
    val big = new LakeNdv.Builder()
    (0 until 50000).foreach(i => big.add(mix(i)))
    val est = LakeNdv.estimate(Seq(LakeNdv.decode(big.toBase64))).get
    assert(math.abs(est - 50000.0) / 50000.0 < 0.15, s"est=$est")
    // merge: two files with 50% overlap — union is 30k, the naive sum
    // 40k; the merged estimate must track the union
    val a = new LakeNdv.Builder(); val b = new LakeNdv.Builder()
    (0 until 20000).foreach(i => a.add(mix(i)))
    (10000 until 30000).foreach(i => b.add(mix(i)))
    val merged = LakeNdv.estimate(
      Seq(LakeNdv.decode(a.toBase64), LakeNdv.decode(b.toBase64))).get
    assert(math.abs(merged - 30000.0) / 30000.0 < 0.15, s"merged=$merged")
    // a missing/malformed sketch withholds (never under-counts)
    assert(LakeNdv.estimate(Seq(LakeNdv.decode(a.toBase64), null)).isEmpty)
  }
  private def mix(i: Int): Long = {
    var z = i.toLong + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  test("the writer builds sketches for configured columns and the scan " +
       "reports distinctCount/nullCount/min/max into catalyst stats") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING, w STRING) " +
        s"TBLPROPERTIES ('${LakeNdv.ColKey}'='k,v')")
      // three commits, k repeats every 500 → true NDV(k)=500 across
      // 3000 rows; v null every 10th, distinct otherwise
      Seq(0, 1000, 2000).foreach { lo =>
        spark.range(lo, lo + 1000).selectExpr("id % 500 AS k",
          "CASE WHEN id % 10 = 0 THEN NULL ELSE concat('v', id) END AS v",
          "'const' AS w")
          .coalesce(1).createOrReplaceTempView(s"t_src$lo")
        spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM t_src$lo")
      }
      val head = LakeLog.current(s"$root/db/t").get
      assert(head.files.forall(f =>
        head.stats(f).cols("k").ndv.isDefined &&
        head.stats(f).cols("v").ndv.isDefined),
        "every committed file carries sketches for the configured cols")
      assert(head.files.forall(f => head.stats(f).cols("w").ndv.isEmpty),
        "unconfigured columns carry none")
      withCbo {
        val stats = spark.table(s"$cat.db.t")
          .queryExecution.optimizedPlan.stats
        assert(stats.rowCount.contains(BigInt(3000)), stats.rowCount)
        val byName = stats.attributeStats.map { case (a, cs) =>
          a.name -> cs }
        val k = byName.getOrElse("k", fail(s"no k stats in $byName"))
        val ndv = k.distinctCount.get.toLong
        assert(math.abs(ndv - 500.0) / 500.0 < 0.15, s"ndv(k)=$ndv")
        assert(k.nullCount.contains(BigInt(0)))
        assert(k.min.contains(0L) && k.max.contains(499L),
          s"${k.min} .. ${k.max}")
        val v = byName.getOrElse("v", fail(s"no v stats in $byName"))
        assert(v.nullCount.contains(BigInt(300)), v.nullCount)
        // ~2700 distinct non-null vs
        val vndv = v.distinctCount.get.toLong
        assert(math.abs(vndv - 2700.0) / 2700.0 < 0.15, s"ndv(v)=$vndv")
        // string length facts complete the ColumnStatistics surface:
        // avgLen = round(Σ bytes / non-null), maxLen exact
        val lens = (0 until 3000).filter(_ % 10 != 0)
          .map(i => s"v$i".length.toLong)
        assert(v.avgLen.contains(BigInt(
          math.round(lens.sum.toDouble / lens.length.toDouble))),
          s"avgLen=${v.avgLen}")
        assert(v.maxLen.contains(BigInt(5)), s"maxLen=${v.maxLen}")
        // w: no sketch configured — nullCount/bounds still report,
        // distinctCount stays absent
        byName.get("w").foreach(cs => assert(cs.distinctCount.isEmpty))
      }
    }
  }

  test("CBO consumes the report: filter selectivity tracks the reported " +
       "min/max range, and a two-table join's cardinality estimate " +
       "rides the key NDV") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.f (k BIGINT, pad STRING) " +
        s"TBLPROPERTIES ('${LakeNdv.ColKey}'='k')")
      spark.range(0, 10000).selectExpr("id % 100 AS k",
        "repeat('x', 8) AS pad").coalesce(2)
        .createOrReplaceTempView("f_src")
      spark.sql(s"INSERT INTO $cat.db.f SELECT * FROM f_src")
      spark.sql(s"CREATE TABLE $cat.db.d (k BIGINT, name STRING) " +
        s"TBLPROPERTIES ('${LakeNdv.ColKey}'='k')")
      spark.range(0, 100).selectExpr("id AS k", "concat('d', id) AS name")
        .coalesce(1).createOrReplaceTempView("d_src")
      spark.sql(s"INSERT INTO $cat.db.d SELECT * FROM d_src")
      withCbo {
        // filter selectivity: k in [0,100); a quarter-range predicate
        // must estimate ~a quarter of the rows (FilterEstimation over
        // the reported min/max), not the default 25%+heuristics over
        // unknown bounds... compare narrow vs wide to stay robust
        def est(cond: String): BigInt =
          spark.sql(s"SELECT * FROM $cat.db.f WHERE $cond")
            .queryExecution.optimizedPlan.stats.rowCount
            .getOrElse(fail(s"no rowCount under CBO for $cond"))
        val quarter = est("k < 25")
        val half = est("k < 50")
        assert(quarter < half, s"quarter=$quarter half=$half")
        assert(math.abs(quarter.toDouble - 2500.0) / 2500.0 < 0.2,
          s"quarter-range estimate off: $quarter")
        // join cardinality: |f ⋈ d| on k with NDV(k)=100 both sides →
        // ≈ 10000·100/max(100,100) = 10000 (the textbook formula); a
        // missing NDV would leave the join row count unestimated or
        // wildly off
        val j = spark.sql(s"SELECT f.k, d.name FROM $cat.db.f f " +
          s"JOIN $cat.db.d d ON f.k = d.k")
          .queryExecution.optimizedPlan
        val joinNode = j.collectFirst {
          case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn
        }.getOrElse(fail("no Join in optimized plan"))
        val jrc = joinNode.stats.rowCount
          .getOrElse(fail("join cardinality unestimated under CBO"))
        assert(math.abs(jrc.toDouble - 10000.0) / 10000.0 < 0.25,
          s"join estimate $jrc vs ~10000")
      }
    }
  }

  test("conservatism: sketch-less files (external bootstrap) withhold " +
       "the whole column report; sum/bounds unaffected elsewhere") {
    withCatalog { (cat, root) =>
      // externally-populated table dir: the bootstrap sweep logs the
      // raw files with no stats harvest
      val dir = s"$root/db/ext"
      spark.range(0, 100).selectExpr("id AS k").coalesce(1)
        .write.parquet(dir)
      val fs = lfs.fs(dir)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
      LakeLog.commit(dir, "noop", Seq.empty, Seq.empty, 0L)
      val head = LakeLog.current(dir).get
      assert(head.files.nonEmpty)
      // bootstrap files carry no stats at all → no column report, and
      // reads stay exact regardless
      withCbo {
        val df = spark.table(s"$cat.db.ext")
        val stats = df.queryExecution.optimizedPlan.stats
        assert(stats.attributeStats.isEmpty,
          s"bootstrap vintage must withhold: ${stats.attributeStats}")
        assert(df.count() == 100)
      }
    }
  }

  test("the knob evolves by ALTER with CREATE-grade validation, rename " +
       "rewrites it, and bad columns fail loud") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.e (k BIGINT, d DOUBLE)")
      // bad type at CREATE-grade validation via ALTER
      val e1 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.e SET TBLPROPERTIES " +
          s"('${LakeNdv.ColKey}'='d')")
      }
      assert(e1.getMessage.contains("NDV sketches"), e1.getMessage)
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.e SET TBLPROPERTIES " +
          s"('${LakeNdv.ColKey}'='nope')")
      }
      assert(e2.getMessage.contains("unknown column"), e2.getMessage)
      spark.sql(s"ALTER TABLE $cat.db.e SET TBLPROPERTIES " +
        s"('${LakeNdv.ColKey}'='k')")
      spark.sql(s"INSERT INTO $cat.db.e SELECT id, 0.5 FROM range(50)")
      // rename rewrites the knob entry; new writes keep sketching
      spark.sql(s"ALTER TABLE $cat.db.e RENAME COLUMN k TO key")
      assert(LakeNdv.configured(s"$root/db/e") == Seq("key"))
      spark.sql(s"INSERT INTO $cat.db.e SELECT id, 0.5 FROM range(50, 80)")
      val head = LakeLog.current(s"$root/db/e").get
      assert(head.files.nonEmpty && head.files.forall(f =>
        head.stats(f).cols.values.exists(_.ndv.isDefined)),
        "every file of both vintages carries a sketch")
      // DROP COLUMN sheds the knob
      spark.sql(s"ALTER TABLE $cat.db.e DROP COLUMN key")
      assert(LakeNdv.configured(s"$root/db/e").isEmpty)
    }
  }

  test("equi-height HISTOGRAM (the seventh ColumnStat field): under a " +
       "skewed distribution the histogram-backed selectivity estimate " +
       "tracks the real split where min/max's uniform interpolation is " +
       "off by >5x; sample-less vintages withhold; ANALYZE backfills") {
    withCatalog { (cat, root) =>
      import graft.sources.dsv2.LakeHist
      // SKEW: 90% of values in [0, 100), 10% in [1M, 2M) — uniform
      // interpolation over [0, 2M) puts ~0.005% of rows under 100
      spark.sql(s"CREATE TABLE $cat.db.h (v BIGINT, pad STRING) " +
        s"TBLPROPERTIES ('${LakeHist.ColKey}'='v', " +
        s"'${LakeNdv.ColKey}'='v')")
      spark.range(0, 10000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN id % 100 " +
          "ELSE 1000000 + (id % 1000) * 1000 END AS v",
        "repeat('x', 8) AS pad").coalesce(2)
        .createOrReplaceTempView("h_src")
      spark.sql(s"INSERT INTO $cat.db.h SELECT * FROM h_src")
      // twin table WITHOUT the histogram knob (NDV + min/max only):
      // FilterEstimation then interpolates UNIFORMLY over the range
      spark.sql(s"CREATE TABLE $cat.db.h0 (v BIGINT, pad STRING) " +
        s"TBLPROPERTIES ('${LakeNdv.ColKey}'='v')")
      spark.sql(s"INSERT INTO $cat.db.h0 SELECT * FROM h_src")
      withCbo {
        def est(tbl: String): BigInt =
          spark.sql(s"SELECT * FROM $cat.db.$tbl WHERE v < 100")
            .queryExecution.optimizedPlan.stats.rowCount
            .getOrElse(fail(s"no rowCount under CBO for $tbl"))
        val actual = 9000.0
        val withHist = est("h").toDouble
        val minMaxOnly = est("h0").toDouble
        assert(actual / minMaxOnly > 5.0,
          s"fixture: uniform interpolation must be >5x off, " +
            s"est=$minMaxOnly vs actual=$actual")
        assert(withHist / actual > 0.5 && withHist / actual < 2.0,
          s"histogram estimate must track the skewed split: " +
            s"est=$withHist vs actual=$actual (min/max-only: $minMaxOnly)")
      }
      // conservatism: a sample-less vintage (raw-rewrite compaction)
      // withholds the histogram — then ANALYZE backfills it
      spark.sql(s"CALL $cat.system.compact('db.h', 134217728)")
      withCbo {
        val stats = spark.table(s"$cat.db.h")
          .queryExecution.optimizedPlan.stats
        val hist = stats.attributeStats.collectFirst {
          case (a, cs) if a.name == "v" => cs.histogram
        }.flatten
        assert(hist.isEmpty,
          "a sample-less compacted file must withhold the histogram")
      }
      spark.sql(s"CALL $cat.system.analyze('db.h')")
      withCbo {
        def est(tbl: String): BigInt =
          spark.sql(s"SELECT * FROM $cat.db.$tbl WHERE v < 100")
            .queryExecution.optimizedPlan.stats.rowCount
            .getOrElse(fail("no rowCount"))
        val back = est("h").toDouble
        assert(back / 9000.0 > 0.5 && back / 9000.0 < 2.0,
          s"analyze-backfilled histogram must restore the estimate: $back")
      }
      // validation: unknown column / inadmissible type fail loud
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.h SET TBLPROPERTIES " +
          s"('${LakeHist.ColKey}'='pad')")
      }
      assert(e.getMessage.contains("histogram"), s"$e")
    }
  }
}
