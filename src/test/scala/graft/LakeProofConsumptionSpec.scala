package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeStats}

/** Stats-PROVEN filter consumption: a pushed filter the manifest can
  * PROVE true for every snapshot file's rows (known-zero nulls, whole
  * [min,max] interval inside the filter region —
  * [[graft.sources.dsv2.LakeStats.mustMatchFile]]) is consumed by the
  * scan, so Spark drops its Filter node — and, crucially, metadata
  * aggregates stay available UNDER the filter. Unlike the CHECK-
  * constraint machinery this needs no contract trust: the proof is a
  * per-file fact of the immutable bytes, re-verified at plan time
  * (loud on concurrent breakage) and per batch on streams, sound under
  * time travel and branches because each snapshot proves with its own
  * stats.
  */
class LakeProofConsumptionSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-proof").toString
    n += 1
    val cat = s"proofcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a provable filter is consumed (no Filter node, explain-visible) " +
       "and a metadata SUM stays answerable under it; an unprovable " +
       "literal keeps the residual Filter — results exact either way") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT)")
      // all k in [10, 99], no nulls → k >= 10 provable, k >= 50 not
      spark.range(10, 100).selectExpr("id AS k", "id * 2 AS v")
        .coalesce(2).createOrReplaceTempView("t_src")
      spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM t_src")
      val q = spark.sql(s"SELECT k, v FROM $cat.db.t WHERE k >= 10")
      val p = plan(q)
      assert(p.contains("consumed_by_stats="), p)
      assert(!p.contains("Filter ("), s"Filter node must drop:\n$p")
      assert(q.collect().length == 90)
      // the real prize: SUM under the proven filter answers from
      // metadata — Spark only offers the aggregate push with no
      // post-scan Filter, which consumption provides
      val qs = spark.sql(
        s"SELECT sum(v) FROM $cat.db.t WHERE k >= 10 AND k < 1000")
      assert(plan(qs).contains("PushedAggregates"), plan(qs))
      val before = LakeStats.footerOpens.get()
      assert(qs.collect().head.getLong(0) ==
        (10L until 100L).map(_ * 2).sum)
      assert(LakeStats.footerOpens.get() - before == 0)
      // a mid-range literal: NOT provable (some file spans it) — the
      // comparison stays residual (a Filter node re-applies it; the
      // implicit IsNotNull rightly consumes — the column has no nulls)
      val qr = spark.sql(s"SELECT k FROM $cat.db.t WHERE k >= 50")
      assert(!plan(qr).contains("consumed_by_stats=[GreaterThanOrEqual"),
        plan(qr))
      assert(plan(qr).contains("Filter (") && plan(qr).contains(">= 50"),
        plan(qr))
      assert(qr.collect().length == 50)
    }
  }

  test("nulls block the proof: a column with ANY null keeps both the " +
       "comparison and IS NOT NULL residual (SQL comparisons never " +
       "match NULL — one unaccounted null breaks universality)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.n (k BIGINT, v BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.n VALUES (1, 5), (2, NULL), (3, 9)")
      val q = spark.sql(s"SELECT k FROM $cat.db.n WHERE v >= 0")
      assert(!plan(q).contains("consumed_by_stats"), plan(q))
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
      val qn = spark.sql(s"SELECT k FROM $cat.db.n WHERE v IS NOT NULL")
      assert(!plan(qn).contains("consumed_by_stats"), plan(qn))
      assert(qn.collect().length == 2)
      // the no-null column DOES consume IS NOT NULL
      val qk = spark.sql(s"SELECT v FROM $cat.db.n WHERE k IS NOT NULL")
      assert(plan(qk).contains("consumed_by_stats"), plan(qk))
      assert(qk.collect().length == 3)
    }
  }

  test("time travel proves with the PINNED snapshot's own stats: v1 " +
       "consumes a filter the head (holding wider data) cannot") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.tt (k BIGINT)")
      spark.range(100, 200).selectExpr("id AS k").coalesce(1)
        .createOrReplaceTempView("tt_a")
      spark.sql(s"INSERT INTO $cat.db.tt SELECT * FROM tt_a")
      spark.sql(s"INSERT INTO $cat.db.tt VALUES (-5)")
      // head: min is -5 → k >= 0 unprovable, the comparison stays
      // residual (IsNotNull still consumes — no nulls anywhere)
      val qh = spark.sql(s"SELECT k FROM $cat.db.tt WHERE k >= 0")
      assert(!plan(qh).contains("consumed_by_stats=[GreaterThanOrEqual"),
        plan(qh))
      assert(plan(qh).contains("Filter ("), plan(qh))
      assert(qh.collect().length == 100)
      // v1: all k in [100,199] → proven and consumed
      val qv = spark.sql(
        s"SELECT k FROM $cat.db.tt VERSION AS OF 1 WHERE k >= 0")
      assert(plan(qv).contains("GreaterThanOrEqual"), plan(qv))
      assert(plan(qv).contains("consumed_by_stats=[") &&
        plan(qv).split("consumed_by_stats=\\[")(1)
          .takeWhile(_ != ']').contains("GreaterThanOrEqual"), plan(qv))
      assert(!plan(qv).contains("Filter ("), plan(qv))
      assert(qv.collect().length == 100)
    }
  }

  test("files without stats (external bootstrap) block consumption; " +
       "after CALL system.analyze harvests them, the same filter " +
       "consumes and the metadata aggregate follows") {
    withCatalog { (cat, root) =>
      val dir = s"$root/db/ext"
      spark.range(5, 50).selectExpr("id AS k").coalesce(1)
        .write.parquet(dir)
      val fs = lfs.fs(dir)
      fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
      graft.sources.dsv2.LakeLog.commit(
        dir, "noop", Seq.empty, Seq.empty, 0L)
      val q0 = spark.sql(s"SELECT k FROM $cat.db.ext WHERE k >= 0")
      assert(!plan(q0).contains("consumed_by_stats"),
        "stats-less bootstrap must not consume")
      assert(q0.collect().length == 45)
      spark.sql(s"CALL $cat.system.analyze('db.ext')")
      val q1 = spark.sql(s"SELECT k FROM $cat.db.ext WHERE k >= 0")
      assert(plan(q1).contains("consumed_by_stats"), plan(q1))
      assert(q1.collect().length == 45)
      val qs = spark.sql(s"SELECT sum(k) FROM $cat.db.ext WHERE k >= 0")
      assert(plan(qs).contains("PushedAggregates"), plan(qs))
      assert(qs.collect().head.getLong(0) == (5L until 50L).sum)
    }
  }

  test("composition with partition consumption: the proof domain is " +
       "the files the partition-decided filter keeps — a filter " +
       "provable only INSIDE the selected partition still consumes " +
       "(the excluded partition's violating rows feed nothing)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.c (pri STRING, k BIGINT) " +
        "PARTITIONED BY (pri)")
      // partition 'b' holds NEGATIVE keys: k >= 0 is NOT table-wide —
      // it must still prove over the pri='a' files alone
      spark.range(0, 1000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS pri",
        "CASE WHEN id % 2 = 0 THEN id ELSE -id END AS k")
        .createOrReplaceTempView("c_src")
      spark.sql(s"INSERT INTO $cat.db.c SELECT * FROM c_src")
      val q = spark.sql(s"SELECT count(*), min(k), sum(k) " +
        s"FROM $cat.db.c WHERE pri = 'a' AND k >= 0")
      val p = plan(q)
      assert(p.contains("PushedAggregates"), p)
      assert(p.contains("partition-filtered") && p.contains("stats-proven"),
        p)
      val r = q.collect().head
      val evens = (0L until 1000L).filter(_ % 2 == 0)
      assert(r.getLong(0) == evens.length && r.getLong(1) == 0 &&
        r.getLong(2) == evens.sum)
      // without the partition restriction the same filter is NOT
      // table-wide provable: the comparison stays residual and exact
      val qw = spark.sql(s"SELECT count(*) FROM $cat.db.c WHERE k >= 0")
      assert(!plan(qw).contains("consumed_by_stats=[GreaterThanOrEqual"),
        plan(qw))
      assert(qw.collect().head.getLong(0) == evens.length)
    }
  }
}
