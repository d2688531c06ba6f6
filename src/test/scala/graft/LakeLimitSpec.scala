package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** Pushed LIMIT / ORDER-BY-LIMIT file bounding
  * ([[graft.sources.dsv2.LakeLimits]]) — the interactive-probe
  * contract: `LIMIT 10` against a many-file table plans only the files
  * whose exact proven live rows cover the limit, and `ORDER BY k
  * LIMIT n` on a range-clustered table plans only the files whose
  * bounds can reach the top n. Both pushes are PARTIAL (Spark retains
  * its Limit/TakeOrdered operator), so every pin here checks BOTH the
  * bounded plan and the exact result. Contracts:
  *
  *   - LIMIT keeps files in snapshot order until proven live counts
  *     cover n; the result still has exactly min(n, live) rows;
  *   - TopN prunes by best-bound-beaten arithmetic in BOTH directions
  *     and under BOTH null orderings (nulls are a rank tier, not a
  *     value);
  *   - conservatism: DV'd files never vouch for rows (but remain
  *     prunable), stats-less external files are always kept, and a
  *     too-large limit simply keeps everything;
  *   - composition: a CONSUMED partition filter narrows first, the
  *     limit bounds within the matching files only.
  */
class LakeLimitSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-limit").toString
    n += 1
    val cat = s"limitcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def planOf(sql: String): (org.apache.spark.sql.DataFrame, String) = {
    val df = spark.sql(sql)
    (df, df.queryExecution.executedPlan.toString)
  }

  test("plain LIMIT plans one file of eight (pushed_limit in the plan, " +
       "exact row count), and a limit past the table keeps everything") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)")
      // 8 tasks -> 8 files x 1000 rows, each stats-backed by the writer
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) " +
        "FROM range(0, 8000, 1, 8)")
      assert(LakeLog.current(s"$root/db/t").get.files.size == 8)

      val (df, plan) = planOf(s"SELECT k, v FROM $cat.db.t LIMIT 10")
      assert(plan.contains("pushed_limit=10"), plan)
      assert(plan.contains("files_pruned_by_limit=7/8"),
        s"LIMIT 10 must plan exactly one 1000-row file:\n$plan")
      val rows = df.collect()
      assert(rows.length == 10)
      // the kept file's rows are real table rows
      val all = (0L until 8000L).toSet
      assert(rows.forall(r => all.contains(r.getLong(0))))

      // limit past the table: nothing prunable, still min(n, rows) rows
      val (big, bigPlan) =
        planOf(s"SELECT k FROM $cat.db.t LIMIT 9999")
      assert(bigPlan.contains("files_pruned_by_limit=0/8"), bigPlan)
      assert(big.count() == 8000L)
    }
  }

  test("TopN plans only reachable files in both directions; results " +
       "equal the full sort (unique keys make them deterministic)") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT, v STRING)")
      // range slices are contiguous: 8 files with disjoint sorted ranges
      spark.sql(s"INSERT INTO $cat.db.s SELECT id, concat('v', id) " +
        "FROM range(0, 8000, 1, 8)")

      val (asc, ascPlan) =
        planOf(s"SELECT k FROM $cat.db.s ORDER BY k LIMIT 5")
      assert(ascPlan.contains("pushed_topn=[k ASC"), ascPlan)
      assert(ascPlan.contains("files_pruned_by_limit=7/8"),
        s"top-5 ascending lives wholly in the first file:\n$ascPlan")
      assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 5L))

      val (desc, descPlan) =
        planOf(s"SELECT k FROM $cat.db.s ORDER BY k DESC LIMIT 5")
      assert(descPlan.contains("pushed_topn=[k DESC"), descPlan)
      assert(descPlan.contains("files_pruned_by_limit=7/8"), descPlan)
      assert(desc.collect().map(_.getLong(0)).toSeq ==
        (7999L to 7995L by -1L))

      // a mid-table bound needing two files: top 1200 spans file 0 + 1
      val (two, twoPlan) =
        planOf(s"SELECT k FROM $cat.db.s ORDER BY k LIMIT 1200")
      assert(twoPlan.contains("files_pruned_by_limit=6/8"), twoPlan)
      assert(two.collect().map(_.getLong(0)).toSeq == (0L until 1200L))
    }
  }

  test("null ordering is a rank tier: NULLS FIRST answers from the " +
       "null-carrying file, NULLS LAST from the value files; a file " +
       "that MIGHT hold nulls is never pruned under NULLS FIRST") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.nt (k BIGINT, tag STRING)")
      // file A: values 0..999; file B: 10 NULL keys
      spark.sql(s"INSERT INTO $cat.db.nt SELECT id, 'a' " +
        "FROM range(0, 1000, 1, 1)")
      spark.sql(s"INSERT INTO $cat.db.nt " +
        "SELECT CAST(NULL AS BIGINT), concat('b', id) " +
        "FROM range(0, 10, 1, 1)")

      // ASC NULLS FIRST (Spark's asc default): top 3 are nulls — the
      // all-values file is provably beaten by B's 10 proven nulls
      val (nf, nfPlan) = planOf(
        s"SELECT k, tag FROM $cat.db.nt ORDER BY k NULLS FIRST LIMIT 3")
      assert(nfPlan.contains("NULLS FIRST"), nfPlan)
      assert(nfPlan.contains("files_pruned_by_limit=1/2"),
        s"the value file cannot reach a null-first top-3:\n$nfPlan")
      val nfRows = nf.collect()
      assert(nfRows.length == 3 && nfRows.forall(_.isNullAt(0)))
      assert(nfRows.forall(_.getString(1).startsWith("b")))

      // ASC NULLS LAST: top 3 are 0,1,2 — the all-null file is beaten
      // by A's 1000 proven value rows
      val (nl, nlPlan) = planOf(
        s"SELECT k, tag FROM $cat.db.nt ORDER BY k NULLS LAST LIMIT 3")
      assert(nlPlan.contains("NULLS LAST"), nlPlan)
      assert(nlPlan.contains("files_pruned_by_limit=1/2"), nlPlan)
      assert(nl.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))

      // nulls needed past the null file's supply: B's 10 nulls cannot
      // prove a 12-deep cut alone, A must stay planned
      val (deep, deepPlan) = planOf(
        s"SELECT k FROM $cat.db.nt ORDER BY k NULLS FIRST LIMIT 12")
      assert(deepPlan.contains("files_pruned_by_limit=0/2"), deepPlan)
      val deepRows = deep.collect()
      assert(deepRows.count(_.isNullAt(0)) == 10)
      assert(deepRows.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq
        == Seq(0L, 1L))
    }
  }

  test("DV'd files never vouch (but stay prunable) and stats-less " +
       "external files are always kept — results stay exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.d (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.d SELECT id, concat('v', id) " +
        "FROM range(0, 8000, 1, 8)")
      // DV the head file's low keys: its stats still say min=0, so it
      // must stay planned, but its 1000 physical rows may no longer
      // prove anything — top-10 needs file 1 AND file 2 planned
      spark.sql(s"DELETE FROM $cat.db.d WHERE k < 50")
      val (df, plan) =
        planOf(s"SELECT k FROM $cat.db.d ORDER BY k LIMIT 10")
      assert(plan.contains("files_pruned_by_limit=6/8"),
        s"DV'd file keeps itself + its un-vouched successor:\n$plan")
      assert(df.collect().map(_.getLong(0)).toSeq == (50L until 60L))

      // plain LIMIT against the DV'd table: every file's proof is void
      // where DV'd, but the retained Limit still caps exactly
      assert(spark.sql(s"SELECT k FROM $cat.db.d LIMIT 7900")
        .count() == 7900L)

      // an externally committed file holding the new minimum: its
      // harvested stats join the arithmetic and the answer moves to it
      val dir = s"$root/db/d"
      val tmp = Files.createTempDirectory("graft-limit-ext").toString
      spark.range(-100, -90).selectExpr("id AS k", "concat('x', id) AS v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = lfs.fs(dir)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      fs.rename(new org.apache.hadoop.fs.Path(src.getAbsolutePath),
        new org.apache.hadoop.fs.Path(dir, "external.parquet"))
      LakeLog.commit(dir, "external", Seq("external.parquet"),
        Seq.empty, 10L)
      val low = spark.sql(s"SELECT k FROM $cat.db.d ORDER BY k LIMIT 3")
        .collect().map(_.getLong(0)).toSeq
      assert(low == Seq(-100L, -99L, -98L),
        s"the external file holds the new minimum: $low")
    }
  }

  test("unit conservatism: stats-less files are never dropped and " +
       "never vouch; mixed stats kinds disable value proofs but not " +
       "null-tier proofs; DV'd files vouch nothing") {
    import graft.sources.dsv2.{LakeColumnRef, LakeLimits, LakeStats}
    import org.apache.hadoop.fs.Path
    def cs(kind: String, min: String, max: String, nulls: Long) =
      LakeStats.ColStats(kind, Option(min), Option(max), nulls, -1)
    def fs(rows: Long, c: LakeStats.ColStats) =
      LakeStats.FileStats(rows, 1, Map("k" -> c))
    val ref = LakeColumnRef("k", -1, Array("k"))
    val files = Seq("a", "b", "c").map(new Path(_))
    def topn(stats: Map[String, LakeStats.FileStats],
             dvs: Map[String, Seq[String]] = Map.empty,
             t: LakeLimits.TopNPush =
               LakeLimits.TopNPush("k", asc = true, nullsFirst = false,
                 n = 5)) =
      LakeLimits.topNBound(files, stats, dvs, ref, t).map(_.getName)

    // clean case: a(0..9, 10 rows) proves b(100..) and c(200..) out
    val clean = Map(
      "a" -> fs(10, cs("long", "0", "9", 0)),
      "b" -> fs(10, cs("long", "100", "199", 0)),
      "c" -> fs(10, cs("long", "200", "299", 0)))
    assert(topn(clean) == Seq("a"))
    // stats-less c: kept (best unknowable) but still prunes b via a
    assert(topn(clean - "c") == Seq("a", "c"))
    // DV on a: a's rows vouch nothing, so b survives (only a's bounds
    // could beat it) — but b, un-DV'd, still proves c out
    assert(topn(clean, dvs = Map("a" -> Seq("dv"))) == Seq("a", "b"))
    // mixed kinds (schema-widened vintages): value proofs off, all kept
    val mixed = clean.updated("a", fs(10, cs("int", "0", "9", 0)))
    assert(topn(mixed) == Seq("a", "b", "c"))
    // limitBound: stats-less files contribute zero and stay kept when
    // reached before coverage
    val lim = LakeLimits.limitBound(files, clean - "a", Map.empty, 15)
      .map(_.getName)
    assert(lim == Seq("a", "b", "c"),
      s"a proves nothing, b+c must both be taken: $lim")
    assert(LakeLimits.limitBound(files, clean, Map.empty, 15)
      .map(_.getName) == Seq("a", "b"))
  }

  test("TIES are never lost (the cutoff soundness case): units with " +
       "identical constant bounds cannot prove each other out, and two " +
       "null-carrying files both survive NULLS FIRST") {
    withCatalog { (cat, _) =>
      // two files, every row k=5: a per-unit "beaten by >= n elsewhere"
      // rule would drop BOTH and lose the top-1 entirely
      spark.sql(s"CREATE TABLE $cat.db.tie (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.tie SELECT 5, concat('a', id) " +
        "FROM range(0, 10, 1, 1)")
      spark.sql(s"INSERT INTO $cat.db.tie SELECT 5, concat('b', id) " +
        "FROM range(0, 10, 1, 1)")
      val top = spark.sql(s"SELECT k FROM $cat.db.tie ORDER BY k LIMIT 1")
      assert(top.collect().map(_.getLong(0)).toSeq == Seq(5L),
        "the tied top row must survive file bounding")
      // multi-column order over the all-ties table: bounding by the
      // first key must keep BOTH files (everything ties at W), and the
      // retained sort breaks ties on v across them
      val mc = spark.sql(
        s"SELECT v FROM $cat.db.tie ORDER BY k, v LIMIT 2")
      assert(mc.collect().map(_.getString(0)).toSeq == Seq("a0", "a1"),
        "tie-breaker column must see rows from both files")
      // both null-carrying files tie at the null tier
      spark.sql(s"CREATE TABLE $cat.db.ntie (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.ntie " +
        "SELECT CAST(NULL AS BIGINT), 'a' FROM range(0, 5, 1, 1)")
      spark.sql(s"INSERT INTO $cat.db.ntie " +
        "SELECT CAST(NULL AS BIGINT), 'b' FROM range(0, 5, 1, 1)")
      val nt = spark.sql(
        s"SELECT k FROM $cat.db.ntie ORDER BY k NULLS FIRST LIMIT 1")
      assert(nt.collect().length == 1,
        "the tied null tier must survive file bounding")
    }
  }

  test("ROW-GROUP layer: within one giant sorted file, TopN plans only " +
       "the reachable head groups and plain LIMIT stops at exact live " +
       "coverage — and a DV'd head group still vouches its reduced count") {
    import graft.sources.dsv2.LakeTableIO
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.g (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      // tiny row groups + sorted single-task input -> one file, many
      // groups with disjoint k ranges (the post-compaction shape)
      LakeTableIO.rowGroupBytes = 16L << 10
      try spark.sql(s"INSERT INTO $cat.db.g " +
        "SELECT id, concat('v', id) FROM range(0, 100000, 1, 1) " +
        "ORDER BY id")
      finally LakeTableIO.rowGroupBytes = 128L << 20
      def groups(plan: String): (Int, Int) = {
        val m = "rowgroups=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
        (m.group(1).toInt, m.group(2).toInt)
      }
      val (top, topPlan) =
        planOf(s"SELECT k FROM $cat.db.g ORDER BY k LIMIT 5")
      val (planned, total) = groups(topPlan)
      assert(total >= 4, s"fixture wants many groups:\n$topPlan")
      assert(planned == 1,
        s"top-5 of a sorted file lives in its head group:\n$topPlan")
      assert(topPlan.contains("rowgroups_pruned_by_limit="), topPlan)
      assert(top.collect().map(_.getLong(0)).toSeq == (0L until 5L))

      val (desc5, descPlan) =
        planOf(s"SELECT k FROM $cat.db.g ORDER BY k DESC LIMIT 5")
      assert(groups(descPlan)._1 == 1,
        s"bottom-5 lives in the tail group:\n$descPlan")
      assert(desc5.collect().map(_.getLong(0)).toSeq ==
        (99999L to 99995L by -1L))

      val (lim, limPlan) = planOf(s"SELECT k FROM $cat.db.g LIMIT 10")
      assert(groups(limPlan)._1 == 1,
        s"LIMIT 10 needs one group's exact live rows:\n$limPlan")
      assert(lim.count() == 10L)

      // DV the head group's low keys: per-group dead counts are EXACT,
      // so the head group vouches its reduced live count and STILL
      // covers a top-10 alone (unlike the file layer, where a DV voids
      // the whole file's proof)
      spark.sql(s"DELETE FROM $cat.db.g WHERE k < 50")
      val (dv, dvPlan) =
        planOf(s"SELECT k FROM $cat.db.g ORDER BY k LIMIT 10")
      assert(groups(dvPlan)._1 == 1,
        s"the DV'd head group still vouches exactly:\n$dvPlan")
      assert(dv.collect().map(_.getLong(0)).toSeq == (50L until 60L))
    }
  }

  test("write.sort.columns: a shuffled INSERT lands range-DISJOINT " +
       "sorted files (ordered write distribution), so TopN plans one " +
       "file and a point filter prunes by bounds alone; CREATE " +
       "validates the column") {
    import graft.sources.dsv2.{LakeLog, LakeStats}
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.so (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.sort.columns'='k')")
      // deliberately scrambled, round-robin input: WITHOUT the ordered
      // distribution every file would cover the full key range
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        "false")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try spark.sql(s"INSERT INTO $cat.db.so SELECT " +
        "(id * 2654435761) % 1000003 AS k, concat('v', id) AS v " +
        "FROM range(0, 100000, 1, 8)")
      finally {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
      }
      val head = LakeLog.current(s"$root/db/so").get
      assert(head.files.size >= 2, s"fixture wants >1 file: ${head.files}")
      // manifest bounds are pairwise disjoint (unique keys): the
      // ordered distribution, not luck
      val bounds = head.files.map { f =>
        val cs = head.stats(f).cols("k")
        (cs.min.get.toLong, cs.max.get.toLong)
      }.sortBy(_._1)
      bounds.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(hi < lo, s"files overlap in k: $bounds")
        case _ =>
      }
      val n = head.files.size
      val (top, topPlan) =
        planOf(s"SELECT k FROM $cat.db.so ORDER BY k LIMIT 3")
      assert(topPlan.contains(s"files_pruned_by_limit=${n - 1}/$n"),
        s"sorted layout must bound the top-3 to one file:\n$topPlan")
      val expected = (0L until 100000L).map(i => (i * 2654435761L) % 1000003L)
        .sorted.take(3)
      assert(top.collect().map(_.getLong(0)).toSeq == expected)
      // point filter: bounds alone prune all files but one
      val probe = expected.head
      val (pt, ptPlan) =
        planOf(s"SELECT v FROM $cat.db.so WHERE k = $probe")
      assert(pt.count() >= 1)
      assert(s"files_pruned_by_stats=(\\d+)/$n".r
        .findFirstMatchIn(ptPlan).exists(_.group(1).toInt == n - 1),
        s"disjoint bounds must isolate the point lookup:\n$ptPlan")
      // unknown sort column fails at CREATE, loud
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad (k BIGINT) " +
          "TBLPROPERTIES ('write.sort.columns'='nope')")
      }
      assert(e.getMessage.contains("unknown column"), e.getMessage)
    }
  }

  test("sort-order EVOLUTION by ALTER: set after create, forward-looking " +
       "only — new files land disjoint, old overlapping vintages stay " +
       "readable and conservatively kept; unknown column rejects") {
    import graft.sources.dsv2.LakeLog
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.ev (k BIGINT, v STRING)")
      // unsorted vintage first: full-range files
      spark.sql(s"INSERT INTO $cat.db.ev SELECT " +
        "(id * 2654435761) % 1000003 AS k, concat('o', id) AS v " +
        "FROM range(0, 2000, 1, 2)")
      spark.sql(s"ALTER TABLE $cat.db.ev SET TBLPROPERTIES " +
        "('write.sort.columns'='k')")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try spark.sql(s"INSERT INTO $cat.db.ev SELECT " +
        "1000003 + id AS k, concat('n', id) AS v " +
        "FROM range(0, 40000, 1, 4)")
      finally {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
      }
      val head = LakeLog.current(s"$root/db/ev").get
      // the NEW vintage (keys >= 1000003) is range-disjoint
      val newBounds = head.files.flatMap(f =>
        head.stats.get(f).map(_.cols("k")))
        .filter(_.min.get.toLong >= 1000003L)
        .map(cs => (cs.min.get.toLong, cs.max.get.toLong)).sortBy(_._1)
      assert(newBounds.size >= 2, s"sorted insert wants >1 file: $newBounds")
      newBounds.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) => assert(hi < lo,
          s"post-ALTER files overlap: $newBounds")
        case _ =>
      }
      // both vintages read exactly
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.ev").head.getLong(0)
        == 42000L)
      // a probe into the new keyspace plans old full-range files OUT by
      // bounds (old vintage tops out below 1000003)
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.ev WHERE k = 1000010").head
        .getLong(0) == 1L)
      // unknown column rejects loud
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.ev SET TBLPROPERTIES " +
          "('write.sort.columns'='nope')")
      }
      assert(e.getMessage.contains("unknown column"), e.getMessage)
      // unset: back to clustered/unspecified writes, table still reads
      spark.sql(s"ALTER TABLE $cat.db.ev UNSET TBLPROPERTIES " +
        "('write.sort.columns')")
      spark.sql(s"INSERT INTO $cat.db.ev VALUES (5000000, 'z')")
      assert(spark.sql(s"SELECT v FROM $cat.db.ev WHERE k = 5000000")
        .head.getString(0) == "z")
    }
  }

  test("knob/schema interplay: RENAME COLUMN follows write.sort.columns " +
       "and bloom.columns; DROP COLUMN sheds its knob entries — no " +
       "dangling name ever wedges a write") {
    import graft.sources.dsv2.LakeTableIO
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.kn (k BIGINT, tag BIGINT, " +
        "v STRING) TBLPROPERTIES ('write.sort.columns'='k,tag', " +
        "'bloom.columns'='k')")
      spark.sql(s"ALTER TABLE $cat.db.kn RENAME COLUMN k TO id")
      val dir = s"$root/db/kn"
      assert(LakeTableIO.sortColumnsOf(dir) == Seq("id", "tag"),
        s"sort knob must follow the rename: ${LakeTableIO.tableProps(dir)}")
      assert(LakeTableIO.tableProps(dir).get("bloom.columns")
        .contains("id"))
      // a write after the rename resolves the renamed sort column
      spark.sql(s"INSERT INTO $cat.db.kn SELECT id, id % 7, " +
        "concat('v', id) FROM range(0, 100, 1, 2)")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.kn").head
        .getLong(0) == 100L)
      // dropping a knob column sheds exactly its entries
      spark.sql(s"ALTER TABLE $cat.db.kn DROP COLUMN tag")
      assert(LakeTableIO.sortColumnsOf(dir) == Seq("id"),
        s"drop must shed tag: ${LakeTableIO.tableProps(dir)}")
      spark.sql(s"INSERT INTO $cat.db.kn VALUES (500, 'z')")
      assert(spark.sql(s"SELECT v FROM $cat.db.kn WHERE id = 500")
        .head.getString(0) == "z")
      // dropping the LAST sort column unsets the knob entirely
      spark.sql(s"CREATE TABLE $cat.db.kn2 (a BIGINT, b STRING) " +
        "TBLPROPERTIES ('write.sort.columns'='a')")
      spark.sql(s"ALTER TABLE $cat.db.kn2 DROP COLUMN a")
      assert(LakeTableIO.sortColumnsOf(s"$root/db/kn2").isEmpty)
      spark.sql(s"INSERT INTO $cat.db.kn2 VALUES ('x')")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.kn2").head
        .getLong(0) == 1L)
    }
  }

  test("compaction preserves the declared sort order: merging two " +
       "interleaved sorted vintages yields range-disjoint sorted files " +
       "again, and the top-n bound still plans one file") {
    import graft.sources.dsv2.LakeLog
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.cp (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.sort.columns'='k')")
      // two single-file inserts with INTERLEAVED keyspaces: each file
      // is sorted, but the two overlap completely — a round-robin
      // compaction would merge them into full-range files
      spark.sql(s"INSERT INTO $cat.db.cp SELECT 2 * id, concat('e', id) " +
        "FROM range(0, 30000, 1, 1)")
      spark.sql(s"INSERT INTO $cat.db.cp SELECT 2 * id + 1, " +
        "concat('o', id) FROM range(0, 30000, 1, 1)")
      val dir = s"$root/db/cp"
      val before = LakeLog.current(dir).get
      assert(before.files.size == 2)
      val fsys = lfs.fs(dir)
      val sum = before.files.map(f => fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(dir, f)).getLen).sum
      // target below the pair's sum and above each file: both classify
      // small, the merge emits two outputs
      spark.sql(s"CALL $cat.system.compact(table => 'db.cp', " +
        s"target_bytes => ${sum * 2 / 3})")
      val after = LakeLog.current(dir).get
      assert(after.files.size >= 2, s"merge should emit 2+: ${after.files}")
      val bounds = after.files.map { f =>
        val cs = after.stats(f).cols("k")
        (cs.min.get.toLong, cs.max.get.toLong)
      }.sortBy(_._1)
      bounds.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(hi < lo, s"compacted files overlap in k: $bounds")
        case _ =>
      }
      val n = after.files.size
      val (top, topPlan) =
        planOf(s"SELECT k FROM $cat.db.cp ORDER BY k LIMIT 3")
      assert(topPlan.contains(s"files_pruned_by_limit=${n - 1}/$n"),
        s"post-compaction layout must still bound the top-3:\n$topPlan")
      assert(top.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.cp").head.getLong(0)
        == 60000L)
    }
  }

  test("composition with a CONSUMED partition filter: the limit bounds " +
       "within the matching partition's files only") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.p (pri STRING, k BIGINT) " +
        "PARTITIONED BY (pri)")
      spark.sql(s"INSERT INTO $cat.db.p SELECT " +
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END, id " +
        "FROM range(0, 4000, 1, 4)")
      val (df, plan) = planOf(
        s"SELECT k FROM $cat.db.p WHERE pri = 'even' LIMIT 5")
      // the filter was consumed (no Filter node) AND the limit pushed
      assert(plan.contains("pushed_limit=5"), plan)
      assert(!plan.contains("Filter ("), s"consumed filter expected:\n$plan")
      val rows = df.collect().map(_.getLong(0))
      assert(rows.length == 5 && rows.forall(_ % 2 == 0))
    }
  }
}
