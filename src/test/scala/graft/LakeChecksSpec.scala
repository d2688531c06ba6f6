package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** CHECK constraints ([[graft.sources.dsv2.LakeChecks]], `check.<name>`
  * table properties): write-time per-row enforcement on every row-
  * writing path, ALTER-time validation of existing rows (the Delta
  * semantics that make a declared constraint a table-wide guarantee),
  * and scan-time contradiction pruning — a filter provably
  * unsatisfiable under the constraints plans zero files. Soundness
  * pins: NULL passes (SQL CHECK), failed writes publish nothing, and
  * time travel / branches never ride a guarantee younger than the
  * snapshot they read.
  */
class LakeChecksSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-checks").toString
    n += 1
    val cat = s"chkcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  test("write-time enforcement: a violating INSERT fails loud with the " +
       "constraint name and publishes NOTHING; NULL passes (SQL CHECK)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, qty INT) " +
        "TBLPROPERTIES ('check.qty_pos'='qty >= 0')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 5), (2, 0), (3, NULL)")
      assert(spark.table(s"$cat.db.t").count() == 3,
        "valid and NULL rows land")
      val before = LakeLog.current(s"$root/db/t").get.files.size
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 1), (5, -2)")
      }
      assert(exists(e, "qty_pos"), s"names the constraint: $e")
      assert(spark.table(s"$cat.db.t").count() == 3,
        "the failed write must land no rows")
      assert(LakeLog.current(s"$root/db/t").get.files.size == before,
        "no partial files published")
    }
  }
  private def exists(e: Throwable, s: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(t => Option(t.getMessage).exists(_.contains(s)))

  test("ALTER ADD validates EXISTING rows (fails with the violation " +
       "count), and once added the guarantee covers UPDATE post-images " +
       "and MERGE inserts (the delta-writer path)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT, qty INT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.m VALUES (1, 5), (2, -3), (3, 7)")
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.m SET TBLPROPERTIES " +
          "('check.qty_pos'='qty >= 0')")
      }
      assert(exists(e, "1 existing row"), s"counts violations: $e")
      spark.sql(s"DELETE FROM $cat.db.m WHERE qty < 0")
      spark.sql(s"ALTER TABLE $cat.db.m SET TBLPROPERTIES " +
        "('check.qty_pos'='qty >= 0')")
      // MOR UPDATE post-image violating → the write fails
      val e2 = intercept[Exception] {
        spark.sql(s"UPDATE $cat.db.m SET qty = qty - 100 WHERE k = 1")
      }
      assert(exists(e2, "qty_pos"), s"$e2")
      assert(spark.sql(s"SELECT qty FROM $cat.db.m WHERE k = 1")
        .collect().head.getInt(0) == 5, "failed update left the row")
      // MERGE NOT-MATCHED insert violating → fails; a valid merge lands
      spark.sql("SELECT 9L AS k, -1 AS qty").createOrReplaceTempView("bad")
      val e3 = intercept[Exception] {
        spark.sql(s"MERGE INTO $cat.db.m t USING bad s ON t.k = s.k " +
          "WHEN NOT MATCHED THEN INSERT *")
      }
      assert(exists(e3, "qty_pos"), s"$e3")
      spark.sql("SELECT 9L AS k, 42 AS qty").createOrReplaceTempView("good")
      spark.sql(s"MERGE INTO $cat.db.m t USING good s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(spark.table(s"$cat.db.m").count() == 3)
    }
  }

  test("scan-time contradiction: a filter provably outside the declared " +
       "domain plans zero files (explain-visible), non-contradicting " +
       "filters scan normally, and time travel predating the constraint " +
       "is NEVER pruned") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, qty BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      // v1: a negative row exists; v2 deletes it; v3 adds the constraint
      spark.sql(s"INSERT INTO $cat.db.p VALUES (1, 10), (2, -7), (3, 20)")
      spark.sql(s"DELETE FROM $cat.db.p WHERE qty < 0")
      spark.sql(s"ALTER TABLE $cat.db.p SET TBLPROPERTIES " +
        "('check.qty_pos'='qty >= 0 AND qty < 1000')")
      val q = spark.sql(s"SELECT * FROM $cat.db.p WHERE qty < 0")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("pruned_by_check=all"), plan)
      assert(q.collect().isEmpty)
      // both constraint bounds prune; = and IN shapes too
      assert(spark.sql(s"SELECT * FROM $cat.db.p WHERE qty >= 1000")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      assert(spark.sql(s"SELECT * FROM $cat.db.p WHERE qty = -5")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      assert(spark.sql(s"SELECT * FROM $cat.db.p WHERE qty IN (-5, 2000)")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      // a satisfiable filter scans normally
      val ok = spark.sql(s"SELECT k FROM $cat.db.p WHERE qty >= 15")
      assert(!ok.queryExecution.executedPlan.toString
        .contains("pruned_by_check"))
      assert(ok.collect().map(_.getLong(0)).toSeq == Seq(3L))
      // SOUNDNESS: v1 still holds the negative row — time travel must
      // keep the scan (the guarantee is younger than the snapshot)
      val tt = spark.sql(
        s"SELECT k FROM $cat.db.p VERSION AS OF 1 WHERE qty < 0")
      assert(!tt.queryExecution.executedPlan.toString
        .contains("pruned_by_check"), "time travel never check-prunes")
      assert(tt.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("rollback disarms contradiction pruning: a restored pre-" +
       "validation state stays scannable, and re-validating re-arms") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.rb (k BIGINT, qty BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.rb VALUES (1, 10), (2, -7)")
      spark.sql(s"DELETE FROM $cat.db.rb WHERE qty < 0")
      spark.sql(s"ALTER TABLE $cat.db.rb SET TBLPROPERTIES " +
        "('check.qty_pos'='qty >= 0')")
      // armed: contradiction prunes at the validated head
      assert(spark.sql(s"SELECT * FROM $cat.db.rb WHERE qty < 0")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      // rollback restores the state holding the -7 row — the graft
      // marker must DISARM pruning, and the row must be reachable
      spark.sql(s"CALL $cat.system.rollback('db.rb', 1)")
      val q = spark.sql(s"SELECT k FROM $cat.db.rb WHERE qty < 0")
      assert(!q.queryExecution.executedPlan.toString
        .contains("pruned_by_check"),
        "a graft past validation must disarm the prune")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L),
        "the restored pre-validation row must be reachable")
      // re-validation FAILS while the violating row is live (and
      // rolls the constraint declaration back off the table)
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.rb SET TBLPROPERTIES " +
          "('check.qty_pos'='qty >= 0')")
      }
      assert(exists(e, "violate") || exists(e, "violating"), s"$e")
      // delete the bad row, re-validate → pruning re-arms
      spark.sql(s"DELETE FROM $cat.db.rb WHERE qty < 0")
      spark.sql(s"ALTER TABLE $cat.db.rb SET TBLPROPERTIES " +
        "('check.qty_pos'='qty >= 0')")
      val q2 = spark.sql(s"SELECT * FROM $cat.db.rb WHERE qty < 0")
      assert(q2.queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"),
        "a fresh validation past the graft re-arms the prune")
      assert(q2.collect().isEmpty)
    }
  }

  test("validation is CREATE/ALTER-grade: unparseable, unresolvable, " +
       "and non-boolean constraints fail loud; RENAME/DROP of a " +
       "referenced column is rejected until the constraint is unset") {
    withCatalog { (cat, root) =>
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad1 (k BIGINT) " +
          "TBLPROPERTIES ('check.c'='k >=')") // unparseable
      }
      spark.sql(s"SHOW TABLES IN $cat.db").collect() // catalog still sane
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad2 (k BIGINT) " +
          "TBLPROPERTIES ('check.c'='nope > 0')") // unresolvable
      }
      intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad3 (k BIGINT) " +
          "TBLPROPERTIES ('check.c'='k + 1')") // not boolean
      }
      spark.sql(s"CREATE TABLE $cat.db.ok (k BIGINT, qty INT) " +
        "TBLPROPERTIES ('check.qpos'='qty > 0')")
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.ok RENAME COLUMN qty TO amount")
      }
      assert(exists(e, "qpos"), s"$e")
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.ok DROP COLUMN qty")
      }
      assert(exists(e2, "qpos"), s"$e2")
      spark.sql(s"ALTER TABLE $cat.db.ok UNSET TBLPROPERTIES " +
        "('check.qpos')")
      spark.sql(s"ALTER TABLE $cat.db.ok RENAME COLUMN qty TO amount")
      // unconstrained again: negative rows land
      spark.sql(s"INSERT INTO $cat.db.ok VALUES (1, -5)")
      assert(spark.table(s"$cat.db.ok").count() == 1)
    }
  }

  test("string and date domains prune contradictions in their own " +
       "order; doubles never lift (conservative)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.s " +
        "(grade STRING, d DATE, score DOUBLE) TBLPROPERTIES (" +
        "'check.g'=\"grade >= 'B' AND grade <= 'F'\", " +
        "'check.d'=\"d >= DATE '2020-01-01'\", " +
        "'check.s'='score >= 0.0')")
      spark.sql(s"INSERT INTO $cat.db.s VALUES " +
        "('B', DATE '2021-06-01', 1.5), ('F', DATE '2020-01-01', 0.0)")
      assert(spark.sql(s"SELECT * FROM $cat.db.s WHERE grade = 'A'")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      assert(spark.sql(
        s"SELECT * FROM $cat.db.s WHERE d < DATE '2019-06-01'")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      // double constraints are enforcement-only — never lifted
      val dq = spark.sql(s"SELECT * FROM $cat.db.s WHERE score < 0.0")
      assert(!dq.queryExecution.executedPlan.toString
        .contains("pruned_by_check"))
      assert(dq.collect().isEmpty)
      // and the double constraint still ENFORCES
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.s VALUES ('C', DATE '2022-01-01', -1.0)")
      }
      assert(exists(e, "check constraint 's'"), s"$e")
    }
  }

  test("IS NOT NULL constraints prune IS NULL probes — and ONLY an " +
       "explicit IS NOT NULL does (a range constraint lets NULL pass " +
       "per SQL CHECK, so it must never prune the null probe)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.nn " +
        "(id BIGINT, qty BIGINT) TBLPROPERTIES (" +
        "'check.id_req'='id IS NOT NULL AND id >= 0', " +
        "'check.qty_rng'='qty >= 0')")
      spark.sql(s"INSERT INTO $cat.db.nn VALUES (1, 5), (2, NULL)")
      // the unliftable-to-liftable mix: IS NOT NULL lifts, the range
      // rides alongside
      assert(spark.sql(s"SELECT * FROM $cat.db.nn WHERE id IS NULL")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      assert(spark.sql(s"SELECT * FROM $cat.db.nn WHERE id <=> NULL")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
      // qty >= 0 is range-only: NULL passes CHECK, so the null probe
      // must SCAN (and find the null row)
      val q = spark.sql(s"SELECT id FROM $cat.db.nn WHERE qty IS NULL")
      assert(!q.queryExecution.executedPlan.toString
        .contains("pruned_by_check"),
        "a range constraint must never prune IS NULL")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L))
    }
  }

  test("ADD-CONSTRAINT race closure is NOT vacuous: a violating row " +
       "committed between the property write and the re-validation is " +
       "CAUGHT (the re-count really scans — the watermark that would " +
       "contradiction-prune it lands only after the count passes), the " +
       "constraint rolls back, and the row stays reachable") {
    withCatalog { (cat, root) =>
      import graft.sources.dsv2.{GraftCatalog => GC, LakeTableIO}
      spark.sql(s"CREATE TABLE $cat.db.race (k BIGINT, qty BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.race VALUES (1, 10), (2, 20)")
      val dir = s"$root/db/race"
      // stage a VIOLATING file the way an in-flight writer planned
      // before the constraint would: bytes in the table dir, committed
      // straight through the log (no constraint enforcement)
      val tmp = Files.createTempDirectory("race-sneak").toString
      spark.sql("SELECT CAST(3 AS BIGINT) AS k, CAST(-7 AS BIGINT) AS qty")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = lfs.fs(dir)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val sneak = "part-sneak-race.parquet"
      fs.rename(part, new org.apache.hadoop.fs.Path(dir, sneak))
      GC.midAlterHook = () =>
        LakeLog.commit(dir, "sneak", Seq(sneak), Seq.empty, 1L)
      try {
        val e = intercept[Exception] {
          spark.sql(s"ALTER TABLE $cat.db.race SET TBLPROPERTIES " +
            "('check.qty_pos'='qty >= 0')")
        }
        assert(exists(e, "rolled back"),
          s"the re-validation must catch the raced row: $e")
      } finally GC.midAlterHook = () => ()
      // the broken guarantee was NEVER declared: no constraint, no
      // watermark, and the violating row is reachable (no wrong prune)
      val props = LakeTableIO.tableProps(dir)
      assert(!props.contains("check.qty_pos") &&
        !props.contains("checkmeta.qty_pos"), props.toString)
      val q = spark.sql(s"SELECT k FROM $cat.db.race WHERE qty < 0")
      assert(!q.queryExecution.executedPlan.toString
        .contains("pruned_by_check"))
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L),
        "the raced row must be visible — nothing may prune it")
      // cleanup leaves a sound table: the row deleted, the same ALTER
      // then succeeds and arms pruning (watermark present)
      spark.sql(s"DELETE FROM $cat.db.race WHERE qty < 0")
      spark.sql(s"ALTER TABLE $cat.db.race SET TBLPROPERTIES " +
        "('check.qty_pos'='qty >= 0')")
      assert(LakeTableIO.tableProps(dir).contains("checkmeta.qty_pos"))
      assert(spark.sql(s"SELECT * FROM $cat.db.race WHERE qty < 0")
        .queryExecution.executedPlan.toString
        .contains("pruned_by_check=all"))
    }
  }

  test("commit-time constraint guard compares full name→text entries: " +
       "a RE-DECLARED constraint (same name, new text) fails the " +
       "in-flight write like an added one; a DROPPED one is benign") {
    withCatalog { (cat, root) =>
      import graft.sources.dsv2.{LakeChecks, LakeTableIO}
      spark.sql(s"CREATE TABLE $cat.db.tg (qty BIGINT) " +
        "TBLPROPERTIES ('check.q'='qty >= 0')")
      val dir = s"$root/db/tg"
      val atPlan = LakeChecks.planSet(dir)
      assert(atPlan == Map("q" -> "qty >= 0"))
      // unchanged: passes
      LakeChecks.requireUnchangedForWrite(dir, atPlan)
      // re-declared text: the staged rows were enforced against the
      // OLD text — must fail, even though the NAME set is identical
      LakeTableIO.writeProps(dir,
        LakeTableIO.tableProps(dir) + ("check.q" -> "qty >= 10"))
      val e = intercept[java.util.ConcurrentModificationException] {
        LakeChecks.requireUnchangedForWrite(dir, atPlan)
      }
      assert(e.getMessage.contains("q"), e.getMessage)
      // added name: fails
      LakeTableIO.writeProps(dir, LakeTableIO.tableProps(dir) +
        ("check.q" -> "qty >= 0") + ("check.r" -> "qty < 100"))
      intercept[java.util.ConcurrentModificationException] {
        LakeChecks.requireUnchangedForWrite(dir, atPlan)
      }
      // dropped: benign (over-enforced rows)
      LakeTableIO.writeProps(dir,
        LakeTableIO.tableProps(dir) - "check.q" - "check.r")
      LakeChecks.requireUnchangedForWrite(dir, atPlan)
    }
  }

  test("the constraint guard runs INSIDE the commit retry loop " +
       "(prePublish): it re-fires on EVERY publish attempt — a lost " +
       "version race re-checks before retrying — and a throwing guard " +
       "aborts the commit with no manifest published") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.pp (k BIGINT)")
      val dir = s"$root/db/pp"
      val v0 = LakeLog.current(dir).get.version
      // the hook itself steals the version on its first firing: the
      // outer tryPublish must LOSE, retry, and re-run the hook
      var calls = 0
      val snap = LakeLog.commit(dir, "outer", Seq.empty, Seq.empty, 0L,
        dataChange = false, prePublish = () => {
          calls += 1
          if (calls == 1)
            LakeLog.commit(dir, "inner", Seq.empty, Seq.empty, 0L,
              dataChange = false)
        })
      assert(calls >= 2,
        s"prePublish must re-run after the lost race (ran $calls time)")
      assert(snap.operation == "outer" && snap.version == v0 + 2)
      // a throwing guard aborts: nothing publishes
      val before = LakeLog.current(dir).get.version
      intercept[IllegalStateException] {
        LakeLog.commit(dir, "blocked", Seq.empty, Seq.empty, 0L,
          dataChange = false,
          prePublish = () => throw new IllegalStateException("guard"))
      }
      assert(LakeLog.current(dir).get.version == before,
        "a pre-publish abort must leave the log untouched")
    }
  }

  test("history-graft markers are write-once versioned files: the max " +
       "over a listing is never transiently invisible, and a newer " +
       "marker retires the older ones") {
    val dir = Files.createTempDirectory("graft-marker").toString
    val fs = lfs.fs(dir)
    import graft.sources.dsv2.LakeLog
    assert(LakeLog.historyGraftVersion(dir).isEmpty, "no grafts ever")
    LakeLog.noteHistoryGraft(dir, 5L)
    assert(LakeLog.historyGraftVersion(dir).contains(5L))
    // monotonic: an older graft never lowers the claim
    LakeLog.noteHistoryGraft(dir, 3L)
    assert(LakeLog.historyGraftVersion(dir).contains(5L))
    LakeLog.noteHistoryGraft(dir, 9L)
    assert(LakeLog.historyGraftVersion(dir).contains(9L))
    // the marker is a versioned write-once file, not a rewritten single
    // name (the delete-then-rename window was the bug)
    val log = new org.apache.hadoop.fs.Path(dir, "_log")
    val names = fs.listStatus(log).map(_.getPath.getName)
      .filter(_.startsWith("_histgraft-")).toSeq
    assert(names == Seq(f"_histgraft-${9L}%020d.json"), names)
  }
}
