package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.sources.dsv2.{GraftCatalog, LakeEq, LakeLog}

/** Equality deletes ([[graft.sources.dsv2.LakeEq]]) and the native
  * streaming upsert sink ([[graft.sources.dsv2.LakeUpsertWrite]]):
  * each epoch commits O(epoch) work — one key-tombstone sidecar plus
  * the surviving post-images — instead of a foreachBatch MERGE's
  * O(table) join. Soundness pins: the sequencing rule (a delete never
  * touches the same commit's own post-images or later rows), read-side
  * subtraction everywhere (head, time travel, rollback), retirement
  * via rewrite_deletes, and LOUD declines on every surface whose
  * contract live equality deletes would silently break (metadata
  * aggregates, LIMIT bounding, compact/zorder, DML, change feeds,
  * streaming reads, the files inventory).
  */
class LakeEqDeleteSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-eq").toString
    n += 1
    val cat = s"eqcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def freshDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft-eq-$name")
    p.toString
  }

  private def exists(e: Throwable, s: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12)
      .exists(t => Option(t.getMessage).exists(_.contains(s)))

  /** Drive a keyed CDC stream (3 commits = 3 epochs) into `dst`. */
  private def runUpsert(cat: String, src: String, dst: String): Unit = {
    val out = freshDir("ckpt")
    val q = spark.readStream.option("maxCommitsPerBatch", 1)
      .table(src)
      .writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .option("upsert.keys", "k")
      .option("upsert.order", "seq")
      .option("upsert.tombstone", "op = 'delete'")
      .trigger(Trigger.AvailableNow())
      .toTable(dst)
    q.awaitTermination()
  }

  test("streaming upsert folds a keyed CDC stream at O(epoch): " +
       "insert/update/delete epochs land as eq-tombstones + " +
       "post-images, the final state equals the batch MERGE semantics, " +
       "and the same epoch's own post-images are never self-deleted") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      // epoch 1: inserts for keys 1..6 — PLUS a same-epoch update of
      // key 1 (the within-epoch fold: seq 2 wins, seq 1 never lands)
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1), " +
        "(3, 'c1', 'insert', 1), (4, 'd1', 'insert', 1), " +
        "(5, 'e1', 'insert', 1), (6, 'f1', 'insert', 1), " +
        "(1, 'a2', 'update', 2)")
      // epoch 2: update keys 2 and 3 (their epoch-1 rows must
      // eq-delete), delete key 4
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(2, 'b2', 'update', 3), (3, 'c2', 'update', 3), " +
        "(4, null, 'delete', 3)")
      // epoch 3: re-insert key 4 (a delete then re-insert), delete 6
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(4, 'd3', 'insert', 4), (6, null, 'delete', 4)")
      spark.sql(s"CREATE TABLE $cat.db.dst " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dst")
      val got = spark.table(s"$cat.db.dst")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a2", 2L -> "b2", 3L -> "c2",
        4L -> "d3", 5L -> "e1"),
        s"fold result wrong: $got")
      // the log shape: three epoch commits, each carrying ONE eq ref;
      // refs accumulate until retirement
      val dir = s"$root/db/dst"
      val head = LakeLog.current(dir).get
      assert(head.eqs.size == 3, s"three epochs' refs live: ${head.eqs}")
      assert(head.eqs.forall(_.keyCols == Seq("k")))
      // physically the superseded rows are still in their files — the
      // READER subtracts them (count must come from a scan, not
      // metadata: the fast path declines under live eqs)
      val cq = spark.sql(s"SELECT count(*) FROM $cat.db.dst")
      assert(!cq.queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        "metadata COUNT must decline under live equality deletes")
      assert(cq.collect().head.getLong(0) == 5L)
      // explain evidence
      val desc = spark.table(s"$cat.db.dst")
        .queryExecution.executedPlan.toString
      assert(desc.contains("eq_deletes=3"), desc)
    }
  }

  test("retirement: rewrite_deletes materializes the tombstones, " +
       "retires every ref, preserves the exact state, and restores the " +
       "metadata fast paths; a second rewrite is a no-op") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1), " +
        "(3, 'c1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2), (2, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.d2 " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.d2")
      val dir = s"$root/db/d2"
      val before = spark.table(s"$cat.db.d2")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(before == Map(1L -> "a2", 3L -> "c1"))
      val r = spark.sql(s"CALL $cat.system.rewrite_deletes('db.d2')")
        .collect().head
      assert(r.getInt(0) >= 1 && r.getLong(1) >= 2L,
        s"files rewritten + eq rows materialized: $r")
      assert(LakeLog.current(dir).get.eqs.isEmpty, "refs retired")
      val after = spark.table(s"$cat.db.d2")
        .selectExpr("k", "v").collect()
        .map(r2 => r2.getLong(0) -> r2.getString(1)).toMap
      assert(after == before, "rewrite must preserve the exact state")
      // fast paths restored
      val cq = spark.sql(s"SELECT count(*) FROM $cat.db.d2")
      assert(cq.queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        cq.queryExecution.executedPlan.toString)
      assert(cq.collect().head.getLong(0) == 2L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.d2.files")
        .collect().head.getLong(0) >= 1L, "inventory readable again")
      // idempotent
      val r2 = spark.sql(s"CALL $cat.system.rewrite_deletes('db.d2')")
        .collect().head
      assert(r2.getInt(0) == 0 && r2.getLong(1) == 0L)
    }
  }

  test("sequencing under time travel and rollback: each snapshot " +
       "applies exactly ITS OWN refs — an earlier version ignores " +
       "later tombstones, and rollback restores the eq list AND the " +
       "restored files' add versions verbatim (deleted rows stay " +
       "deleted after the restore)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.tt " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.tt")
      def vmap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
        df.selectExpr("k", "v").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      // head (v2): epoch-2's tombstone deleted a1, post-image a2 lives
      assert(vmap(spark.table(s"$cat.db.tt")) ==
        Map(1L -> "a2", 2L -> "b1"))
      // v1: epoch-2's ref is NOT in v1's manifest — a1 still live
      assert(vmap(spark.sql(
        s"SELECT * FROM $cat.db.tt VERSION AS OF 1")) ==
        Map(1L -> "a1", 2L -> "b1"))
      val dir = s"$root/db/tt"
      // rollback to v2 is a no-op state-wise, but the CRITICAL pin is
      // rolling back to v1 then to v2 again: the re-added epoch-1 file
      // must keep its ORIGINAL add version so v2's restored ref still
      // deletes a1 (a re-stamped addV would resurrect it)
      spark.sql(s"CALL $cat.system.rollback('db.tt', 1)")
      assert(vmap(spark.table(s"$cat.db.tt")) ==
        Map(1L -> "a1", 2L -> "b1"),
        "pre-tombstone state restored whole")
      spark.sql(s"CALL $cat.system.rollback('db.tt', 2)")
      assert(vmap(spark.table(s"$cat.db.tt")) ==
        Map(1L -> "a2", 2L -> "b1"),
        "the restored ref must still delete the restored file's row")
      val head = LakeLog.current(dir).get
      assert(head.eqs.size == 2, s"v2's refs restored: ${head.eqs}")
    }
  }

  test("LOUD declines under live equality deletes: metadata " +
       "aggregates and LIMIT bounding, " +
       "and the two-point diff refuse rather than guess; the CDC feed " +
       "SERVES the epochs, and the inventories serve EXACT counts " +
       "under small attached refs (r16 bounded key-column probe) — " +
       "results stay exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.dd " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.dd")
      val dir = s"$root/db/dd"
      assert(LakeLog.current(dir).get.eqs.nonEmpty)
      // LIMIT file bounding declines (no pushed_limit), answer exact
      val lq = spark.sql(s"SELECT k FROM $cat.db.dd LIMIT 5")
      assert(!lq.queryExecution.executedPlan.toString
        .contains("pushed_limit"))
      assert(lq.collect().length == 2)
      // DML + feeds: loud with the remedy (compact/zorder no longer
      // decline — they FOLD retirement in, pinned in their own test)
      // row-level DML now runs UNDER live refs (r15, its own test);
      // the mid-operation eq-set-stability primitive still trips loud
      val eChanges = intercept[Exception] {
        graft.operators.LakeSnapshots.changes(spark, dir, 1, 2).collect()
      }
      assert(exists(eChanges, "equality-delete"), s"$eChanges")
      // the BATCH change-feed table SERVES eq-commit versions (r15):
      // the refs' key sets are the delete side, the epochs' own
      // post-images the insert side (collapsed insert/delete typing)
      val events = spark.sql(s"SELECT k, v, _change_type " +
        s"FROM $cat.db.dd.changes").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(events == Set((1L, "a1", "insert"), (2L, "b1", "insert"),
        (1L, "a2", "insert"), (1L, "a1", "delete")),
        s"upsert CDC events wrong: $events")
      // the partitions inventory (r16 exact arm): the attached ref is
      // SMALL (within the key-scoping cap), so the bounded key-column
      // probe prices its matches and row_count is EXACT — 2 live rows
      // (a1 superseded by the ref, a2 + b1 live)
      val partRows = spark.sql(
        s"SELECT row_count FROM $cat.db.dd.partitions").collect()
      assert(partRows.length == 1 && !partRows.head.isNullAt(0) &&
        partRows.head.getLong(0) == 2L, partRows.mkString(";"))
      // the DML rewrite-guard primitive: a ref landing after a
      // ref-free plan fails the mid-operation re-check loud (DML
      // passes it as prePublish; maintenance tolerates additions via
      // sequence inheritance since r16)
      intercept[java.util.ConcurrentModificationException] {
        LakeEq.requireUnchanged(dir, None, Seq.empty, "test-rewrite")
      }
      // the files inventory serves per FILE (r16 exact arm): the
      // small ref's matches are PRICED — the epoch-1 file holding
      // k=1's old version reports 1 live of its 2 physical rows, the
      // post-image file 1 of 1; no NULL anywhere under a small ref
      val invRows = spark.sql(
        s"SELECT live_rows FROM $cat.db.dd.files").collect()
      assert(invRows.length == 2 && invRows.forall(!_.isNullAt(0)) &&
        invRows.map(_.getLong(0)).sorted.toSeq == Seq(1L, 1L),
        invRows.mkString(";"))
      val eStream = intercept[Exception] {
        val out = freshDir("sread")
        val q = spark.readStream.table(s"$cat.db.dd")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      assert(exists(eStream, "equality deletes"), s"$eStream")
      // the DELETES inventory is the one metadata table that stays
      // readable — it EXISTS to show the debt the other inventories'
      // declines point at: one eq ref per epoch (2 insert keys, then
      // 1 update key)
      val debt = spark.sql(s"SELECT kind, ref, version, key_cols, " +
        s"entries FROM $cat.db.dd.deletes ORDER BY version")
        .collect()
      assert(debt.length == 2 && debt.forall(_.getString(0) == "equality"),
        debt.mkString(";"))
      assert(debt.forall(_.getString(3) == "k"))
      assert(debt.map(_.getLong(4)).toSeq == Seq(2L, 1L),
        debt.mkString(";"))
      // ANALYZE skips eq-affected files instead of faking facts
      spark.sql(s"CALL $cat.system.analyze('db.dd')")
      assert(!spark.sql(s"SELECT sum(k) FROM $cat.db.dd")
        .queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        "metadata SUM must stay declined while refs live")
      // after retirement everything works again (compact as the probe)
      spark.sql(s"CALL $cat.system.rewrite_deletes('db.dd')")
      spark.sql(s"CALL $cat.system.compact('db.dd', 134217728)")
      assert(spark.table(s"$cat.db.dd").count() == 2L)
    }
  }

  test("WAP: an upsert through the BRANCH spelling commits epochs, " +
       "post-images, and eq refs to the branch — main never sees a " +
       "byte until fast_forward publishes the fold atomically") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2), (2, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.wap " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"CALL $cat.system.branch('db.wap', 'audit')")
      val out = freshDir("wapups")
      val q = spark.readStream.option("maxCommitsPerBatch", 1)
        .table(s"$cat.db.src")
        .writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .option("upsert.keys", "k")
        .option("upsert.order", "seq")
        .option("upsert.tombstone", "op = 'delete'")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.wap.branch_audit")
      q.awaitTermination()
      val dir = s"$root/db/wap"
      assert(spark.table(s"$cat.db.wap").count() == 0L,
        "main must not see branch upserts")
      assert(LakeLog.current(dir).get.eqs.isEmpty,
        "main's eq list untouched")
      assert(LakeLog.current(dir, Some("audit")).get.eqs.size == 2,
        "the branch carries the epochs' refs")
      // AUDIT the staged fold, then publish
      val staged = spark.sql(
        s"SELECT k, v FROM $cat.db.wap.branch_audit ORDER BY k")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(staged == Map(1L -> "a2"), s"$staged")
      spark.sql(s"CALL $cat.system.fast_forward('db.wap', 'audit')")
      val main = spark.table(s"$cat.db.wap")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(main == Map(1L -> "a2"),
        "fast-forward publishes the fold with its refs and addVs intact")
    }
  }

  test("SampleUdaf merges reservoirs WEIGHTED by seen counts: a tiny " +
       "partial cannot swamp a million-row partner") {
    import graft.sources.dsv2.{LakeAnalyze, LakeHist}
    val u = new LakeAnalyze.SampleUdaf()
    // side A: 1M rows of value 1.0; side B: 200 rows of value 100.0
    val a = Array(1000000.0) ++ Array.fill(LakeHist.K)(1.0)
    val b = Array(200.0) ++ Array.fill(LakeHist.K)(100.0)
    val merged = u.merge(a, b)
    assert(merged(0) == 1000200.0)
    val kept = merged.drop(1)
    val fromB = kept.count(_ == 100.0)
    // proportional: B deserves 200/1000200 of 64 slots ≈ 0 — a uniform
    // concat-pick would have given it ~half
    assert(fromB <= 2,
      s"a 200-row partial took $fromB of ${kept.length} slots")
    assert(kept.count(_ == 1.0) >= kept.length - 2)
  }

  test("an equality delete cannot commit against (or plan over) files " +
       "with no add version — the sequencing precondition is loud at " +
       "both ends, with the remedy") {
    val dir = Files.createTempDirectory("graft-eq-seq").toString
    // bootstrap vintage: raw files swept into v0 with NO stats → no
    // add version
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val fs = lfs.fs(dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    LakeLog.commit(dir, "noop", Seq.empty, Seq.empty, 0L) // bootstrap v0
    val side = LakeEq.write(dir, Seq("k"), Seq("1"))
    val e = intercept[IllegalStateException] {
      LakeLog.commit(dir, "upsert-attempt", Seq.empty, Seq.empty, 0L,
        eqAdded = Seq((side, Seq("k"), 1L)))
    }
    assert(e.getMessage.contains("add version") &&
      e.getMessage.contains("rewrite_deletes"), e.getMessage)
  }

  test("mixed-case upsert.keys round-trips: the sidecar and manifest " +
       "carry the SCHEMA-canonical spelling, so every subsequent read " +
       "of affected files plans green (accepted input must never " +
       "become a self-inflicted outage)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.mc " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      // the user spells the key column 'K' against schema column 'k'
      val out = freshDir("ckpt-mc")
      val q = spark.readStream.option("maxCommitsPerBatch", 1)
        .table(s"$cat.db.src")
        .writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .option("upsert.keys", "K")
        .option("upsert.order", "SEQ")
        .option("upsert.tombstone", "op = 'delete'")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.mc")
      q.awaitTermination()
      val dir = s"$root/db/mc"
      val head = LakeLog.current(dir).get
      assert(head.eqs.nonEmpty &&
        head.eqs.forall(_.keyCols == Seq("k")),
        s"manifest refs must carry the schema spelling: ${head.eqs}")
      assert(head.eqs.forall(r =>
        LakeEq.read(dir, r.name)._1 == Seq("k")),
        "sidecar keyCols must carry the schema spelling")
      // and the read is green with exact subtraction
      val got = spark.table(s"$cat.db.mc")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a2", 2L -> "b1"), s"$got")
    }
  }

  test("ALTER TABLE guards live eq-ref key columns: RENAME/DROP of a " +
       "key column under live refs is rejected loud (refs could never " +
       "re-bind); after rewrite_deletes retires them the ALTER " +
       "proceeds") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.ag " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.ag")
      assert(LakeLog.current(s"$root/db/ag").get.eqs.nonEmpty)
      val eRen = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.ag RENAME COLUMN k TO kk")
      }
      assert(exists(eRen, "equality") &&
        exists(eRen, "rewrite_deletes"), eRen.getMessage)
      val eDrop = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.ag DROP COLUMN k")
      }
      assert(exists(eDrop, "equality"), eDrop.getMessage)
      // a NON-key column stays alterable under live refs
      spark.sql(s"ALTER TABLE $cat.db.ag RENAME COLUMN v TO vv")
      // retirement restores full ALTER freedom
      spark.sql(s"CALL $cat.system.rewrite_deletes('db.ag')")
      spark.sql(s"ALTER TABLE $cat.db.ag RENAME COLUMN k TO kk")
      assert(spark.table(s"$cat.db.ag").columns.toSeq ==
        Seq("kk", "vv", "op", "seq"))
    }
  }

  test("key-statistics scoping: on a key-range-disjoint layout an " +
       "epoch's ref attaches (scan, inventory, rewrite) only to the " +
       "files whose bounds admit its keys — a strict subset of the " +
       "sequenced files — and row results stay exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      // four range-disjoint base files (one commit each: 0-9, 10-19,
      // 20-29, 30-39), then one epoch touching keys 11 and 12 only
      for (lo <- Seq(0, 10, 20, 30))
        spark.sql(s"INSERT INTO $cat.db.src " +
          s"SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
          s"CAST(1 AS BIGINT) AS seq FROM range(${lo}, ${lo + 10})")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(11, 'u11', 'update', 2), (12, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.sc " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.sc")
      val dir = s"$root/db/sc"
      val head = LakeLog.current(dir).get
      // the LAST epoch's ref (keys 11, 12) sequences against every
      // earlier file, but key stats scope it to the 10-19 band only
      val lastRef = head.eqs.maxBy(_.version)
      val seqFiles = head.files.count(f =>
        head.stats.get(f).exists(st =>
          st.addV >= 0 && st.addV < lastRef.version))
      val inv = spark.table(s"$cat.db.sc.deletes")
        .where(s"ref = '${lastRef.name}'")
        .selectExpr("applies_to_files").collect().head.getLong(0)
      assert(inv < seqFiles,
        s"scoping must attach a STRICT subset: $inv of $seqFiles")
      assert(inv >= 1, "the 10-19 band genuinely holds the keys")
      // row results exact despite the pruned attachment
      val got = spark.table(s"$cat.db.sc")
        .where("k >= 10 AND k < 14").selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(10L -> "v10", 11L -> "u11", 13L -> "v13"),
        s"$got")
      // rewrite honors the same scope and preserves state
      spark.sql(s"CALL $cat.system.rewrite_deletes('db.sc')")
      assert(LakeLog.current(dir).get.eqs.isEmpty)
      val after = spark.table(s"$cat.db.sc").count()
      assert(after == 39L, s"40 keys minus one delete: $after")
    }
  }

  test("retirement folds into maintenance (r15): compact on a live-ref " +
       "table merges, applies, and retires every ref in ONE " +
       "dataChange=false commit — state exact, fast paths restored; " +
       "zorder likewise") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1), " +
        "(3, 'c1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2), (2, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.cf " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.cf")
      val dir = s"$root/db/cf"
      assert(LakeLog.current(dir).get.eqs.size == 2)
      // compact WITH live refs: succeeds, retires, exact state
      spark.sql(s"CALL $cat.system.compact('db.cf', 134217728)")
      val head = LakeLog.current(dir).get
      assert(head.eqs.isEmpty, "compact must retire the refs")
      assert(head.operation == "compact" && !head.dataChange)
      val got = spark.table(s"$cat.db.cf")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a2", 3L -> "c1"), s"$got")
      // the epochs' small post-image files merged in the same pass
      assert(head.files.size < LakeLog.snapshotAt(dir,
        head.version - 1).files.size,
        s"small files must merge: ${head.files.size}")
      // fast paths restored
      val cq = spark.sql(s"SELECT count(*) FROM $cat.db.cf")
      assert(cq.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(cq.collect().head.getLong(0) == 2L)

      // zorder on a second live-ref table: retires + clusters at once
      spark.sql(s"CREATE TABLE $cat.db.zf " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.zf")
      val zdir = s"$root/db/zf"
      assert(LakeLog.current(zdir).get.eqs.nonEmpty)
      spark.sql(s"CALL $cat.system.zorder('db.zf', 'k', 1)")
      assert(LakeLog.current(zdir).get.eqs.isEmpty,
        "zorder must retire the refs")
      val zgot = spark.table(s"$cat.db.zf")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(zgot == Map(1L -> "a2", 3L -> "c1"), s"$zgot")
    }
  }

  test("sink-side auto-retirement: upsert.retire.maxRefs runs the " +
       "retirement rewrite inline between epochs — the stream never " +
       "stops, the live ref count stays bounded, state exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(2, null, 'delete', 3), (3, 'c3', 'insert', 3)")
      spark.sql(s"CREATE TABLE $cat.db.ar " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      val out = freshDir("ckpt-ar")
      val q = spark.readStream.option("maxCommitsPerBatch", 1)
        .table(s"$cat.db.src")
        .writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .option("upsert.keys", "k")
        .option("upsert.order", "seq")
        .option("upsert.tombstone", "op = 'delete'")
        .option("upsert.retire.maxRefs", "1")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.ar")
      q.awaitTermination()
      val dir = s"$root/db/ar"
      // every epoch hit the threshold: all refs retired inline
      assert(LakeLog.current(dir).get.eqs.isEmpty,
        s"refs must be auto-retired: ${LakeLog.current(dir).get.eqs}")
      val ops = graft.operators.LakeSnapshots.historyRows(dir)
        .map(_._2)
      assert(ops.count(_ == "rewrite_deletes") >= 3, s"$ops")
      val got = spark.table(s"$cat.db.ar")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a2", 3L -> "c3"), s"$got")
      // bounded debt is the contract: metadata fast paths live again
      val cq = spark.sql(s"SELECT count(*) FROM $cat.db.ar")
      assert(cq.queryExecution.executedPlan.toString
        .contains("PushedAggregates"))
      assert(cq.collect().head.getLong(0) == 2L)
    }
  }

  test("partition-scoped refs (r15): when the key columns determine " +
       "the partition, an epoch writes one tuple'd sidecar per touched " +
       "partition and readers/inventory/rewrite attach it ONLY to " +
       "matching-tuple files — counterized against a bucket layout " +
       "whose key RANGES overlap (stats alone cannot prune); a non-key " +
       "partitioning keeps table-wide refs") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      // epoch 1: keys 1..40 — bucket(2, k) interleaves them, so BOTH
      // bucket files span ~[1, 40] and min/max cannot discriminate
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
        "CAST(1 AS BIGINT) AS seq FROM range(1, 41)")
      // epoch 2: update key 7 only
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(7, 'u7', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.ps " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT) " +
        "PARTITIONED BY (bucket(2, k))")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.ps")
      val dir = s"$root/db/ps"
      val head = LakeLog.current(dir).get
      // every ref carries its partition tuple
      assert(head.eqs.nonEmpty && head.eqs.forall(_.tuple.isDefined),
        s"refs must be tuple'd: ${head.eqs}")
      // epoch 1 landed two bucket files whose k ranges both cover 7,
      // so key-stat scoping keeps both — the TUPLE is what scopes
      val lastRef = head.eqs.maxBy(_.version)
      val priorFiles = head.files.filter(f =>
        head.stats.get(f).exists(st =>
          st.addV >= 0 && st.addV < lastRef.version))
      assert(priorFiles.size == 2, s"two bucket files: $priorFiles")
      val kRanges = priorFiles.map(f =>
        (head.stats(f).cols("k").min.get.toLong,
         head.stats(f).cols("k").max.get.toLong))
      assert(kRanges.forall { case (lo, hi) => lo <= 7 && 7 <= hi },
        s"both ranges must cover key 7 or the pin proves nothing: " +
          s"$kRanges")
      val inv = spark.table(s"$cat.db.ps.deletes")
        .where(s"ref = '${lastRef.name}'")
        .selectExpr("applies_to_files").collect().head.getLong(0)
      assert(inv == 1,
        s"tuple scoping must cut the 2 stats-kept files to 1: $inv")
      // results exact despite the scoped attachment
      val got = spark.table(s"$cat.db.ps")
        .where("k IN (6, 7, 8)").selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(6L -> "v6", 7L -> "u7", 8L -> "v8"), s"$got")
      // rewrite honors the same scope; state preserved
      spark.sql(s"CALL $cat.system.rewrite_deletes('db.ps')")
      assert(LakeLog.current(dir).get.eqs.isEmpty)
      assert(spark.table(s"$cat.db.ps").count() == 40L)

      // non-key partitioning: refs stay table-wide (tuple-less)
      spark.sql(s"CREATE TABLE $cat.db.pu " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT) " +
        "PARTITIONED BY (bucket(2, seq))")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.pu")
      val headU = LakeLog.current(s"$root/db/pu").get
      assert(headU.eqs.nonEmpty && headU.eqs.forall(_.tuple.isEmpty),
        s"non-key spec sources must keep table-wide refs: ${headU.eqs}")
    }
  }

  test("upsert x schema evolution matrix (r15): ADD COLUMN between " +
       "runs back-fills null on old rows and new epochs write it; a " +
       "ref keyed on the ADDED column can never tombstone pre-ADD " +
       "rows (their key is physically absent -> null -> no match, and " +
       "the reader drops unresolvable sidecars per file); widening a " +
       "key column keeps refs matching (canonical encodings are " +
       "identical across the widening) — loud or exact, never silent") {
    withCatalog { (cat, root) =>
      // --- ADD COLUMN between upsert runs ---
      spark.sql(s"CREATE TABLE $cat.db.src1 " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src1 VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"CREATE TABLE $cat.db.ev " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src1", s"$cat.db.ev")
      spark.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN w STRING")
      // second run writes the widened shape (new source, new run)
      spark.sql(s"CREATE TABLE $cat.db.src2 " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT, w STRING)")
      spark.sql(s"INSERT INTO $cat.db.src2 VALUES " +
        "(2, 'b2', 'update', 2, 'w2'), (3, 'c2', 'insert', 2, 'w3')")
      val out = freshDir("ckpt-ev2")
      val q = spark.readStream.option("maxCommitsPerBatch", 1)
        .table(s"$cat.db.src2")
        .writeStream
        .option("checkpointLocation", s"$out/ckpt")
        .option("upsert.keys", "k")
        .option("upsert.order", "seq")
        .option("upsert.tombstone", "op = 'delete'")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.ev")
      q.awaitTermination()
      val got = spark.table(s"$cat.db.ev")
        .selectExpr("k", "v", "w").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set((1L, "a1", null), (2L, "b2", "w2"),
        (3L, "c2", "w3")), s"$got")

      // --- a ref keyed on the ADDED column: pre-ADD rows untouchable
      spark.sql(s"CREATE TABLE $cat.db.src3 " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT, w STRING)")
      spark.sql(s"INSERT INTO $cat.db.src3 VALUES " +
        "(9, 'z1', 'insert', 3, 'a1')") // w='a1' COLLIDES with k=1's v
      val out3 = freshDir("ckpt-ev3")
      val q3 = spark.readStream.option("maxCommitsPerBatch", 1)
        .table(s"$cat.db.src3")
        .writeStream
        .option("checkpointLocation", s"$out3/ckpt")
        .option("upsert.keys", "w") // keyed on the ADDED column
        .option("upsert.order", "seq")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.ev")
      q3.awaitTermination()
      // pre-ADD rows (k=1 has w=null physically ABSENT) must survive
      // any w-keyed ref; the new w='a1' row lands
      val got3 = spark.table(s"$cat.db.ev")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got3 == Map(1L -> "a1", 2L -> "b2", 3L -> "c2",
        9L -> "z1"), s"$got3")

      // --- widening a key column under LIVE refs ---
      spark.sql(s"CREATE TABLE $cat.db.wsrc " +
        "(k INT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.wsrc VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.wsrc VALUES " +
        "(1, 'a2', 'update', 2)")
      spark.sql(s"CREATE TABLE $cat.db.wd " +
        "(k INT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.wsrc", s"$cat.db.wd")
      assert(LakeLog.current(s"$root/db/wd").get.eqs.nonEmpty)
      spark.sql(s"ALTER TABLE $cat.db.wd ALTER COLUMN k TYPE BIGINT")
      // the live refs still subtract: int 1 and bigint 1 share the
      // canonical encoding "1"
      val wgot = spark.table(s"$cat.db.wd")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(wgot == Map(1L -> "a2", 2L -> "b1"), s"$wgot")
      // retirement works across the widening too
      spark.sql(s"CALL $cat.system.rewrite_deletes('db.wd')")
      assert(spark.table(s"$cat.db.wd").count() == 2L)
    }
  }

  test("tuple scoping compares splitTuple-NORMALIZED forms: a legacy " +
       "version-less file tuple (reads as spec 0) with the same slots " +
       "as a versioned s0 ref tuple ATTACHES — raw Seq comparison " +
       "would skip it and resurrect deleted rows") {
    import graft.sources.dsv2.{LakeEq, LakeColumnRef}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", LongType)))
    val cols = Array(LakeColumnRef("k", 1, Array("k")))
    val ref = LakeEq.EqRef("eq-x.json", 5L, Seq("k"), 1L,
      tuple = Some(Seq("s0", "v3")))
    def scoped(ft: Option[Seq[String]]) =
      LakeEq.scopedApplicable("/nowhere", Seq(ref), 1L, None, cols,
        schema, ft)
    // legacy version-less tuple, same slots → MUST attach
    assert(scoped(Some(Seq("v3"))).nonEmpty)
    // versioned same tuple → attach; same spec different slots → skip
    assert(scoped(Some(Seq("s0", "v3"))).nonEmpty)
    assert(scoped(Some(Seq("s0", "v4"))).isEmpty)
    assert(scoped(Some(Seq("v4"))).isEmpty) // legacy, different slots
    // different spec id → conservative attach; tuple-less → attach
    assert(scoped(Some(Seq("s1", "v4"))).nonEmpty)
    assert(scoped(None).nonEmpty)
  }

  test("row-level DML runs UNDER live refs (r15): COW DELETE/UPDATE " +
       "and MERGE subtract eq-deleted rows in their rewrite (never " +
       "materialized back to life), MOR DML keeps refs attaching to " +
       "DV'd files, refs stay live for untouched files, and the " +
       "mid-operation guard requires the PLAN-TIME ref set verbatim") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a1', 'insert', 1), (2, 'b1', 'insert', 1), " +
        "(3, 'c1', 'insert', 1), (4, 'd1', 'insert', 1)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(1, 'a2', 'update', 2), (2, null, 'delete', 2)")
      // ---------- copy-on-write ----------
      spark.sql(s"CREATE TABLE $cat.db.cw " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.cw")
      val cwDir = s"$root/db/cw"
      val refsAtPlan = LakeLog.current(cwDir).get.eqs
      assert(refsAtPlan.nonEmpty)
      // state: 1->a2, 3->c1, 4->d1 (2 tombstoned). DELETE one live key:
      spark.sql(s"DELETE FROM $cat.db.cw WHERE k = 3")
      // the rewrite must NOT resurrect b1 (same file as c1) or a1
      var got = spark.table(s"$cat.db.cw")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a2", 4L -> "d1"), s"after DELETE: $got")
      // refs survive for untouched files
      assert(LakeLog.current(cwDir).get.eqs == refsAtPlan)
      // UPDATE through the same machinery
      spark.sql(s"UPDATE $cat.db.cw SET v = 'dX' WHERE k = 4")
      got = spark.table(s"$cat.db.cw")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a2", 4L -> "dX"), s"after UPDATE: $got")
      // MERGE INTO — the batch upsert, now composable with the sink
      spark.sql(s"CREATE OR REPLACE TEMP VIEW cw_updates AS " +
        "SELECT * FROM VALUES (1, 'a9'), (5, 'e9') AS t(uk, uv)")
      spark.sql(s"MERGE INTO $cat.db.cw t USING cw_updates u " +
        "ON t.k = u.uk " +
        "WHEN MATCHED THEN UPDATE SET t.v = u.uv " +
        "WHEN NOT MATCHED THEN INSERT (k, v, op, seq) " +
        "VALUES (u.uk, u.uv, 'merge', 9)")
      got = spark.table(s"$cat.db.cw")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a9", 4L -> "dX", 5L -> "e9"),
        s"after MERGE: $got")
      // ---------- merge-on-read ----------
      spark.sql(s"CREATE TABLE $cat.db.mr " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.mr")
      val mrDir = s"$root/db/mr"
      assert(LakeLog.current(mrDir).get.eqs.nonEmpty)
      spark.sql(s"DELETE FROM $cat.db.mr WHERE k = 3")
      val mrGot = spark.table(s"$cat.db.mr")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(mrGot == Map(1L -> "a2", 4L -> "d1"), s"MOR DELETE: $mrGot")
      // DV'd file keeps its add version: refs still attach, b1 stays
      // dead; a fresh read after one more MOR update agrees
      spark.sql(s"UPDATE $cat.db.mr SET v = 'aU' WHERE k = 1")
      val mrGot2 = spark.table(s"$cat.db.mr")
        .selectExpr("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(mrGot2 == Map(1L -> "aU", 4L -> "d1"), s"MOR UPDATE: $mrGot2")
      // ---------- the mid-operation guard primitive ----------
      val live = LakeLog.current(mrDir).get.eqs
      graft.sources.dsv2.LakeEq.requireUnchanged(mrDir, None, live, "t")
      intercept[java.util.ConcurrentModificationException] {
        graft.sources.dsv2.LakeEq.requireUnchanged(mrDir, None,
          live.tail, "t")
      }
    }
  }

  test("scoped survival of the fast paths (r15): refs that provably " +
       "attach to NO current file (insert-only epochs with disjoint " +
       "key ranges) keep metadata aggregates and LIMIT bounding live " +
       "while the refs themselves stay in the manifest") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
        "CAST(1 AS BIGINT) AS seq FROM range(1, 21)")
      // epoch 2: NEW keys far outside epoch 1's range — its ref
      // applies to the epoch-1 file by SEQUENCING but key stats prove
      // none of its keys live there
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('n', id) AS v, 'insert' AS op, " +
        "CAST(2 AS BIGINT) AS seq FROM range(100, 111)")
      spark.sql(s"CREATE TABLE $cat.db.fp " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.fp")
      val dir = s"$root/db/fp"
      assert(LakeLog.current(dir).get.eqs.size == 2, "refs live")
      // metadata COUNT survives: no ref attaches to any file
      val cq = spark.sql(s"SELECT count(*) FROM $cat.db.fp")
      assert(cq.queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        cq.queryExecution.executedPlan.toString)
      assert(cq.collect().head.getLong(0) == 31L)
      // LIMIT file bounding survives too
      val lq = spark.sql(s"SELECT k FROM $cat.db.fp LIMIT 5")
      assert(lq.queryExecution.executedPlan.toString
        .contains("pushed_limit"),
        lq.queryExecution.executedPlan.toString)
      assert(lq.collect().length == 5)
      // and the read itself stays exact
      assert(spark.table(s"$cat.db.fp").count() == 31L)
    }
  }

  test("inventory exact-or-NULL boundary (r16): a ref WITHIN the " +
       "key-scoping cap gets exact live counts (DV-dead rows never " +
       "double-subtract with matching keys); one ABOVE the cap keeps " +
       "the NULL promise — exact or NULL, never wrong") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.xb (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.xb " +
        "SELECT id, concat('v', id) FROM range(0, 20, 1, 1)")
      val dir = s"$root/db/xb"
      // MOR delete kills k in {4, 6} (DVs); then a small eq ref
      // tombstones {4, 5}: k=4 is BOTH DV-dead and key-matched — the
      // probe must skip DV positions so it subtracts once, not twice
      spark.sql(s"DELETE FROM $cat.db.xb WHERE k IN (4, 6)")
      val side = LakeEq.write(dir, Seq("k"), Seq("4", "5"))
      LakeLog.commit(dir, "eq_fixture", Seq.empty, Seq.empty, 0L,
        dataChange = false, eqAdded = Seq((side, Seq("k"), 2L)))
      val inv = spark.sql(
        s"SELECT live_rows FROM $cat.db.xb.files").collect()
      assert(inv.length == 1 && !inv.head.isNullAt(0) &&
        inv.head.getLong(0) == 17L, // 20 - 2 DV - 1 eq-only (k=5)
        inv.mkString(";"))
      val part = spark.sql(
        s"SELECT row_count FROM $cat.db.xb.partitions").collect()
      assert(part.length == 1 && part.head.getLong(0) == 17L,
        part.mkString(";"))
      // scan agrees with the inventory's arithmetic
      assert(spark.table(s"$cat.db.xb").count() == 17L)
      // ABOVE the cap: the oversized ref's matches are unknowable
      // without a full scan — NULL, never a guess
      val bigKeys = (0 until 1025).map(_.toString)
      val bigSide = LakeEq.write(dir, Seq("k"), bigKeys)
      LakeLog.commit(dir, "eq_fixture_big", Seq.empty, Seq.empty, 0L,
        dataChange = false,
        eqAdded = Seq((bigSide, Seq("k"), bigKeys.size.toLong)))
      val invBig = spark.sql(
        s"SELECT live_rows FROM $cat.db.xb.files").collect()
      assert(invBig.length == 1 && invBig.head.isNullAt(0),
        invBig.mkString(";"))
      val partBig = spark.sql(
        s"SELECT row_count FROM $cat.db.xb.partitions").collect()
      assert(partBig.length == 1 && partBig.head.isNullAt(0),
        partBig.mkString(";"))
    }
  }

  test("retirement race semantics (r16): eqGuard tolerates refs " +
       "ADDED mid-rewrite (sequence inheritance keeps them attached " +
       "to the outputs) but fails loud when a PLANNED ref vanishes " +
       "(a concurrent maintenance pass already retired the same debt)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.dvg " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.dvg VALUES " +
        "(1, 'a', 'insert', 1), (2, 'b', 'insert', 1)")
      val dir = s"$root/db/dvg"
      val head0 = LakeLog.current(dir).get
      assert(head0.eqs.isEmpty, "fixture must start ref-free")
      val guard0 = graft.operators.LakeSnapshots
        .eqGuard(dir, head0, "rewrite_deletes")
      guard0() // nothing planned, nothing changed: passes
      // a concurrent upsert epoch lands an eq ref mid-rewrite: FINE
      // now (the rewrite's outputs inherit the plan version, so the
      // new ref attaches to them) — the guard must NOT trip
      spark.sql(s"CREATE TABLE $cat.db.gsrc " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.gsrc VALUES (1, 'a2', 'update', 2)")
      runUpsert(cat, s"$cat.db.gsrc", s"$cat.db.dvg")
      val head1 = LakeLog.current(dir).get
      assert(head1.eqs.nonEmpty, "ref must be live")
      guard0() // addition tolerated
      // but a guard PLANNED over the live ref fails once that ref is
      // retired by another pass — racing two retirements of the same
      // debt stays loud
      val guard1 = graft.operators.LakeSnapshots
        .eqGuard(dir, head1, "rewrite_deletes")
      guard1() // planned ref still live: passes
      graft.operators.LakeSnapshots.rewriteDeletes(spark, dir)
      assert(LakeLog.current(dir).get.eqs.isEmpty, "retired")
      intercept[java.util.ConcurrentModificationException] { guard1() }
    }
  }

  test("async retirement (r16): an epoch committed DURING a " +
       "retirement rewrite — between staging and publish — does not " +
       "abort it; the retirement lands, the epoch's ref SURVIVES the " +
       "name-scoped retirement, attaches to the rewritten outputs " +
       "via their inherited add version, and the fold equals the " +
       "stop-the-world result (no resurrection, no lost updates)") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
        "CAST(1 AS BIGINT) AS seq FROM range(1, 11)")
      spark.sql(s"INSERT INTO $cat.db.src VALUES " +
        "(2, 'u2', 'update', 2), (5, null, 'delete', 2)")
      spark.sql(s"CREATE TABLE $cat.db.ar " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.ar")
      val dir = s"$root/db/ar"
      assert(LakeLog.current(dir).get.eqs.nonEmpty, "refs live")
      // the racing epoch, injected between the retirement's staging
      // and its publish (the deterministic version of a live stream
      // committing while external maintenance runs)
      spark.sql(s"CREATE TABLE $cat.db.src2 " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src2 VALUES " +
        "(3, 'u3', 'update', 3), (8, null, 'delete', 3)")
      var fired = false
      graft.operators.LakeSnapshots.testMidRewrite = () => {
        if (!fired) { // the retry loop must not re-run the epoch
          fired = true
          runUpsert(cat, s"$cat.db.src2", s"$cat.db.ar")
        }
      }
      try {
        val (rewritten, _) =
          graft.operators.LakeSnapshots.rewriteDeletes(spark, dir)
        assert(rewritten > 0, "retirement must have rewritten files")
      } finally {
        graft.operators.LakeSnapshots.testMidRewrite = () => ()
      }
      assert(fired, "the race must have fired")
      val headAfter = LakeLog.current(dir).get
      // the epoch's ref survived the retirement and still attaches to
      // at least one current file (the inherited-seq outputs)
      assert(headAfter.eqs.nonEmpty,
        s"concurrent epoch's ref must survive: ${headAfter.eqs}")
      // fold equals the stop-the-world result: all three epochs applied
      val got = spark.table(s"$cat.db.ar").selectExpr("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
      val expect = (1L to 10L).filterNot(k => k == 5L || k == 8L).map {
        case 2L => 2L -> "u2"
        case 3L => 3L -> "u3"
        case k  => k -> s"v$k"
      }
      assert(got == expect, s"$got")
      // and the surviving debt retires cleanly afterwards, same fold
      graft.operators.LakeSnapshots.rewriteDeletes(spark, dir)
      assert(LakeLog.current(dir).get.eqs.isEmpty, "debt cleared")
      val got2 = spark.table(s"$cat.db.ar").selectExpr("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
      assert(got2 == expect, s"$got2")
    }
  }

  test("LIMIT/TopN bounding re-validates against the SCAN's own refs " +
       "(r16): a ref committed between pushLimit and build() — the " +
       "builder judged eqFree on a pre-eq snapshot — must disable " +
       "file bounding, never under-deliver rows") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.src " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('v', id) AS v, 'insert' AS op, " +
        "CAST(1 AS BIGINT) AS seq FROM range(1, 11)")
      spark.sql(s"INSERT INTO $cat.db.src " +
        "SELECT id AS k, concat('u', id) AS v, 'update' AS op, " +
        "CAST(2 AS BIGINT) AS seq FROM range(1, 6)")
      spark.sql(s"CREATE TABLE $cat.db.rb " +
        "(k BIGINT, v STRING, op STRING, seq BIGINT)")
      runUpsert(cat, s"$cat.db.src", s"$cat.db.rb")
      val dir = s"$root/db/rb"
      import graft.sources.dsv2.LakeTableIO
      val ((files, dvs, stats, parts), eqs) =
        LakeTableIO.snapshotViewEq(dir, None, None)
      assert(eqs.nonEmpty && files.size >= 2, "fixture: refs + files")
      val schema = spark.table(s"$cat.db.rb").schema
      // the race shape, constructed directly: the scan carries the
      // post-commit eqs while limitN was pushed under the pre-eq
      // judgment — boundEqSafe must keep EVERY partition-pruned file
      val raced = new graft.sources.dsv2.LakeScan(dir, files, schema,
        schema, Array.empty, pruneGroups = true, dvs = dvs,
        stats = stats, parts = parts, limitN = Some(1), eqs = eqs)
      assert(raced.description()
        .contains(s"files_pruned_by_limit=0/${files.size}"),
        raced.description())
      // control: the same scan WITHOUT refs does bound — proving the
      // 0 above is the eq re-validation, not missing stats
      val clean = new graft.sources.dsv2.LakeScan(dir, files, schema,
        schema, Array.empty, pruneGroups = true, dvs = dvs,
        stats = stats, parts = parts, limitN = Some(1), eqs = Seq.empty)
      assert(!clean.description()
        .contains(s"files_pruned_by_limit=0/${files.size}"),
        clean.description())
    }
  }

  test("scopeValues (r16): a transient sidecar read failure is NOT " +
       "memoized — key-stat scoping recovers on the next probe " +
       "instead of silently degrading to attach-everywhere for the " +
       "driver JVM's lifetime") {
    val dir = freshDir("scope")
    val name = "eq-transient-probe.json"
    val lt = org.apache.spark.sql.types.LongType
    // the sidecar does not exist yet: the read fails, scoping answers
    // None (attach conservatively) — and must NOT cache that answer
    assert(LakeEq.scopeValues(dir, name, Seq(lt)).isEmpty)
    val fs = lfs.fs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), false)
    try out.write("""{"keyCols":["k"],"keys":["5"]}""".getBytes("UTF-8"))
    finally out.close()
    val got = LakeEq.scopeValues(dir, name, Seq(lt))
    assert(got.isDefined && got.get.head.toSeq == Seq(5L), s"$got")
  }
}
