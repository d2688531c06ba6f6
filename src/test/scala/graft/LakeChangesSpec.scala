package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** The change-data-feed metadata table
  * ([[graft.sources.dsv2.LakeChangesTable]], `db.t.changes`): commits
  * replay as row-level insert/delete EVENTS, batch and streaming, with
  * merge-on-read DML fully expressible (the commit class the
  * append-only stream must reject), compaction invisible, and
  * copy-on-write replaces failing loud.
  */
class LakeChangesSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-cdf").toString
    n += 1
    val cat = s"cdfcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  test("page-level positional reads: a k-row MOR delete's pre-images " +
       "read only the pages holding those positions (counterized " +
       "sub-row-group I/O), with the event rows and _pos exact") {
    val prevLimit = sys.props.get("graft.lake.page.row.limit")
    sys.props("graft.lake.page.row.limit") = "100"
    try withCatalog { (cat, root) =>
      import graft.sources.dsv2.LakeTableIO
      // one task -> one file; 10k rows at 100 rows/page -> ~100 pages
      spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.p " +
        "SELECT id, concat('v', id) FROM range(0, 10000, 1, 1)")
      spark.sql(s"DELETE FROM $cat.db.p WHERE k IN (1234, 1250, 7777)")
      val delVersion = LakeLog.current(s"$root/db/p").get.version
      val selBefore = LakeTableIO.pagesSelected.get()
      val availBefore = LakeTableIO.pagesAvailable.get()
      val events = spark.read
        .option("startingVersion", delVersion.toString)
        .option("endingVersion", delVersion.toString)
        .table(s"$cat.db.p.changes")
        .selectExpr("k", "_change_type").collect()
      val sel = LakeTableIO.pagesSelected.get() - selBefore
      val avail = LakeTableIO.pagesAvailable.get() - availBefore
      assert(events.map(_.getLong(0)).sorted.toSeq ==
        Seq(1234L, 1250L, 7777L))
      assert(events.forall(_.getString(1) == "delete"))
      assert(avail >= 50, s"fixture must have many pages, saw $avail")
      // 1234 and 1250 share a page; 7777 is its own -> 2 pages
      assert(sel <= 3, s"positional read selected $sel of $avail pages")
      // and the live scan (full-group path) is untouched
      assert(spark.table(s"$cat.db.p").count() == 9997)
    } finally prevLimit match {
      case Some(v) => sys.props("graft.lake.page.row.limit") = v
      case None    => sys.props.remove("graft.lake.page.row.limit")
    }
  }

  test("batch feed: appends are insert events, a MOR delete is delete " +
       "events carrying the pre-image rows, versions are exact, and " +
       "compaction contributes nothing") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('a', id) FROM range(10)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('b', id) FROM range(10, 20)")
      spark.sql(s"DELETE FROM $cat.db.t WHERE k % 5 = 2")
      graft.operators.LakeSnapshots.compact(spark, s"$root/db/t",
        targetBytes = 1L << 26)
      val feed = spark.table(s"$cat.db.t.changes")
      assert(feed.columns.toSeq ==
        Seq("k", "v", "_change_type", "_commit_version"))
      val inserts = feed.where("_change_type = 'insert'")
      assert(inserts.count() == 20)
      // insert events carry their commit version
      assert(inserts.where("k < 10").select("_commit_version")
        .distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(inserts.where("k >= 10").select("_commit_version")
        .distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
      // delete events are the DV'd pre-images (k, v intact)
      val deletes = feed.where("_change_type = 'delete'").collect()
      assert(deletes.map(_.getLong(0)).sorted.toSeq ==
        Seq(2L, 7L, 12L, 17L))
      assert(deletes.forall(r => r.getString(1) ==
        (if (r.getLong(0) < 10) s"a${r.getLong(0)}" else s"b${r.getLong(0)}")))
      assert(deletes.map(_.getLong(3)).distinct.toSeq == Seq(3L))
      // nothing from the compaction commit (v4, dataChange=false)
      assert(feed.where("_commit_version = 4").count() == 0)
      // version-range options
      val v2only = spark.read.option("startingVersion", "2")
        .option("endingVersion", "2").table(s"$cat.db.t.changes")
      assert(v2only.count() == 10)
      assert(v2only.where("_change_type = 'insert' AND k >= 10").count() == 10)
    }
  }

  test("a copy-on-write replace fails loud in the feed and is skipped " +
       "under skipChangeCommits") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.db.c SELECT id, 'x' FROM range(10)")
      spark.sql(s"DELETE FROM $cat.db.c WHERE k = 3") // COW: file rewrite
      val e = intercept[Exception] {
        spark.table(s"$cat.db.c.changes").count()
      }
      assert(e.getMessage.contains("copy-on-write replace") ||
        e.getCause != null &&
          e.getCause.getMessage.contains("copy-on-write replace"),
        s"got: ${e.getMessage}")
      val skipped = spark.read.option("skipChangeCommits", "true")
        .table(s"$cat.db.c.changes")
      assert(skipped.where("_change_type = 'insert'").count() == 10)
    }
  }

  test("streaming feed: availableNow drains the same events as the " +
       "batch feed — including the MOR commit the append-only lake " +
       "stream rejects — and a restart resumes with no replays") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.s SELECT id, concat('v', id) FROM range(30)")
      spark.sql(s"DELETE FROM $cat.db.s WHERE k % 3 = 1")
      val out = Files.createTempDirectory("graft-cdf-out").toString
      def drain(): Unit = {
        val q = spark.readStream.table(s"$cat.db.s.changes")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
      }
      drain()
      val got = spark.read.parquet(s"$out/data")
      assert(got.where("_change_type = 'insert'").count() == 30)
      assert(got.where("_change_type = 'delete'").count() == 10)
      assert(got.where("_change_type = 'delete'")
        .selectExpr("min(k) % 3").collect().head.get(0) == 1)
      // more DML, then resume: only the NEW commits flow
      spark.sql(s"DELETE FROM $cat.db.s WHERE k = 0")
      drain()
      val again = spark.read.parquet(s"$out/data")
      assert(again.where("_change_type = 'delete'").count() == 11)
      assert(again.where("_change_type = 'insert'").count() == 30,
        "no insert replays on resume")
      assert(LakeLog.current(s"$root/db/s").get.version ==
        again.selectExpr("max(_commit_version)").collect().head.getLong(0))
    }
  }

  test("expiry-trimmed history: the default batch feed opens with the " +
       "earliest retained snapshot's LIVE state (DVs subtracted) as " +
       "insert events, then increments") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.e (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.e SELECT id, 'x' FROM range(20)")
      spark.sql(s"DELETE FROM $cat.db.e WHERE k < 5") // v2: MOR
      spark.sql(s"INSERT INTO $cat.db.e SELECT id, 'y' FROM range(20, 25)")
      val dir = s"$root/db/e"
      LakeLog.expire(dir, keepLast = 2, graceMs = 0L) // keeps v2, v3
      val feed = spark.table(s"$cat.db.e.changes")
      // opening snapshot at v2: 15 live rows (20 inserted minus 5 DV'd),
      // then v3's 5 inserts — the vacuumed delete events are history
      assert(feed.where("_change_type = 'insert'").count() == 20)
      assert(feed.where("_change_type = 'delete'").count() == 0)
      assert(feed.where("_commit_version = 2").count() == 15)
      assert(feed.where("k < 5").count() == 0,
        "the opening snapshot subtracts the version's deletion vectors")
    }
  }

  test("projection and filter pushdown reach the feed's scan: selecting " +
       "a subset works and a key predicate prunes via manifest stats") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, v STRING)")
      spark.range(0, 100).selectExpr("id AS k", "concat('v', id) AS v")
        .coalesce(1).createOrReplaceTempView("cdf_p_src")
      spark.sql(s"INSERT INTO $cat.db.p SELECT * FROM cdf_p_src")
      val slim = spark.table(s"$cat.db.p.changes")
        .where("k = 42").select("_change_type", "k")
      val rows = slim.collect()
      assert(rows.length == 1 && rows.head.getString(0) == "insert" &&
        rows.head.getLong(1) == 42L)
    }
  }

  test("positional planning: a sparse MOR delete's change events plan " +
       "only the row groups containing DV'd positions, and the reader " +
       "stops decoding past the group's last wanted position") {
    withCatalog { (cat, root) =>
      graft.sources.dsv2.LakeTableIO.rowGroupBytes = 8L << 10
      try {
        spark.sql(s"CREATE TABLE $cat.db.rg (k BIGINT, pad STRING) " +
          "TBLPROPERTIES ('write.mode'='merge-on-read')")
        spark.range(0, 20000).selectExpr("id AS k", "repeat('p', 64) AS pad")
          .coalesce(1).createOrReplaceTempView("cdf_rg_src")
        spark.sql(s"INSERT INTO $cat.db.rg SELECT * FROM cdf_rg_src")
        spark.sql(s"DELETE FROM $cat.db.rg WHERE k = 17")
        val dir = s"$root/db/rg"
        val head = LakeLog.current(dir).get
        val cols = graft.sources.dsv2.LakeTableIO.columnRefs(
          spark.table(s"$cat.db.rg.changes").schema)
        val parts = graft.sources.dsv2.LakeTableIO.planCdcVersion(
          dir, head, cols, Array.empty, initialSnapshot = false)
        // the single-position delete event plans exactly ONE partition,
        // though the file has many row groups
        val deleteParts = parts.collect {
          case p: graft.sources.dsv2.LakeInputPartition
              if p.cdc.exists(_.changeType == "delete") => p
        }
        assert(deleteParts.length == 1,
          s"expected 1 positional partition, got ${deleteParts.length}")
        val groups = {
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            lfs.input(new org.apache.hadoop.fs.Path(deleteParts.head.path)))
          try reader.getRowGroups.size() finally reader.close()
        }
        assert(groups > 5, s"fixture should be multi-group, got $groups")
        // and the event itself is exact
        val del = spark.table(s"$cat.db.rg.changes")
          .where("_change_type = 'delete'").collect()
        assert(del.length == 1 && del.head.getLong(0) == 17L)
      } finally {
        graft.sources.dsv2.LakeTableIO.rowGroupBytes = 128L << 20
      }
    }
  }

  test("four-way change typing: a MOR UPDATE pairs as update_preimage/" +
       "update_postimage, a MERGE splits matched updates, matched " +
       "deletes and not-matched inserts into their own labels, and the " +
       "streamed feed carries the same labels") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.u (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.u " +
        "SELECT id, concat('a', id) FROM range(10)")
      // v2: standalone UPDATE — every touched row is one logical update
      spark.sql(s"UPDATE $cat.db.u SET v = concat('u', k) WHERE k < 3")
      // v3: MERGE mixing all three matched/not-matched outcomes
      spark.range(5, 15).selectExpr("id AS k", "concat('m', id) AS v")
        .createOrReplaceTempView("cdf_u_src")
      spark.sql(
        s"""MERGE INTO $cat.db.u t USING cdf_u_src s ON t.k = s.k
           |WHEN MATCHED AND t.k < 7 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val feed = spark.table(s"$cat.db.u.changes")
      def rows(version: Long, ct: String): Seq[(Long, String)] =
        feed.where(s"_commit_version = $version AND _change_type = '$ct'")
          .select("k", "v").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      // the UPDATE's halves pair at v2: pre-images carry the OLD
      // payload, post-images the new, same keys both sides
      assert(rows(2, "update_preimage") ==
        Seq((0L, "a0"), (1L, "a1"), (2L, "a2")))
      assert(rows(2, "update_postimage") ==
        Seq((0L, "u0"), (1L, "u1"), (2L, "u2")))
      assert(rows(2, "insert").isEmpty && rows(2, "delete").isEmpty)
      // the MERGE at v3: matched k∈{5,6} delete with pre-images,
      // matched k∈{7..9} update-pair, not-matched k∈{10..14} insert
      assert(rows(3, "delete") == Seq((5L, "a5"), (6L, "a6")))
      assert(rows(3, "update_preimage") ==
        Seq((7L, "a7"), (8L, "a8"), (9L, "a9")))
      assert(rows(3, "update_postimage") ==
        Seq((7L, "m7"), (8L, "m8"), (9L, "m9")))
      assert(rows(3, "insert") == (10L to 14L).map(k => (k, s"m$k")))
      // the final table state agrees with the event algebra
      val live = spark.table(s"$cat.db.u").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(live == Seq((0L, "u0"), (1L, "u1"), (2L, "u2"),
        (3L, "a3"), (4L, "a4")) ++ (7L to 14L).map(k => (k, s"m$k")))
      // the streamed feed replays the same labeled events
      val out = Files.createTempDirectory("graft-cdf-stream").toString
      val q = spark.readStream.table(s"$cat.db.u.changes")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val streamed = spark.read.parquet(s"$out/data")
      assert(streamed.count() == feed.count())
      assert(streamed.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ==
        feed.groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
  }
}
