package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** Merge-on-read DML: deletion vectors instead of file rewrites
  * ([[graft.sources.dsv2.LakeMorOperation]], Spark's SupportsDelta
  * plan). The contracts: a MOR DELETE touches NO data file; scans
  * (batch, filtered, time travel) subtract DV positions exactly; MERGE
  * routes updates as delete+insert; COW rewrites materialize and drop
  * DVs; expire never vacuums a referenced DV.
  */
class LakeMorSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-mor").toString
    n += 1
    val cat = s"morcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  test("metadata columns _file/_pos are queryable and positions are " +
       "file-relative row indexes") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.m SELECT id FROM range(10)")
      val rows = spark.sql(
        s"SELECT k, _file, _pos FROM $cat.db.m ORDER BY k").collect()
      assert(rows.length == 10)
      assert(rows.forall(_.getString(1).endsWith(".parquet")))
      // single-writer insert of a sorted range: positions follow k
      // within each file; at minimum every (file, pos) is unique
      assert(rows.map(r => (r.getString(1), r.getLong(2))).distinct
        .length == 10)
    }
  }

  test("MOR DELETE: zero data files touched, a DV sidecar carries the " +
       "positions, scans and filters subtract them exactly, and time " +
       "travel to the pre-delete version still sees every row") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.d (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.d SELECT id, concat('v', id) FROM range(100)")
      val dir = s"$root/db/d"
      val filesBefore = LakeLog.current(dir).get.files
      val bytesBefore = filesBefore.map(f =>
        new java.io.File(s"$dir/$f").length()).sum

      spark.sql(s"DELETE FROM $cat.db.d WHERE k % 10 = 3")

      val head = LakeLog.current(dir).get
      assert(head.operation == "delete_mor")
      assert(head.files == filesBefore, "no data file changed hands")
      assert(filesBefore.map(f =>
        new java.io.File(s"$dir/$f").length()).sum == bytesBefore,
        "no data file rewritten")
      assert(head.dvs.nonEmpty && head.dvAdded.nonEmpty,
        s"DV expected in manifest: ${head.dvs}")
      // scan subtracts the 10 deleted rows
      assert(spark.table(s"$cat.db.d").count() == 90)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.d WHERE k % 10 = 3")
        .collect().head.getLong(0) == 0)
      // filtered scans over surviving rows are exact
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.d WHERE k < 50")
        .collect().head.getLong(0) == 45)
      // time travel BEFORE the delete sees all 100
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.d VERSION AS OF ${head.version - 1}")
        .collect().head.getLong(0) == 100)
      // a second MOR delete accumulates (union of DVs)
      spark.sql(s"DELETE FROM $cat.db.d WHERE k % 10 = 7")
      assert(spark.table(s"$cat.db.d").count() == 80)
    }
  }

  test("MOR MERGE: matched updates flow as delete+insert, not-matched " +
       "inserts land in fresh files, and the result is exact") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(50)")
      spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('v', id) FROM range(50, 100)")
      val dir = s"$root/db/t"
      val filesBefore = LakeLog.current(dir).get.files

      spark.range(40, 60)
        .selectExpr("id AS k", "concat('u', id) AS v")
        .createOrReplaceTempView("mor_src")
      spark.sql(
        s"""MERGE INTO $cat.db.t t USING mor_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

      val head = LakeLog.current(dir).get
      assert(head.operation == "merge_mor")
      assert(filesBefore.forall(head.files.contains),
        "original files stay (delete+insert, no rewrite)")
      assert(head.added.nonEmpty, "updated/inserted rows land in new files")
      assert(head.dvs.nonEmpty, "updated rows' old positions are DV'd")
      val t = spark.table(s"$cat.db.t")
      assert(t.count() == 100)
      assert(t.where(col("v").startsWith("u")).count() == 20)
      assert(t.where(col("k") === 45).collect().head.getString(1) == "u45")
      assert(t.where(col("k") === 10).collect().head.getString(1) == "v10")
      // no duplicate keys (the delete half really happened)
      assert(t.groupBy("k").count().where(col("count") > 1).count() == 0)
    }
  }

  test("a COW rewrite over a DV'd table materializes the deletes: the " +
       "replaced file's DVs leave the manifest with it and rows stay " +
       "exact; expire never vacuums a referenced DV") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      // ONE data file: the later UPDATE's group rewrite then covers
      // the same file the DELETE DV'd, making the materialization
      // observable (with several files, runtime group filtering
      // rewrites only the touched one — correct, but not this test)
      spark.sql(s"INSERT INTO $cat.db.c " +
        "SELECT /*+ REPARTITION(1) */ id, concat('v', id) FROM range(100)")
      spark.sql(s"DELETE FROM $cat.db.c WHERE k < 20")
      val dir = s"$root/db/c"
      assert(spark.table(s"$cat.db.c").count() == 80)
      val dvFiles = LakeLog.current(dir).get.dvs.values.flatten.toSeq
      assert(dvFiles.nonEmpty)
      // expire with the DV still referenced: it must survive
      graft.operators.LakeSnapshots.expire(dir, keepLast = 1, graceMs = 0L)
      assert(dvFiles.forall(f => new java.io.File(s"$dir/$f").exists()),
        "expire must not vacuum a referenced DV")
      assert(spark.table(s"$cat.db.c").count() == 80)

      // switch to copy-on-write and run an UPDATE: the group rewrite
      // reads LIVE rows only and the replaced files drop their DVs
      spark.sql(s"ALTER TABLE $cat.db.c SET TBLPROPERTIES " +
        "('write.mode'='copy-on-write')")
      spark.sql(s"UPDATE $cat.db.c SET v = 'patched' WHERE k = 50")
      val head = LakeLog.current(dir).get
      assert(head.dvs.isEmpty,
        s"replaced files take their DVs with them: ${head.dvs}")
      val t = spark.table(s"$cat.db.c")
      assert(t.count() == 80, "deleted rows must NOT resurrect")
      assert(t.where(col("k") < 20).count() == 0)
      assert(t.where(col("v") === "patched").count() == 1)
      // now the DV is unreferenced -> a later expire reclaims it
      graft.operators.LakeSnapshots.expire(dir, keepLast = 1, graceMs = 0L)
      assert(dvFiles.forall(f => !new java.io.File(s"$dir/$f").exists()),
        "materialized DVs are vacuumable once unreferenced")
    }
  }

  test("CDC over a MOR delete: the version diff emits exactly the " +
       "DV'd rows as deletes, with no file having changed hands") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.cdc (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.cdc SELECT id, concat('v', id) FROM range(100)")
      val dir = s"$root/db/cdc"
      val v1 = LakeLog.current(dir).get.version
      spark.sql(s"DELETE FROM $cat.db.cdc WHERE k % 10 = 3")
      val v2 = LakeLog.current(dir).get.version
      val cdc = graft.operators.LakeSnapshots.changes(spark, dir, v1, v2)
      val rows = cdc.collect()
      assert(rows.length == 10, s"10 deletes expected, got ${rows.length}")
      assert(rows.forall(_.getString(2) == "delete"))
      assert(rows.map(_.getLong(0)).sorted.toSeq ==
        (0L until 100L).filter(_ % 10 == 3))
      // across BOTH commits from v0 the diff is NET (state-to-state,
      // the documented carry-over-cancels contract): the 10 rows
      // inserted-then-DV'd vanish from both sides -> 90 net inserts
      val all = graft.operators.LakeSnapshots.changes(spark, dir, v1 - 1, v2)
      assert(all.where(col("change_type") === "insert").count() == 90)
      assert(all.where(col("change_type") === "delete").count() == 0)
    }
  }

  test("CALL system.rewrite_deletes materializes DVs: same live rows, " +
       "DV'd files replaced, dataChange=false (streaming-invisible), " +
       "and the table compacts normally afterwards") {
    withCatalog { (cat, root) =>
      graft.sources.dsv2.LakeCatalogs // touch to keep imports honest
      spark.sql(s"CREATE TABLE $cat.db.rw (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.rw " +
        "SELECT /*+ REPARTITION(2) */ id, concat('v', id) FROM range(100)")
      spark.sql(s"DELETE FROM $cat.db.rw WHERE k % 4 = 1")
      val dir = s"$root/db/rw"
      assert(spark.table(s"$cat.db.rw").count() == 75)
      assert(LakeLog.current(dir).get.dvs.nonEmpty)

      // compaction refuses to touch DV'd files (row-preservation check
      // is footer-based) — it must be a no-op here, not a corruption
      val (b0, a0) = graft.operators.LakeSnapshots.compact(
        spark, dir, 256L << 20)
      assert(b0 == a0, "DV'd files are excluded from compaction bins")

      val before = spark.table(s"$cat.db.rw").orderBy("k").collect().toSeq
      val res = spark.sql(
        s"CALL $cat.system.rewrite_deletes('db.rw')").collect().head
      assert(res.getInt(0) == 2 && res.getLong(1) == 25,
        s"2 files, 25 positions: $res")
      val head = LakeLog.current(dir).get
      assert(head.operation == "rewrite_deletes" && !head.dataChange)
      assert(head.dvs.isEmpty, "DVs materialized")
      assert(spark.table(s"$cat.db.rw").orderBy("k").collect().toSeq
        == before, "live rows identical")
      // footer counts are now exact -> compaction works again
      val (b1, a1) = graft.operators.LakeSnapshots.compact(
        spark, dir, 256L << 20)
      assert(a1 < b1, "materialized files compact normally")
      assert(spark.table(s"$cat.db.rw").count() == 75)
    }
  }

  test("the streaming source fails loud on a merge-on-read commit (no " +
       "append delta), or skips it under skipChangeCommits") {
    withCatalog { (cat, root) =>
      import org.apache.spark.sql.streaming.Trigger
      spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.s SELECT id FROM range(100)")
      spark.sql(s"DELETE FROM $cat.db.s WHERE k < 10")
      val out = Files.createTempDirectory("graft-mor-stream").toString
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = spark.readStream.table(s"$cat.db.s")
          .writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(msgs.contains("deletion-vector") || msgs.contains("merge-on-read"),
        s"expected a loud MOR-commit failure, got: $msgs")
      // skipChangeCommits: the delete commit is skipped wholesale
      val q2 = spark.readStream.option("skipChangeCommits", "true")
        .table(s"$cat.db.s")
        .writeStream.format("parquet")
        .option("path", s"$out/data2")
        .option("checkpointLocation", s"$out/ckpt2")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      assert(spark.read.parquet(s"$out/data2").count() == 100,
        "append-only view: the original append flows, the MOR delete " +
          "is skipped wholesale")
    }
  }

  test("concurrent row-level writes to the SAME rows conflict loud: a " +
       "DV overlapping a committed DV is rejected; disjoint DVs on the " +
       "same file merge fine") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.ww (k BIGINT) " +
        "TBLPROPERTIES ('write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.ww SELECT id FROM range(100)")
      val dir = s"$root/db/ww"
      val file = LakeLog.current(dir).get.files.head
      // writer A commits positions {5,6}
      val dvA = graft.sources.dsv2.LakeDv.write(dir, file, Seq(5L, 6L))
      LakeLog.commit(dir, "delete_mor", Seq.empty, Seq.empty, 0L,
        dvAdded = Map(file -> Seq(dvA)))
      // writer B scanned BEFORE A's commit and targets {6,7}: the
      // overlap at position 6 is a write-write row conflict
      val dvB = graft.sources.dsv2.LakeDv.write(dir, file, Seq(6L, 7L))
      val e = intercept[java.util.ConcurrentModificationException] {
        LakeLog.commit(dir, "update_mor", Seq.empty, Seq.empty, 0L,
          dvAdded = Map(file -> Seq(dvB)))
      }
      assert(e.getMessage.contains("concurrently"))
      // table state untouched by the failed commit
      assert(spark.table(s"$cat.db.ww").count() == 98)
      // a DISJOINT second delete merges (the sequential-DML shape)
      val dvC = graft.sources.dsv2.LakeDv.write(dir, file, Seq(7L, 8L))
      LakeLog.commit(dir, "delete_mor", Seq.empty, Seq.empty, 0L,
        dvAdded = Map(file -> Seq(dvC)))
      assert(spark.table(s"$cat.db.ww").count() == 96)
      // the four DV'd POSITIONS of that file are gone (positions, not
      // key values — the insert split into several files)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.ww " +
        s"WHERE _file = '$file' AND _pos IN (5,6,7,8)")
        .collect().head.getLong(0) == 0)
    }
  }

  test("DV codec: roaring-style containers round-trip sparse, dense and " +
       "bucket-boundary position sets exactly; a dense set stays ~8 KiB " +
       "and a file's sidecars decode as their union") {
    import graft.sources.dsv2.LakeDv
    val dir = java.nio.file.Files.createTempDirectory("graft-dv").toString
    val fs = lfs.fs(dir)
    def size(name: String): Long =
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, name)).getLen
    def roundTrip(ps: Seq[Long]): Unit = {
      val name = LakeDv.write(dir, "f.parquet", ps)
      assert(name.endsWith(".dv.bin"))
      assert(LakeDv.positions(dir, Seq(name)).toSeq ==
        ps.distinct.sorted, s"round-trip failed for ${ps.take(10)}…")
    }
    // sparse scattered (array containers across several buckets)
    roundTrip(Seq(0L, 1L, 65535L, 65536L, 131071L, 131072L, 999999999L))
    // a position past 2^32 (row counts of huge files: long-range keys)
    roundTrip(Seq(5000000000L, 5000000001L))
    // dense: one full bucket (bitmap container) plus a sparse tail
    roundTrip((0L until 65536L) ++ Seq(70000L, 80000L))
    // crossover edge: exactly at and past the array/bitmap threshold
    roundTrip(0L until 4096L)
    roundTrip(0L until 4097L)
    // random sets, duplicated input tolerated
    val rnd = new scala.util.Random(42)
    roundTrip(Seq.fill(5000)(rnd.nextLong(200000L)) ++ Seq(7L, 7L, 7L))
    // a dense bitmap DV stays ~8 KiB, and a file's DVs decode as the
    // union of its sidecars
    val dense = (0L until 65536L).toSeq
    val bin = LakeDv.write(dir, "f.parquet", dense)
    assert(size(bin) < 10000, s"bitmap container should be ~8KiB, " +
      s"got ${size(bin)}")
    val extra = LakeDv.write(dir, "f.parquet", Seq(70000L))
    assert(LakeDv.positions(dir, Seq(bin, extra)).toSeq ==
      dense :+ 70000L)
  }
}
