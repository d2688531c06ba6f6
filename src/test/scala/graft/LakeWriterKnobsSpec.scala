package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeLog}

/** Writer knobs ([[graft.sources.dsv2.LakeTableIO.CompressionKey]] /
  * [[graft.sources.dsv2.LakeTableIO.TargetFileBytesKey]]):
  * `write.compression` picks the parquet codec per future file
  * (footer-recorded, so mixed-codec vintages always read together) and
  * `write.target-file-bytes` rolls the writer to a new file past the
  * size target — with every per-file manifest fact (sums, lengths,
  * sketches) sealed per rolled file, so the metadata fast paths stay
  * exact across rolls. Both validated CREATE/ALTER-grade, both
  * evolvable by ALTER, both forward-looking (existing files untouched).
  */
class LakeWriterKnobsSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-knobs").toString
    n += 1
    val cat = s"knobcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  private def codecsOf(dir: String): Map[String, String] = {
    LakeLog.current(dir).get.files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        lfs.input(new org.apache.hadoop.fs.Path(dir, f)))
      try f -> r.getRowGroups.get(0).getColumns.get(0)
        .getCodec.toString
      finally r.close()
    }.toMap
  }

  test("write.compression round-trips: zstd at CREATE lands ZSTD " +
       "footers, an ALTER to gzip affects only FUTURE files, and the " +
       "mixed-codec vintages read together exactly") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.compression'='zstd')")
      spark.sql(s"INSERT INTO $cat.db.c SELECT id, concat('v', id) " +
        "FROM range(1000)")
      val dir = s"$root/db/c"
      assert(codecsOf(dir).values.toSet == Set("ZSTD"), codecsOf(dir))
      spark.sql(s"ALTER TABLE $cat.db.c SET TBLPROPERTIES " +
        "('write.compression'='gzip')")
      spark.sql(s"INSERT INTO $cat.db.c SELECT id, concat('w', id) " +
        "FROM range(1000, 2000)")
      val codecs = codecsOf(dir)
      assert(codecs.values.toSet == Set("ZSTD", "GZIP"),
        s"mixed vintages keep their own codecs: $codecs")
      assert(spark.table(s"$cat.db.c").count() == 2000L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.c " +
        "WHERE v = 'v7' OR v = 'w1007'").collect().head.getLong(0) == 2L)
      // UNSET returns future writes to the default (snappy)
      spark.sql(s"ALTER TABLE $cat.db.c UNSET TBLPROPERTIES " +
        "('write.compression')")
      spark.sql(s"INSERT INTO $cat.db.c VALUES (9999, 'z')")
      assert(codecsOf(dir).values.toSet ==
        Set("ZSTD", "GZIP", "SNAPPY"))
      // invalid codec: loud at CREATE and at ALTER
      val e1 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad (k BIGINT) " +
          "TBLPROPERTIES ('write.compression'='lz9')")
      }
      assert(e1.getMessage.contains("write.compression"), s"$e1")
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.c SET TBLPROPERTIES " +
          "('write.compression'='brotli5')")
      }
      assert(e2.getMessage.contains("write.compression"), s"$e2")
    }
  }

  test("write.target-file-bytes rolls the writer to size-bounded " +
       "files with PER-FILE facts sealed per roll: metadata SUM stays " +
       "exact over the rolled files, every row lands exactly once") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('write.target-file-bytes'='1048576')")
      // ~60k rows x ~70 incompressible bytes >> 2 MiB encoded, ONE
      // task — without rolling this is exactly one file
      spark.range(0, 60000).selectExpr("id AS k",
        "concat(md5(CAST(id AS STRING)), md5(CAST(id + 7 AS STRING))) AS v")
        .coalesce(1).createOrReplaceTempView("knob_src")
      spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM knob_src")
      val dir = s"$root/db/t"
      val head = LakeLog.current(dir).get
      assert(head.files.size >= 2,
        s"the size target must roll a single task's write into " +
          s"multiple files, got ${head.files.size}")
      // per-file facts sealed per roll: the metadata SUM path needs
      // EVERY file's exact sum — and the answer must equal the scan's
      val q = spark.sql(s"SELECT sum(k), count(*) FROM $cat.db.t")
      assert(q.queryExecution.executedPlan.toString
        .contains("PushedAggregates"),
        q.queryExecution.executedPlan.toString)
      val row = q.collect().head
      assert(row.getLong(0) == (0L until 60000L).sum)
      assert(row.getLong(1) == 60000L)
      assert(spark.table(s"$cat.db.t").count() == 60000L)
      // file stats partition the keyspace: rows split across files sum
      // to the table
      assert(head.files.map(f => head.stats(f).rows).sum == 60000L)
      // too-small target: loud (shredding guard)
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
          "('write.target-file-bytes'='1024')")
      }
      assert(e.getMessage.contains("1048576"), s"$e")
    }
  }
}
