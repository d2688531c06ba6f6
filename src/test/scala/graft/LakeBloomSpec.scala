package graft

import java.nio.file.Files

import graft.sources.dsv2.{GraftCatalog, LakeBloom, LakeLog, LakeStats}

/** Per-file BLOOM FILTER indexes ([[graft.sources.dsv2.LakeBloom]]) —
  * the point-lookup file pruner: min/max bounds cannot prune an
  * equality on a column whose values are UNSORTED across files (every
  * file's range overlaps the literal), so without blooms a point
  * lookup opens every footer. Contracts pinned here:
  *
  *   - NO FALSE NEGATIVES ever: a value written into a file is always
  *     might-contained by that file's bloom (writer and pruner
  *     canonicalize identically) — results stay exact;
  *   - PRUNING POWER: a point lookup on an 8-file unsorted-key table
  *     opens ≤ 2 footers (true file + fpp slack), an absent key opens
  *     0 — counterized via footerOpens;
  *   - conservatism: files without blooms (external commits, legacy
  *     vintages) are kept; malformed bloom bytes are kept;
  *   - CREATE validates `bloom.columns` loud (unknown column, type a
  *     bloom cannot canonicalize).
  */
class LakeBloomSpec extends SparkSpec {

  private var n = 0
  private def withCatalog[A](f: (String, String) => A): A = {
    val root = Files.createTempDirectory("graft-bloom").toString
    n += 1
    val cat = s"bloomcat$n"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    f(cat, root)
  }

  // the key scrambler: spreads ids over the full domain so every
  // file's [min, max] covers everything — bounds prune NOTHING
  private def scramble(id: Long): Long = (id * 2654435761L) % 1000003L

  test("unit: builder/decode/mightContain — every added value is " +
       "contained (no false negatives across types), absent values " +
       "are mostly excluded, malformed bits keep") {
    val b = new LakeBloom.Builder(1 << 14)
    val longs = (0L until 2000L).map(scramble)
    longs.foreach(v => b.add(
      LakeBloom.hashLiteral(v).get))
    val words = LakeBloom.decode(b.toBase64)
    assert(words != null)
    longs.foreach(v => assert(
      LakeBloom.mightContain(words, LakeBloom.hashLiteral(v).get),
      s"false negative for $v"))
    // absent probes: fpp must be far below 50% at this fill
    val absent = (2000L until 4000L).map(scramble)
      .filterNot(longs.toSet)
    val fp = absent.count(v =>
      LakeBloom.mightContain(words, LakeBloom.hashLiteral(v).get))
    assert(fp < absent.size / 5, s"fpp too high: $fp/${absent.size}")
    // strings round-trip through the byte canonicalization
    val sb = new LakeBloom.Builder(1 << 12)
    (0 until 500).foreach(i => sb.add(
      LakeBloom.hashLiteral(s"key-$i").get))
    val sw = LakeBloom.decode(sb.toBase64)
    (0 until 500).foreach(i => assert(
      LakeBloom.mightContain(sw, LakeBloom.hashLiteral(s"key-$i").get)))
    // malformed blooms keep (decode -> null -> contain true)
    assert(LakeBloom.mightContain(LakeBloom.decode("@@@"),
      LakeBloom.hashLiteral(1L).get))
    assert(LakeBloom.mightContain(LakeBloom.decode("AAA="),
      LakeBloom.hashLiteral(1L).get)) // 2 bytes: not a word multiple
  }

  test("point lookups on an unsorted-key table prune by bloom: " +
       "present key opens <= 2 of 8 footers, absent key opens 0, " +
       "results exact; range filters unaffected") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
        s"TBLPROPERTIES ('${LakeBloom.ColKey}'='k')")
      // 8 tasks -> 8 files; scrambled keys make every file full-range
      spark.sql(s"INSERT INTO $cat.db.t SELECT " +
        "(id * 2654435761) % 1000003 AS k, concat('v', id) AS v " +
        "FROM range(0, 8000, 1, 8)")
      val head = LakeLog.current(s"$root/db/t").get
      assert(head.files.size == 8, s"fixture wants 8 files: ${head.files}")
      // every file's stats carry a bloom on k
      assert(head.stats.size == 8 &&
        head.stats.values.forall(_.cols.get("k").exists(_.bloom.isDefined)),
        "writer must attach a k-bloom to every file's stats")
      // bounds overlap: no file is prunable by min/max for a mid-domain
      // key (sanity that the bloom, not bounds, does the work below)
      val probe = scramble(4321L)
      assert(head.stats.values.forall(st => {
        val cs = st.cols("k")
        cs.min.get.toLong <= probe && probe <= cs.max.get.toLong
      }), "fixture must make bounds useless for the probe key")

      def lookup(pred: String): (Seq[(Long, String)], Long) = {
        val f0 = LakeStats.footerOpens.get()
        val rows = spark.sql(s"SELECT k, v FROM $cat.db.t WHERE $pred")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        (rows, LakeStats.footerOpens.get() - f0)
      }
      // present key: exactly its rows, <= 2 footers (true file + fpp)
      val (hit, openedHit) = lookup(s"k = $probe")
      assert(hit.nonEmpty && hit.forall(_._1 == probe))
      assert(openedHit <= 2,
        s"bloom must prune the other files: opened $openedHit of 8")
      // absent key (scramble is mod 1000003; 1000004 is out of range):
      // zero rows, zero footers
      val (miss, openedMiss) = lookup("k = 1000004")
      assert(miss.isEmpty)
      assert(openedMiss == 0,
        s"absent key must prune everything: opened $openedMiss")
      // IN over two present keys: union of their rows, <= 4 footers
      val p2 = scramble(777L)
      val (inRows, openedIn) = lookup(s"k IN ($probe, $p2)")
      assert(inRows.map(_._1).toSet == Set(probe, p2))
      assert(openedIn <= 4, s"IN must prune per value: $openedIn")
      // a range shape ignores blooms and stays exact
      val (rng, _) = lookup("k >= 1000000")
      assert(rng.map(_._1).toSet ==
        (0L until 8000L).map(scramble).filter(_ >= 1000000L).toSet)
    }
  }

  test("no false negatives end to end: 200 present keys each return " +
       "exactly their rows; string bloom column works; MOR deletes " +
       "compose (deleted key -> zero rows)") {
    withCatalog { (cat, _) =>
      spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT, name STRING) " +
        s"TBLPROPERTIES ('${LakeBloom.ColKey}'='k,name', " +
        "'write.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $cat.db.s SELECT " +
        "(id * 2654435761) % 1000003 AS k, " +
        "concat('n', (id * 48271) % 99991) AS name " +
        "FROM range(0, 4000, 1, 8)")
      val all = spark.sql(s"SELECT k, name FROM $cat.db.s").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val byK = all.groupBy(_._1)
      (0L until 4000L by 20L).map(scramble).foreach { k =>
        val got = spark.sql(s"SELECT name FROM $cat.db.s WHERE k = $k")
          .collect().map(_.getString(0)).sorted.toSeq
        assert(got == byK.getOrElse(k, Array.empty).map(_._2).sorted.toSeq,
          s"wrong rows for k=$k")
      }
      // string column bloom: exact hits
      val names = all.map(_._2).distinct.take(20)
      names.foreach { nm =>
        val got = spark.sql(
          s"SELECT count(*) FROM $cat.db.s WHERE name = '$nm'")
          .head().getLong(0)
        assert(got == all.count(_._2 == nm).toLong, s"name=$nm")
      }
      // MOR delete composes: the DV masks rows of files the bloom keeps
      val victim = all.head._1
      spark.sql(s"DELETE FROM $cat.db.s WHERE k = $victim")
      assert(spark.sql(s"SELECT * FROM $cat.db.s WHERE k = $victim")
        .count() == 0L)
    }
  }

  test("conservatism + validation: an external bloom-less commit is " +
       "kept (results exact), CREATE rejects unknown/inadmissible " +
       "bloom columns loud") {
    withCatalog { (cat, root) =>
      spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, v STRING) " +
        s"TBLPROPERTIES ('${LakeBloom.ColKey}'='k')")
      spark.sql(s"INSERT INTO $cat.db.c SELECT id, concat('v', id) " +
        "FROM range(0, 100, 1, 2)")
      // external writer: a file with NO bloom lands via LakeLog.commit
      val dir = s"$root/db/c"
      val tmp = Files.createTempDirectory("graft-bloom-ext").toString
      spark.range(100, 200).selectExpr("id AS k", "concat('x', id) AS v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = lfs.fs(dir)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      fs.rename(new org.apache.hadoop.fs.Path(src.getAbsolutePath),
        new org.apache.hadoop.fs.Path(dir, "external.parquet"))
      LakeLog.commit(dir, "external", Seq("external.parquet"),
        Seq.empty, 100L)
      // the external file has stats but no bloom: a lookup into its
      // range must still find the row
      assert(spark.sql(s"SELECT v FROM $cat.db.c WHERE k = 150")
        .head().getString(0) == "x150")
      // bloom EVOLUTION by ALTER: enable after create — the next
      // write's files carry blooms, the older bloomless vintage stays
      // conservatively kept (results exact either way)
      spark.sql(s"CREATE TABLE $cat.db.ev (k BIGINT)")
      spark.sql(s"INSERT INTO $cat.db.ev SELECT id FROM range(0, 50, 1, 1)")
      spark.sql(s"ALTER TABLE $cat.db.ev SET TBLPROPERTIES " +
        s"('${LakeBloom.ColKey}'='k')")
      spark.sql(s"INSERT INTO $cat.db.ev " +
        "SELECT 100 + id FROM range(0, 50, 1, 1)")
      val ev = LakeLog.current(s"$root/db/ev").get
      val bloomed = ev.stats.values.count(_.cols.get("k")
        .exists(_.bloom.isDefined))
      assert(bloomed == 1,
        s"only the post-ALTER file carries a bloom: $bloomed of ${ev.files.size}")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.ev WHERE k = 25")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.ev WHERE k = 125")
        .head.getLong(0) == 1L)
      // ALTER validates types like CREATE does
      val eb = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.evd (d DOUBLE)")
        spark.sql(s"ALTER TABLE $cat.db.evd SET TBLPROPERTIES " +
          s"('${LakeBloom.ColKey}'='d')")
      }
      assert(eb.getMessage.contains("not an admitted type"), eb.getMessage)

      // validation at CREATE
      val e1 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad1 (k BIGINT) " +
          s"TBLPROPERTIES ('${LakeBloom.ColKey}'='nope')")
      }
      assert(e1.getMessage.contains("unknown column"))
      val e2 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.bad2 (d DOUBLE) " +
          s"TBLPROPERTIES ('${LakeBloom.ColKey}'='d')")
      }
      // CREATE and ALTER paths word the type rejection differently;
      // both must NAME blooms and reject loud
      assert(e2.getMessage.contains("blooms admit") ||
        e2.getMessage.contains("not an admitted type"), e2.getMessage)
    }
  }
}
