package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.TaskContext

import graft.sources.dsv2.{GraftCatalog, LakeFs, LakeLog}

/** The local filesystem under its own scheme, `lakeprobe://`. Hadoop can
  * only resolve the scheme through `fs.lakeprobe.impl`, so every lake
  * access that builds its own Hadoop conf instead of the session's fails
  * with "No FileSystem for scheme". Instances count where they were
  * created: in a task, or on the driver.
  */
class ProbeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("lakeprobe:///")
  override def getScheme: String = "lakeprobe"
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    if (TaskContext.get() == null) ProbeFileSystem.driverInits.incrementAndGet()
    else ProbeFileSystem.taskInits.incrementAndGet()
  }
}

object ProbeFileSystem {
  val driverInits = new AtomicLong()
  val taskInits = new AtomicLong()
}

/** `fs.*` keys set on the session reach the lake on the driver and in
  * tasks: the probe scheme is registered only in one session's conf,
  * with its FileSystem cache disabled so a cached instance cannot hide
  * an access that bypassed the session's conf.
  */
class LakeSessionFsSpec extends SparkSpec {
  private def columnar[A](value: String)(f: => A): A = {
    val prev = System.getProperty("graft.lake.reader.columnar")
    System.setProperty("graft.lake.reader.columnar", value)
    try f
    finally {
      if (prev == null) System.clearProperty("graft.lake.reader.columnar")
      else System.setProperty("graft.lake.reader.columnar", prev)
    }
  }

  test("a filesystem registered only on the session serves the whole " +
       "lake: create, insert, MERGE with deletion vectors, columnar and " +
       "row reads, and VERSION AS OF") {
    val s = spark.newSession()
    s.conf.set("fs.lakeprobe.impl", classOf[ProbeFileSystem].getName)
    s.conf.set("fs.lakeprobe.impl.disable.cache", "true")
    val root = Files.createTempDirectory("graft-probe").toString
    s.conf.set("spark.sql.catalog.probe_lake", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.probe_lake.root", s"lakeprobe://$root")
    val tbl = "probe_lake.db.t"
    val drivers0 = ProbeFileSystem.driverInits.get()
    val tasks0 = ProbeFileSystem.taskInits.get()

    s.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.mode'='merge-on-read')")
    s.sql(s"INSERT INTO $tbl SELECT id, concat('v', id) " +
      "FROM range(0, 1000, 1, 4)")
    s.sql(s"MERGE INTO $tbl t " +
      "USING (SELECT id AS k FROM range(0, 1000, 10)) u " +
      "ON t.k = u.k WHEN MATCHED THEN UPDATE SET v = 'merged'")

    val head = LakeLog.current(s"lakeprobe://$root/db/t")(LakeFs(s)).get
    assert(head.dvs.nonEmpty, "the MERGE must write deletion vectors")
    val expected = (0 until 1000).map(k =>
      k.toLong -> (if (k % 10 == 0) "merged" else s"v$k")).toSet
    def rows(): Set[(Long, String)] =
      s.sql(s"SELECT k, v FROM $tbl WHERE k >= 0").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
    columnar("true") {
      assert(s.sql(s"SELECT k, v FROM $tbl WHERE k >= 0").queryExecution
        .executedPlan.toString.contains("ColumnarToRow"))
      assert(rows() == expected)
    }
    columnar("false")(assert(rows() == expected))
    val before = s"$tbl VERSION AS OF ${head.version - 1}"
    assert(s.sql(s"SELECT count(*) FROM $before WHERE v = 'merged'")
      .collect().head.getLong(0) == 0)
    assert(s.sql(s"SELECT count(*) FROM $before").collect().head.getLong(0)
      == 1000)

    assert(ProbeFileSystem.driverInits.get() > drivers0,
      "the driver never reached the probe scheme")
    assert(ProbeFileSystem.taskInits.get() > tasks0,
      "no task reached the probe scheme")
  }
}
