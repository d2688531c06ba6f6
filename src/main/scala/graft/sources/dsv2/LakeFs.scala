package graft.sources.dsv2

import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The lake's one way to reach storage: the session's Hadoop conf,
  * captured once per catalog initialisation, table load or command, and
  * handed to every lake function as an implicit parameter — so a lake
  * call made without it does not compile (save the three log reads that
  * default to [[LakeFs.active]]), and `fs.*` keys set on the session (or
  * as `spark.hadoop.*`) reach every manifest, sidecar and data-file
  * access.
  *
  * Serializable: reader and writer factories carry it into tasks, the
  * same way Spark's own parquet factory carries its conf; the executor
  * side deserializes the driver's properties instead of re-parsing
  * Hadoop's XML defaults per file.
  */
final class LakeFs private (conf: SerializableConfiguration)
    extends Serializable {
  def fs(p: Path): FileSystem = p.getFileSystem(conf.value)
  def fs(dir: String): FileSystem = fs(new Path(dir))
  def input(p: Path): HadoopInputFile =
    HadoopInputFile.fromPath(p, conf.value)
  def output(p: Path): HadoopOutputFile =
    HadoopOutputFile.fromPath(p, conf.value)

  /** The whole file at `p`. */
  def read(p: Path): Array[Byte] = {
    val in = fs(p).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Atomically create `dest` from staged `tmp`, failing (false) when
    * `dest` already exists — the single arbitration primitive the log's
    * versions, tags and transaction markers rest on. Scheme-dependent,
    * because the Hadoop `rename` API does NOT guarantee no-overwrite
    * everywhere: on the local filesystem it degrades to POSIX rename(2),
    * which silently OVERWRITES an existing destination — two racing
    * writers would both "win" a version and one manifest would vanish
    * (caught live by LakeLogConcurrencySpec under 32-way contention). So:
    *
    *   - `file://`: hard-link (link(2)) — atomic create-if-absent by
    *     POSIX contract;
    *   - everything else (HDFS-class): `rename` without overwrite is
    *     atomic at the namenode and returns false on an existing
    *     destination. (An object store without atomic rename needs a
    *     conditional-PUT flavor of this method — the one primitive a
    *     port must supply.)
    */
  def createFrom(tmp: Path, dest: Path): Boolean = {
    val f = fs(dest)
    if ("file".equalsIgnoreCase(f.getScheme))
      try {
        Files.createLink(Paths.get(dest.toUri.getPath),
          Paths.get(tmp.toUri.getPath))
        true
      } catch { case _: FileAlreadyExistsException => false }
    else f.rename(tmp, dest)
  }

  /** [[createFrom]] of `bytes`, staged beside `dest`. */
  def create(dest: Path, bytes: Array[Byte]): Boolean = {
    val f = fs(dest)
    val tmp = staging(dest)
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    try createFrom(tmp, dest) finally f.delete(tmp, false)
  }

  private def staging(dest: Path): Path =
    new Path(dest.getParent, s".tmp-${UUID.randomUUID()}-${dest.getName}")

  /** Publish `bytes` as `dest`, replacing any previous file. On a local
    * filesystem this is one rename(2) through java.nio, outside Hadoop's
    * checksum layer (a stale `.crc` of the old contents is dropped
    * first): a concurrent reader sees the old or the new file, never a
    * torn or missing one. Other schemes stage, then delete and rename,
    * which leaves a window with no `dest` (HDFS has overwrite-rename via
    * FileContext; object stores need a conditional PUT).
    */
  def replace(dest: Path, bytes: Array[Byte]): Unit = {
    val tmp = staging(dest)
    val f = fs(dest)
    if ("file".equalsIgnoreCase(f.getScheme)) {
      val local = Paths.get(tmp.toUri.getPath)
      Files.createDirectories(local.getParent)
      Files.write(local, bytes)
      Files.deleteIfExists(local.resolveSibling(s".${dest.getName}.crc"))
      Files.move(local, Paths.get(dest.toUri.getPath),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = f.create(tmp, true)
      try out.write(bytes) finally out.close()
      f.delete(dest, false)
      if (!f.rename(tmp, dest))
        throw new java.io.IOException(s"failed to publish $dest")
    }
  }
}

object LakeFs {
  def apply(spark: SparkSession): LakeFs =
    new LakeFs(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** The active session's handle: built where no caller can pass one
    * (a `TableProvider`'s table), and the default of the log's head and
    * snapshot reads (`LakeLog.current`, `currentVersion`, `snapshotAt`)
    * for callers that hold no handle.
    */
  def active(): LakeFs = apply(SparkSession.active)
}
