package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.dsv2.LakeFs

/** Partition retention / expiry — the other half of lake maintenance
  * (with [[Compact]]): a weekly-snapshot lake (the reference keeps every
  * `importdate=` drop forever, `load.go:19-21`) grows without bound
  * unless aged partitions are expired. At 100 TB the retention pass must
  * be METADATA-ONLY: compare partition VALUES against the horizon and
  * delete directories — never scan, list-files-inside, or rewrite the
  * survivors. Expiry of a date-partitioned lake is O(#partitions)
  * driver-side work regardless of data volume, the same bounded listing
  * use as partition discovery.
  *
  * The delete goes partition directory by partition directory (not one
  * recursive root delete), so a failure mid-pass leaves whole partitions
  * either present or absent — readers never see a half-deleted
  * partition's files vanish mid-scan on retry.
  */
object Retention {

  /** Delete partitions of `dir` (laid out `partitionCol=value/`) whose
    * lexicographic value is strictly below `keepFrom`. ISO dates and the
    * reference's `yyMMdd` stamps both order lexicographically, so the
    * comparison needs no parsing. Returns the expired values, sorted.
    */
  def expire(spark: SparkSession, dir: String, partitionCol: String,
             keepFrom: String): Seq[String] = {
    val p = new Path(dir)
    val fs = LakeFs(spark).fs(p)
    val prefix = partitionCol + "="
    val expired = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.substring(prefix.length) -> s.getPath)
      .filter { case (value, _) => value < keepFrom }
    expired.foreach { case (_, path) => fs.delete(path, true) }
    expired.map(_._1).sorted
  }
}
