package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.dsv2.LakeFs

/** Single-file CSV sink with a stable output name — the reference's result
  * contract (reference: agency-delta.go:44-95 renames Athena's
  * `<query-id>.csv` to `<Dataset>_<action>.csv`; documented
  * Readme.md:14-17 — downstream consumers fetch a fixed filename).
  *
  * `coalesce(1)` serializes the final write through one task, which is the
  * cost of the single-file contract; acceptable for delta outputs (small
  * by construction), never used for snapshot-scale data (SURVEY §7.4.3).
  */
object SingleFileCsv {

  /** Write `df` as exactly one CSV file named `fileName` inside `dir`.
    * Returns the final path. Any prior file of the same name is replaced.
    */
  def write(df: DataFrame, dir: String, fileName: String,
            header: Boolean = true, delimiter: String = ","): String = {
    val spark = df.sparkSession
    val out = new Path(dir)
    val fs = LakeFs(spark).fs(out)
    val tmp = new Path(dir, s"_tmp_${fileName.replace('/', '_')}")
    df.coalesce(1)
      .write.mode("overwrite")
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException(
        s"no part file produced under $tmp"))
    val dest = new Path(out, fileName)
    fs.mkdirs(out)
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(part, dest))
      throw new IllegalStateException(s"rename $part -> $dest failed")
    fs.delete(tmp, true)
    dest.toString
  }
}
