package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.dsv2.LakeFs

/** Small-file compaction — the lake-maintenance operator every
  * long-running partitioned lake needs (the reference's weekly gzip drops
  * land one file per dataset per week, `load.go:19-21`; a year of weeks ×
  * 8 datasets is already a small-file problem for any scan-side engine).
  *
  * A streaming or frequently-appended 100 TB lake degrades the same way:
  * thousands of KB-size files per partition turn every scan into a
  * listing + task-scheduling storm (one task per file) and destroy
  * columnar compression. Compaction rewrites each partition into
  * `ceil(partitionBytes / targetBytes)` files WITHOUT changing a row.
  *
  * Spark-first shape:
  *   - per-partition byte totals come from the FILE LISTING (driver-side
  *     metadata, same bounded use as partition discovery — never a data
  *     scan);
  *   - the rewrite is ONE distributed job: rows are hashed to
  *     `(partitionCol, salt)` where `salt = xxhash64(row) mod n_files`
  *     for that partition's computed file count, so each output file is
  *     written by exactly one task and partitions compact in parallel —
  *     no per-partition driver loop, no single-task coalesce bottleneck;
  *   - the per-partition file-count map rides into the expression as a
  *     broadcast-joined two-column frame (bounded: one row per
  *     partition), keeping the plan free of driver-side row data.
  *
  * The write lands in a fresh directory (atomic swap is the caller's
  * rename; an in-place overwrite would corrupt readers mid-rewrite).
  */
object Compact {

  /** Per-partition-value total bytes, from the listing only. */
  def partitionBytes(spark: SparkSession, dir: String,
                     partitionCol: String): Map[String, Long] = {
    val p = new Path(dir)
    val fs = LakeFs(spark).fs(p)
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      .map { d =>
        val value = d.getPath.getName.substring(partitionCol.length + 1)
        val bytes = fs.listStatus(d.getPath).filter(_.isFile)
          .map(_.getLen).sum
        value -> bytes
      }.toMap
  }

  /** Rewrite `srcDir` (partitioned by `partitionCol`) into `outDir` with
    * EXACTLY `ceil(bytes / targetBytes)` files per partition. Returns the
    * per-partition file-count plan it executed.
    *
    * The file-count contract is exact, not collision-dependent: each row
    * gets a deterministic GLOBAL file index (`partition offset + salt`),
    * and the shuffle routes index `i` to task `i` via an identity
    * partitioner with `numPartitions = total planned files`. Hashing
    * `(partitionCol, salt)` into `spark.sql.shuffle.partitions` buckets
    * instead would let two salts of one partition collide into the same
    * task and silently emit fewer files than planned. The identity
    * shuffle is the one legitimate RDD drop-down here — Catalyst's
    * `repartition` can only hash or range, neither of which can promise
    * one-task-per-planned-file.
    */
  def compact(spark: SparkSession, srcDir: String, outDir: String,
              partitionCol: String,
              targetBytes: Long = 128L << 20): Map[String, Int] = {
    val plan = partitionBytes(spark, srcDir, partitionCol).map {
      case (value, bytes) =>
        value -> math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    }
    // deterministic global index space: partitions in sorted order, each
    // owning a contiguous [offset, offset + nfiles) range
    val values = plan.keys.toSeq.sorted
    val offsets = values.scanLeft(0)((acc, v) => acc + plan(v)).init
    val totalFiles = plan.values.sum
    val planDf = broadcast(
      spark.createDataFrame(values.zip(offsets).map { case (v, off) =>
        (v, plan(v), off) })
        .toDF(partitionCol, "_nfiles", "_offset"))
    val df = spark.read.parquet(srcDir)
    val indexed = df
      .join(planDf, Seq(partitionCol))
      .withColumn("_fileidx",
        col("_offset").cast("long") +
          pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
            col("_nfiles").cast("long")))
      .drop("_nfiles", "_offset")
    val outSchema = org.apache.spark.sql.types.StructType(
      indexed.schema.filterNot(_.name == "_fileidx"))
    val routed = indexed.rdd
      .map(r => (r.getAs[Long]("_fileidx"),
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = totalFiles
        override def getPartition(key: Any): Int =
          key.asInstanceOf[Long].toInt
      })
      .values
    spark.createDataFrame(routed, outSchema)
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(outDir)
    plan
  }
}
