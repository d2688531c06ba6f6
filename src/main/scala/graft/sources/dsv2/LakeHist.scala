package graft.sources.dsv2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** EQUI-HEIGHT HISTOGRAMS for the CBO column-statistics report — the
  * seventh (and last) catalyst `ColumnStat` field. min/max alone make
  * the optimizer interpolate UNIFORMLY over the value range, which is
  * off by orders of magnitude under skew (90 % of a column in a narrow
  * band, a long tail stretching max outward): join-order and
  * selectivity estimates then pick shuffle-heavy plans. A histogram
  * carries the distribution's SHAPE.
  *
  * Mechanism — the KMV pattern applied to values instead of hashes:
  *
  *   - the WRITER keeps a bounded RESERVOIR SAMPLE of each configured
  *     column's non-null values per file (`stats.histogram.columns`,
  *     opt-in like `stats.ndv.columns`; [[Builder]] — algorithm R,
  *     K = 64 doubles, O(1) per row), carried in the manifest stats
  *     ([[LakeStats.ColStats.hsample]]);
  *   - the SCAN merges the planned files' samples WEIGHTED by each
  *     file's non-null count (a sample value stands for
  *     nonNull/|sample| rows) and cuts equal-weight bins
  *     ([[equiHeight]]) — reported only when EVERY planned file
  *     carries a sample and a known null split (all-or-nothing, the
  *     house rule: a file whose values are unaccounted must not skew
  *     the shape);
  *   - `CALL system.analyze` backfills samples for compaction rewrites
  *     and bootstrap vintages like every other fact.
  *
  * Admitted types are the exactly-numeric internals (int/bigint/date/
  * timestamp — all project to Double losslessly at histogram
  * precision); floats are excluded (NaN poisons ordering), strings
  * have no numeric histogram in catalyst. ESTIMATES, not results:
  * deletion vectors are deliberately ignored, like the rest of the
  * CBO report.
  */
object LakeHist {

  val ColKey = "stats.histogram.columns"

  /** Reservoir size per (file, column): 64 doubles ≈ 512 bytes of
    * manifest per fact — enough for ~16-bin shapes at the selectivity
    * precision the estimator consumes.
    */
  val K = 64

  /** Bins reported to catalyst (fewer when the merged sample holds
    * fewer distinct values).
    */
  val Bins = 16

  def configured(dir: String)(implicit lfs: LakeFs): Seq[String] =
    LakeTableIO.tableProps(dir).get(ColKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def admits(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** The column's internal value as the histogram double. */
  def toDouble(dt: DataType, row: InternalRow, ord: Int): Double =
    dt match {
      case IntegerType | DateType => row.getInt(ord).toDouble
      case _                      => row.getLong(ord).toDouble
    }

  /** Algorithm-R reservoir over non-null values; `n` counts everything
    * offered (the merge weight denominator is the SAMPLE size, the
    * non-null count rides the stats entry separately).
    */
  final class Builder {
    private val res = new Array[Double](K)
    private var n = 0L
    private val rnd = new java.util.Random(0x9e3779b97f4a7c15L)
    def add(v: Double): Unit = {
      if (n < K) res(n.toInt) = v
      else {
        val j = (rnd.nextDouble() * (n + 1)).toLong
        if (j < K) res(j.toInt) = v
      }
      n += 1
    }
    def toBase64: String = encode(res.take(math.min(n, K.toLong).toInt))
  }

  def encode(sample: Array[Double]): String = {
    val bb = java.nio.ByteBuffer.allocate(sample.length * 8)
    sample.foreach(bb.putDouble)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** Decode a stored sample; null on malformed input (the caller
    * withholds the histogram — estimate-grade conservatism).
    */
  def decode(b64: String): Array[Double] =
    try {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      if ((bytes.length & 7) != 0) return null
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(bytes.length >> 3)(bb.getDouble)
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Merge per-file `(nonNullRows, sample)` pairs into equal-weight
    * bins `(lo, hi, distinct-in-bin)` plus the bin height. Each sample
    * value stands for nonNull/|sample| rows; values sort, weight
    * accumulates, a bin closes at each multiple of total/bins. None
    * when nothing sampled.
    */
  def equiHeight(perFile: Seq[(Long, Array[Double])], bins: Int = Bins)
      : Option[(Double, Seq[(Double, Double, Long)])] = {
    val weighted = perFile.flatMap { case (nonNull, sample) =>
      if (nonNull <= 0 || sample.isEmpty) Nil
      else {
        val w = nonNull.toDouble / sample.length
        sample.toSeq.map(v => (v, w))
      }
    }.sortBy(_._1)
    if (weighted.isEmpty) return None
    val total = weighted.map(_._2).sum
    val nBins = math.max(1, math.min(bins,
      weighted.map(_._1).distinct.size))
    val perBin = total / nBins
    val out = Seq.newBuilder[(Double, Double, Long)]
    var lo = weighted.head._1
    var cum = 0.0
    var boundary = perBin
    var binDistinct = scala.collection.mutable.Set.empty[Double]
    var last = lo
    var emitted = 0
    weighted.foreach { case (v, w) =>
      binDistinct += v
      last = v
      cum += w
      if (cum >= boundary && emitted < nBins - 1) {
        out += ((lo, v, binDistinct.size.toLong))
        emitted += 1
        boundary += perBin
        lo = v // catalyst bins are contiguous: next lo = this hi
        binDistinct = scala.collection.mutable.Set.empty[Double]
      }
    }
    if (binDistinct.nonEmpty || emitted == 0)
      out += ((lo, last, math.max(1L, binDistinct.size.toLong)))
    val result = out.result()
    Some((total / result.size, result))
  }
}
