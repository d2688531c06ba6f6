package graft.sources.dsv2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DataType

/** Per-file KMV (k-minimum-values) DISTINCT-COUNT sketches feeding
  * Spark's cost-based optimizer through the DSv2 column-statistics
  * report ([[LakeScan.estimateStatistics]] → `columnStats()` →
  * `DataSourceV2Relation.transformV2Stats` → catalyst `ColumnStat`).
  *
  * Why: join reordering and join-cardinality estimation hinge on NDV
  * (number of distinct values) — with only row counts, the optimizer
  * assumes worst-case key multiplicity and mis-orders multi-join
  * plans. Iceberg ships table-level NDV in puffin files for the same
  * consumer; here the sketch rides the same per-file manifest channel
  * as the bloom filters and min/max bounds, so it stays correct under
  * time travel, branches, and partition/stats pruning (pruned files'
  * sketches simply don't participate).
  *
  * The sketch: keep the K smallest distinct 64-bit hashes of the
  * column's non-null values (unsigned order). Properties that make it
  * the right fit for a manifest:
  *
  *   - MERGEABLE: the union of per-file sketches, re-truncated to the
  *     K smallest, is exactly the sketch of the union — per-file
  *     build at write time, per-SNAPSHOT estimate at plan time, any
  *     subset of files (a pruned scan) estimates its own union;
  *   - EXACT below K: a sketch holding fewer than K hashes saw every
  *     distinct value — small dimensions report exact NDV;
  *   - bounded: K longs = 2 KiB per (file, column), opt-in via the
  *     `stats.ndv.columns` table property (the bloom.columns pattern).
  *
  * Estimator (Bar-Yossef et al., the standard KMV form): with U(K) =
  * the K-th smallest hash normalized to [0, 1), NDV ≈ (K-1) / U(K).
  *
  * ESTIMATE, not a result: column statistics steer plan CHOICE only —
  * a bad estimate can never change an answer (Spark executes whatever
  * plan it picks exactly). Deletion vectors are deliberately ignored
  * (a DV'd row's value still counts — NDV then upper-bounds the live
  * distinct count), and files WITHOUT a sketch (external commits,
  * compaction rewrites, pre-NDV vintages) withhold the column's report
  * entirely rather than under-count.
  *
  * Hashing reuses [[LakeBloom.hashInternal]]'s canonicalization (the
  * two 32-bit lanes recombined), so the two indexes cannot drift on
  * what "the value's hash" means.
  */
object LakeNdv {

  /** Table property naming the NDV-sketched source columns. */
  val ColKey = "stats.ndv.columns"

  /** Sketch size: K smallest hashes kept. 2 KiB per (file, column);
    * relative error ~1/sqrt(K) ≈ 6%.
    */
  val K = 256

  /** Configured NDV columns of a table (empty when unset). */
  def configured(dir: String)(implicit lfs: LakeFs): Seq[String] =
    LakeTableIO.tableProps(dir).get(ColKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Same canonicalizable types as the blooms (shared hash). */
  def admits(dt: DataType): Boolean = LakeBloom.admits(dt)

  /** 64-bit canonical hash of an internal value (None = inadmissible
    * type; the writer never builds a sketch there).
    */
  def hash64(dt: DataType, row: InternalRow, ord: Int): Option[Long] =
    LakeBloom.hashInternal(dt, row, ord).map { case (a, b) =>
      (a.toLong << 32) | (b & 0xffffffffL)
    }

  private val UnsignedCmp: java.util.Comparator[java.lang.Long] =
    (x: java.lang.Long, y: java.lang.Long) =>
      java.lang.Long.compareUnsigned(x, y)

  /** Writer-side builder: bounded set of the K smallest distinct
    * hashes in unsigned order. One per (open file, configured column).
    */
  final class Builder(k: Int = K) {
    private val set = new java.util.TreeSet[java.lang.Long](UnsignedCmp)
    def add(h: Long): Unit = {
      // skip the insert when h can't enter the bottom-k (common case
      // once the set is warm — one comparison, no tree walk)
      if (set.size == k &&
          java.lang.Long.compareUnsigned(h, set.last()) >= 0) return
      if (set.add(h) && set.size > k) set.pollLast()
    }
    def toBase64: String = {
      val bb = java.nio.ByteBuffer.allocate(set.size * 8)
      set.forEach(h => bb.putLong(h))
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
  }

  /** Decode a stored sketch; null on malformed input (caller treats
    * the file as sketch-less and withholds the report).
    */
  def decode(b64: String): Array[Long] =
    try {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      if ((bytes.length & 7) != 0) return null
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(bytes.length >> 3)(bb.getLong)
    } catch { case scala.util.control.NonFatal(_) => null }

  /** Merge per-file sketches and estimate the union's NDV. None when
    * any sketch is null/absent (a file whose values are unaccounted
    * would silently under-count). Exact when the union holds fewer
    * than K distinct hashes.
    */
  def estimate(sketches: Seq[Array[Long]], k: Int = K): Option[Long] = {
    if (sketches.isEmpty || sketches.exists(_ == null)) return None
    val set = new java.util.TreeSet[java.lang.Long](UnsignedCmp)
    sketches.foreach(_.foreach { h =>
      if (set.add(h) && set.size > k) set.pollLast()
    })
    if (set.isEmpty) Some(0L)
    else if (set.size < k) Some(set.size.toLong) // saw everything
    else {
      // U(K) in [0,1): the K-th smallest unsigned hash / 2^64
      val kth = set.last().longValue()
      val u = ((kth >>> 11).toDouble + 1.0) / (1L << 53).toDouble
      Some(math.max(set.size.toLong, math.round((k - 1).toDouble / u)))
    }
  }
}
