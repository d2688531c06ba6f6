package graft.sources.dsv2

import org.apache.hadoop.fs.Path

/** Deletion-vector sidecar codec: one small file per (commit, data
  * file) holding the FILE-RELATIVE row positions a merge-on-read
  * DELETE/UPDATE/MERGE removed. The manifest's `dvs` map (data file →
  * DV sidecars) is the only association; names carry no meaning.
  *
  * Encoding is a ROARING-STYLE container bitmap (`dv-<uuid>.dv.bin`,
  * the format class Delta's DVs and Iceberg's puffin delete blobs
  * use): positions are bucketed by their high bits (`pos >>> 16`);
  * each 64Ki-position bucket stores its low 16 bits either as a
  * sorted short ARRAY (sparse — 2 bytes/position) or as an 8 KiB
  * BITMAP (dense — the array form would be larger past 4096 entries,
  * roaring's classic threshold). A DELETE of k scattered rows costs
  * ~2k bytes; a dense delete of a whole 10M-row file costs ~1.2 MiB
  * flat — both orders of magnitude under a JSON position list, which
  * matters because readers fetch DV sidecars per scan.
  *
  * Readers subtract the UNION of a file's DV position sets; positions
  * decode sorted so the scan applies them with a single advancing
  * cursor (O(1) per row, no per-row set lookup).
  */
object LakeDv {
  private val Magic = 0x47445631 // "GDV1"
  /** Array/bitmap crossover: past this cardinality the 8 KiB bitmap is
    * smaller than 2-byte array entries (4096 * 2 = 8 KiB).
    */
  private val ArrayMax = 4096

  /** Write one DV sidecar for `dataFile`; returns the sidecar name. */
  def write(dir: String, dataFile: String, positions: Seq[Long])(
      implicit lfs: LakeFs): String = {
    require(positions.nonEmpty, s"empty deletion vector for $dataFile")
    val name = s"dv-${java.util.UUID.randomUUID()}.dv.bin"
    val fs = lfs.fs(dir)
    val sorted = positions.distinct.sorted.toArray
    require(sorted.head >= 0, s"negative position for $dataFile")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(new Path(dir, name), false)))
    try {
      out.writeInt(Magic)
      // container count: one per distinct high-48-bit bucket
      var containers = 0
      var i = 0
      while (i < sorted.length) {
        val key = sorted(i) >>> 16
        while (i < sorted.length && (sorted(i) >>> 16) == key) i += 1
        containers += 1
      }
      out.writeInt(containers)
      i = 0
      while (i < sorted.length) {
        val key = sorted(i) >>> 16
        val start = i
        while (i < sorted.length && (sorted(i) >>> 16) == key) i += 1
        val n = i - start
        out.writeLong(key)
        if (n <= ArrayMax) {
          out.writeByte(0) // array container
          out.writeInt(n)
          var j = start
          while (j < i) {
            out.writeShort((sorted(j) & 0xffffL).toInt)
            j += 1
          }
        } else {
          out.writeByte(1) // bitmap container
          val words = new Array[Long](1024)
          var j = start
          while (j < i) {
            val low = (sorted(j) & 0xffffL).toInt
            words(low >>> 6) |= 1L << (low & 63)
            j += 1
          }
          words.foreach(out.writeLong)
        }
      }
    } finally out.close()
    name
  }

  /** Sorted union of the position sets in `dvFiles` (a data file's DV
    * list from the manifest). Driver- or executor-side metadata read;
    * size ∝ deleted rows of ONE file.
    */
  def positions(dir: String, dvFiles: Seq[String])(
      implicit lfs: LakeFs): Array[Long] = {
    if (dvFiles.isEmpty) return Array.empty
    dvFiles.flatMap(f => decodeBin(f, lfs.read(new Path(dir, f))))
      .distinct.sorted.toArray
  }

  private def decodeBin(name: String, bytes: Array[Byte]): Seq[Long] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    require(in.readInt() == Magic,
      s"DV sidecar $name is not a GDV1 container bitmap")
    val containers = in.readInt()
    val acc = scala.collection.mutable.ArrayBuffer.empty[Long]
    var c = 0
    while (c < containers) {
      val key = in.readLong()
      val base = key << 16
      in.readByte() match {
        case 0 =>
          val n = in.readInt()
          var j = 0
          while (j < n) {
            acc += base | (in.readShort() & 0xffffL)
            j += 1
          }
        case 1 =>
          var w = 0
          while (w < 1024) {
            var word = in.readLong()
            // iterate set bits lowest-first: positions decode sorted
            while (word != 0L) {
              val bit = java.lang.Long.numberOfTrailingZeros(word)
              acc += base | ((w.toLong << 6) + bit)
              word &= word - 1
            }
            w += 1
          }
        case t =>
          throw new java.io.IOException(
            s"DV sidecar $name: unknown container type $t")
      }
      c += 1
    }
    acc.toSeq
  }
}
