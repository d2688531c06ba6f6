package graft.sources.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the custom-connector seam ([[RangeStreamSource]] is
  * the read half): a DataSource V2 streaming SINK with the epoch-commit
  * protocol that makes a custom sink exactly-once rather than
  * at-least-once:
  *
  *   - TASKS stage: each `DataWriter` writes its partition's rows to a
  *     private staging file named by (epoch, partition, task attempt) —
  *     a failed/speculative attempt overwrites only its own file and is
  *     dropped by `abort`, never visible to readers;
  *   - the DRIVER commits: `commit(epochId, messages)` publishes the
  *     staged files under `data/` with deterministic epoch-derived names
  *     and then durably records the epoch in a `_commits/<epoch>` marker;
  *   - REPLAY is a no-op: after a failure between sink-commit and
  *     checkpoint-advance, Spark re-runs the epoch — the marker makes the
  *     second `commit` DISCARD the re-staged files instead of publishing
  *     duplicates. Idempotent commit + checkpointed source offsets =
  *     end-to-end exactly-once, the contract every production sink
  *     (file/Delta/Kafka-transactional) builds on.
  *
  * Files move via same-filesystem `rename` — atomic on HDFS and local FS
  * (an object-store deployment would stage in-place and commit via a
  * manifest instead; the marker protocol is the same). Rows are encoded
  * as delimiter-free CSV of the supported primitive types — the sink's
  * subject is the COMMIT protocol, not a serialization format.
  */
class EpochSink extends TableProvider {
  // write-only source: the table's schema is whatever the query writes
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException(
      "write-only sink: schema comes from the input query")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null, "EpochSink requires a 'path' option")
    new EpochSinkTable(path, schema,
      Option(opts.get("clusterby")), Option(opts.get("orderby")))(
      LakeFs.active())
  }
}

class EpochSinkTable(root: String, writeSchema: StructType,
                     clusterBy: Option[String], orderBy: Option[String])(
    implicit lfs: LakeFs) extends Table with SupportsWrite {
  override def name(): String = s"graft_epoch_sink($root)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.STREAMING_WRITE).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      // With `clusterby`, the WRITE declares its layout requirement and
      // Spark plans the exchange + sort BEFORE the writers run
      // (RequiresDistributionAndOrdering) — how a lake sink gets
      // one-key-per-task layout (Iceberg write distribution) without
      // the caller hand-repartitioning: within an EPOCH every row of a
      // key lands in exactly one task (a multi-epoch run publishes one
      // clustered file set per epoch). `orderby` adds a within-task
      // sort after the cluster key — the writer sees rows in key-range
      // order, the property file-footer min/max indexes build on.
      override def build(): Write = new Write
          with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          clusterBy.map(c =>
              Distributions.clustered(
                Array(Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression)))
            .getOrElse(Distributions.unspecified())
        override def requiredOrdering(): Array[SortOrder] =
          (clusterBy.toSeq ++ orderBy.toSeq).map(c =>
            Expressions.sort(Expressions.column(c),
              SortDirection.ASCENDING)).toArray
        override def toStreaming: StreamingWrite =
          new EpochStreamingWrite(root, info.schema())
      }
    }
}

/** `stagedPath` is null for an empty partition — nothing to publish. */
case class EpochFileMessage(stagedPath: String, rows: Long)
    extends WriterCommitMessage

class EpochStreamingWrite(root: String, schema: StructType)(
    implicit lfs: LakeFs)
    extends StreamingWrite {
  private def fs: FileSystem = lfs.fs(root)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new EpochWriterFactory(root, schema)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val f = fs
    val marker = new Path(s"$root/_commits/$epochId")
    val staged = messages.collect {
      case EpochFileMessage(p, _) if p != null => new Path(p)
    }
    if (f.exists(marker)) {
      // replayed epoch: already durable — drop the duplicates
      staged.foreach(f.delete(_, false))
    } else {
      val dataDir = new Path(s"$root/data")
      f.mkdirs(dataDir)
      // A driver crash BETWEEN publishing renames and the marker write
      // leaves this epoch's files under data/ with no marker; the replay
      // re-enters this branch. Sweep that residue first so the replayed
      // publish is idempotent: without it, rename-onto-existing either
      // fails (HDFS → the epoch livelocks) or overwrites but strands
      // higher-index parts from the interrupted attempt as duplicates
      // that the marker would then seal as durable.
      val residue = f.globStatus(
        new Path(dataDir, s"epoch-$epochId-part-*"))
      if (residue != null) residue.foreach(s => f.delete(s.getPath, false))
      staged.zipWithIndex.foreach { case (p, i) =>
        val dest = new Path(s"$root/data/epoch-$epochId-part-$i.csv")
        // a false rename (missing staged file, partial prior publish,
        // IO failure) must FAIL the epoch so Spark aborts and replays —
        // writing the marker anyway would record lost rows as durable
        if (!f.rename(p, dest))
          throw new java.io.IOException(
            s"epoch $epochId: failed to publish $p -> $dest")
      }
      f.mkdirs(marker.getParent)
      val out = f.create(marker, false)
      out.writeBytes(messages.collect {
        case EpochFileMessage(_, n) => n }.sum.toString)
      out.close()
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val f = fs
    messages.collect { case EpochFileMessage(p, _) if p != null =>
      f.delete(new Path(p), false)
    }
  }
}

class EpochWriterFactory(root: String, schema: StructType)(implicit lfs: LakeFs)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // task-attempt-private name: a retry overwrites only its own file
      private val staged =
        new Path(s"$root/_staging/e$epochId-p$partitionId-t$taskId")
      // `opened` (not `rows`) is the staging-residue signal: the first
      // out.write can throw AFTER creating the file but BEFORE rows is
      // incremented, and abort must still close + delete it then
      private var opened = false
      private lazy val out = {
        val f = lfs.fs(root)
        f.mkdirs(staged.getParent)
        val stream = f.create(staged, true)
        opened = true
        stream
      }
      private var rows = 0L

      // per-field encoders resolved ONCE at writer construction — the
      // per-row path does no type dispatch, and an unsupported column
      // type fails here instead of on the first row
      private val encoders: Array[InternalRow => String] =
        schema.fields.zipWithIndex.map { case (field, i) =>
          field.dataType match {
            case LongType    => (r: InternalRow) => r.getLong(i).toString
            case IntegerType => (r: InternalRow) => r.getInt(i).toString
            case DoubleType  => (r: InternalRow) => r.getDouble(i).toString
            case StringType  => (r: InternalRow) => r.getUTF8String(i).toString
            case other => throw new UnsupportedOperationException(
              s"EpochSink supports primitive columns only, got $other")
          }
        }

      override def write(row: InternalRow): Unit = {
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i < encoders.length) {
          if (i > 0) sb.append(',')
          sb.append(encoders(i)(row))
          i += 1
        }
        sb.append('\n')
        out.write(sb.toString.getBytes("UTF-8"))
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        if (rows > 0) { out.close(); EpochFileMessage(staged.toString, rows) }
        else {
          // opened-but-zero-rows (first write threw mid-encode, then
          // commit was somehow reached): don't publish a partial file
          if (opened) {
            try out.close() catch { case _: java.io.IOException => () }
            lfs.fs(root).delete(staged, false)
          }
          EpochFileMessage(null, 0L) // nothing staged for this partition
        }
      }
      override def abort(): Unit = if (opened) {
        // unconditional on rows: a file created by the first (failed)
        // write is residue the no-staging-leftovers invariant forbids
        try out.close() catch { case _: java.io.IOException => () }
        lfs.fs(root).delete(staged, false)
      }
      override def close(): Unit = ()
    }
}
