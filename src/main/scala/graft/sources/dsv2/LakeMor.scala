package graft.sources.dsv2

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ row-level operation ([[SupportsDelta]] — Spark's
  * delta-based rewrite, the plan Iceberg's position deltas use):
  * instead of copying whole affected files (the group-based
  * [[LakeRowLevelOperation]]), the write emits a STREAM of row-level
  * actions — inserts become ordinary new data files, deletes become
  * DELETION-VECTOR positions keyed by the row's `(_file, _pos)`
  * identity (the reserved metadata columns every [[LakeTable]] scan
  * can synthesize), and UPDATES arrive as first-class update actions
  * (`representUpdateAsDeleteAndInsert = false`): the old position is
  * DV'd and the new row lands in a fresh file like any insert, but the
  * writer KNOWS the two halves belong to one logical update — that
  * knowledge is committed as the manifest's `updatePre`/`updatePost`
  * annotation, which is what lets the change feed emit
  * `update_preimage`/`update_postimage` events instead of collapsing
  * updates into unpaired insert+delete (Delta CDF's `_change_data`
  * contract, folded into the manifest because pre-images are
  * reconstructable from the still-on-disk positions). Commit publishes
  * the insert files and one DV sidecar per (touched data file, change
  * class), sealed by a single manifest whose `dvs` map readers
  * subtract at scan time.
  *
  * Write amplification flips accordingly: a DELETE of k rows costs
  * O(k) positions instead of rewriting every covered file — the right
  * trade for sparse deletes over huge tables; read-side cost is the DV
  * subtraction until `CALL system.rewrite_deletes` materializes it.
  *
  * The target scan is the ORDINARY [[LakeScanBuilder]]: column pruning
  * and residual filters apply (only rows matching the condition are
  * even candidates), existing DVs are subtracted (an already-deleted
  * row can't be deleted twice), and Spark projects the rowId metadata
  * columns itself.
  */
class LakeMorOperation(table: LakeTable,
                       cmd: RowLevelOperation.Command)(implicit lfs: LakeFs)
    extends RowLevelOperation with SupportsDelta {

  // the eq-ref set the plan consumed — captured BEFORE the source
  // scan builds (a ref landing in between fails the commit guard
  // conservatively, never passes wrongly). MOR under live refs is
  // sound: the scan subtracts eq-deleted rows, DV'd files keep their
  // add versions (refs keep attaching), post-images escape refs with
  // fresh add versions because their dead ancestors are not in them.
  @volatile private[dsv2] var eqsAtPlan: Seq[LakeEq.EqRef] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeTableIO.MetaFile),
      Expressions.column(LakeTableIO.MetaPos))

  // updates stay FIRST-CLASS (no delete+insert split): the writer's
  // update() sees both halves of each updated row, which is the only
  // place the pre/post pairing the change feed needs can be observed
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    eqsAtPlan = LakeTableIO.snapshotEqs(table.dir, None, table.branch)
    new LakeScanBuilder(table.dir, table.schema, None, branch = table.branch)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new LakeDeltaWrite(table.dir, info.schema(),
          cmd.toString.toLowerCase(java.util.Locale.ROOT) + "_mor",
          table.branch, eqsAtPlan = () => eqsAtPlan)
    }
}

/** One task's outcome: staged plain-insert files, staged
  * update-post-image files (one each per partition tuple touched;
  * single files on unpartitioned tables), and this task's deletion
  * positions per data file, split by change class (plain delete vs
  * update pre-image).
  */
case class LakeDeltaMessage(staged: Seq[StagedLakeFile],
                            stagedUpdates: Seq[StagedLakeFile],
                            deletes: Map[String, Array[Long]],
                            updateDeletes: Map[String, Array[Long]])
    extends WriterCommitMessage

class LakeDeltaWrite(dir: String, rowSchema: StructType, opName: String,
                     branch: Option[String],
                     eqsAtPlan: () => Seq[LakeEq.EqRef] = () => Seq.empty)(
    implicit lfs: LakeFs)
    extends DeltaWrite {
  // mid-write ADD/RE-DECLARE CONSTRAINT guard — same contract as
  // LakeWrite: the commit fails loud (nothing publishes) when a
  // constraint appeared or changed text after this write was planned,
  // because its staged rows were neither validated by the ALTER nor
  // enforced by the writer. Full name → text comparison (a SET that
  // replaces an existing constraint's text counts), checked both
  // before publish and inside the log's retry loop (prePublish).
  private val checksAtPlan: Map[String, String] = LakeChecks.planSet(dir)

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory =
      new LakeDeltaWriterFactory(dir, rowSchema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val fs = lfs.fs(dir)
      val msgs = messages.collect { case m: LakeDeltaMessage => m }
      try LakeChecks.requireUnchangedForWrite(dir, checksAtPlan)
      catch { case e: Throwable =>
        msgs.foreach(m => (m.staged ++ m.stagedUpdates).foreach { s =>
          try fs.delete(new Path(s.stagedPath), false)
          catch { case _: java.io.IOException => () }
        })
        throw e
      }
      // publish insert + update-post files (stage-then-publish, as the
      // batch write); post-image files are tracked apart so the commit
      // can annotate them for the change feed
      def publish(s: StagedLakeFile): (String, StagedLakeFile) = {
        val dest = new Path(dir, s"part-${UUID.randomUUID()}.parquet")
        if (!fs.rename(new Path(s.stagedPath), dest))
          throw new java.io.IOException(
            s"failed to publish ${s.stagedPath} -> $dest")
        (dest.getName, s)
      }
      val published = msgs.flatMap(_.staged).map(publish)
      val publishedPost = msgs.flatMap(_.stagedUpdates).map(publish)
      // merge deletes across tasks; ONE DV sidecar per (file, class) —
      // positions of the two classes are disjoint (each live row is
      // processed at most once by the operation)
      def merge(per: Seq[Map[String, Array[Long]]])
          : Map[String, Seq[Long]] = {
        val acc = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
        per.foreach(_.foreach { case (f, ps) =>
          acc.getOrElseUpdate(f, mutable.ArrayBuffer.empty) ++= ps
        })
        acc.view.mapValues(_.distinct.sorted.toSeq).toMap
      }
      val plain = merge(msgs.map(_.deletes))
      val updates = merge(msgs.map(_.updateDeletes))
      val plainDv = plain.map { case (f, ps) =>
        f -> Seq(LakeDv.write(dir, f, ps))
      }
      val updateDv = updates.map { case (f, ps) =>
        f -> Seq(LakeDv.write(dir, f, ps))
      }
      val dvAdded: Map[String, Seq[String]] =
        (plainDv.keySet ++ updateDv.keySet).map { f =>
          f -> (plainDv.getOrElse(f, Seq.empty) ++
            updateDv.getOrElse(f, Seq.empty))
        }.toMap
      val allFiles = published ++ publishedPost
      if (allFiles.isEmpty && dvAdded.isEmpty) return // no-op DML
      // the full fact set rides the commit exactly as in the batch
      // write: blooms AND exact sums AND NDV sketches (the inner
      // writer harvested them all — dropping any here would strand
      // MOR-written files outside the metadata fast paths)
      try LakeLog.commit(dir, opName, allFiles.map(_._1).toSeq,
        Seq.empty, allFiles.map(_._2.rows).sum, branch = branch,
        dvAdded = dvAdded, updatePre = updateDv,
        updatePost = publishedPost.map(_._1).toSeq,
        addedParts = allFiles.collect {
          case (n, s) if s.tuple.isDefined => n -> s.tuple.get
        }.toMap,
        addedBlooms = allFiles.collect {
          case (n, s) if s.blooms.nonEmpty => n -> s.blooms
        }.toMap,
        addedSums = allFiles.collect {
          case (n, s) if s.sums.nonEmpty => n -> s.sums
        }.toMap,
        addedNdvs = allFiles.collect {
          case (n, s) if s.ndvs.nonEmpty => n -> s.ndvs
        }.toMap,
        addedLens = allFiles.collect {
          case (n, s) if s.lens.nonEmpty => n -> s.lens
        }.toMap,
        addedHists = allFiles.collect {
          case (n, s) if s.hists.nonEmpty => n -> s.hists
        }.toMap,
        prePublish = () => {
          LakeChecks.requireUnchangedForWrite(dir, checksAtPlan)
          // MOR post-images are copies of scanned LIVE rows in fresh
          // files — an eq ref committed mid-DML would be detached
          // from them while the scan never subtracted it (the TOCTOU
          // twin); the plan-time ref set must still be current
          LakeEq.requireUnchanged(dir, branch, eqsAtPlan(), opName)
        })
      catch {
        case e: Throwable =>
          // conflict (a covered file was rewritten concurrently): the
          // published inserts and freshly-written DVs are in no
          // manifest — remove them and abort loud
          allFiles.foreach { case (n, _) =>
            try fs.delete(new Path(dir, n), false)
            catch { case _: java.io.IOException => () }
          }
          dvAdded.values.flatten.foreach { n =>
            try fs.delete(new Path(dir, n), false)
            catch { case _: java.io.IOException => () }
          }
          throw e
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = lfs.fs(dir)
      messages.collect { case m: LakeDeltaMessage =>
        (m.staged ++ m.stagedUpdates).foreach { s =>
          try fs.delete(new Path(s.stagedPath), false)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }
}

class LakeDeltaWriterFactory(dir: String, rowSchema: StructType)(
    implicit lfs: LakeFs)
    extends DeltaWriterFactory {
  // constructed on the DRIVER (this factory is built there and
  // serialized to tasks): the inner writer resolves driver-only state
  // at construction — CHECK constraints through the session's analyzer,
  // field-id grafting, the partition spec — none of which exists on an
  // executor. Its serializability is the same contract every batch
  // write already ships.
  private val factory = new LakeWriterFactory(dir, rowSchema)

  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // inserts and update post-images reuse the ordinary
      // stage-then-publish parquet writer — two instances, because the
      // files must stay apart for the commit's update annotation
      private val insertWriter = factory.createWriter(partitionId, taskId)
      private val updateWriter = factory.createWriter(partitionId, taskId)
      private val deletes =
        mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
      private val updateDeletes =
        mutable.Map.empty[String, mutable.ArrayBuffer[Long]]

      override def insert(row: InternalRow): Unit =
        insertWriter.write(row)

      /** `id` carries the rowId projection `(_file, _pos)` in
        * [[LakeMorOperation.rowId]] order.
        */
      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        val file = id.getUTF8String(0).toString
        val pos = id.getLong(1)
        deletes.getOrElseUpdate(file, mutable.ArrayBuffer.empty) += pos
      }

      /** One logical UPDATE: DV the old position (as an update
        * pre-image) and write the post-image row to the dedicated
        * update file.
        */
      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit = {
        val file = id.getUTF8String(0).toString
        val pos = id.getLong(1)
        updateDeletes.getOrElseUpdate(file,
          mutable.ArrayBuffer.empty) += pos
        updateWriter.write(row)
      }

      override def commit(): WriterCommitMessage = {
        val mi = insertWriter.commit().asInstanceOf[LakeFileMessage]
        val mu = updateWriter.commit().asInstanceOf[LakeFileMessage]
        LakeDeltaMessage(mi.files, mu.files,
          deletes.view.mapValues(_.toArray).toMap,
          updateDeletes.view.mapValues(_.toArray).toMap)
      }
      override def abort(): Unit = {
        insertWriter.abort(); updateWriter.abort()
      }
      override def close(): Unit = {
        insertWriter.close(); updateWriter.close()
      }
    }
}
