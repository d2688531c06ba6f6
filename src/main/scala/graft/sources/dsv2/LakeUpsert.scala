package graft.sources.dsv2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, PhysicalWriteInfo, Write, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StructType, TimestampNTZType, TimestampType}

/** The NATIVE STREAMING UPSERT SINK — a keyed CDC stream folded into a
  * lake table at O(epoch) cost per epoch, the contract equality deletes
  * ([[LakeEq]]) exist to enable. Without it, a streaming upsert needs a
  * foreachBatch MERGE: a join against the TABLE every epoch (O(table)),
  * which is exactly what breaks at 100 TB. With it, each epoch commits
  *
  *   - equality-delete sidecar(s) tombstoning every key the epoch
  *     touched (inserts, updates, and deletes alike — an upsert IS
  *     "delete my older versions, then add me"): ONE table-wide
  *     sidecar, or — when the key columns determine the partition —
  *     one PER TOUCHED PARTITION, each ref carrying its tuple so
  *     readers attach it only to matching-tuple files (r15), and
  *   - the epoch's surviving post-image rows as ordinary data files
  *     (addV = the commit version, so the same epoch's own tombstones
  *     never touch them — the [[LakeEq]] sequencing rule).
  *
  * Activated by write options on the streaming write:
  *
  *   - `upsert.keys` (required): comma-separated key columns
  *     (int/bigint/string/date — [[LakeEq.admits]]);
  *   - `upsert.order` (required): a sequence column (int/bigint/date/
  *     timestamp) — within an epoch the row with the HIGHEST order
  *     value per key wins (a CDC stream's per-key event order made
  *     explicit; epochs give cross-epoch order);
  *   - `upsert.tombstone` (optional): a SQL boolean over the row — a
  *     winning row matching it is a DELETE event: its key tombstones
  *     and no post-image lands ("CDC event typing preserved").
  *
  * Epoch mechanics: the write declares a CLUSTERED-BY-KEYS required
  * distribution (each key's events land in ONE task), each task folds
  * its keys in a hash map (last-wins by the order column — O(task
  * distinct keys) state, O(epoch) work), and the driver commit merges
  * key sets, fails LOUD on any cross-task key (the distribution
  * contract was violated — two tasks may hold conflicting post-images
  * and there is no sound winner), and seals data files + the eq
  * sidecar in ONE atomic manifest commit. Exactly-once via the same
  * per-query epoch refs as the plain streaming sink.
  *
  * Readers subtract matching keys per file (the scan attaches
  * applicable sidecars by the sequencing rule); `rewrite_deletes`
  * RETIRES accumulated tombstones by materializing them — bounding
  * read amplification, compaction's dual.
  */
class LakeUpsertWrite(dir: String, rowSchema: StructType,
                      keyCols: Seq[String], orderCol: String,
                      tombstoneText: Option[String], queryId: String,
                      // WAP: an upsert through the branch spelling
                      // commits its epochs, post-images, and eq refs
                      // to the BRANCH ref, exactly like the plain
                      // streaming sink
                      branch: Option[String] = None,
                      // auto-retirement: when the live ref count
                      // reaches this after an epoch commit, run
                      // rewrite_deletes inline (between epochs — this
                      // query's only writer is idle then); a benign
                      // cross-writer race retries next epoch
                      retireMaxRefs: Option[Int] = None)(implicit lfs: LakeFs)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  // resolve + validate everything DRIVER-side at plan time, loud
  private val keyIdx: Seq[(Int, DataType)] =
    LakeEq.bindKeys(rowSchema, keyCols)
  // SCHEMA-CANONICAL key spellings: bindKeys resolved the user's
  // `upsert.keys` case-insensitively, but the sidecar + manifest must
  // carry the schema's own spelling — a verbatim `K` against column
  // `k` would commit fine and then brick every read of affected files
  // at the plan-side case-exact ref resolution (accepted input must
  // never become a self-inflicted outage)
  private val canonKeys: Seq[String] =
    keyIdx.map { case (i, _) => rowSchema.fields(i).name }
  // PARTITION-SCOPED refs (r15 — Iceberg v2's partition-tuple'd delete
  // files): when every CURRENT-spec source column is a key column,
  // each key determines its partition tuple (transform determinism
  // over non-null key values), so the epoch splits its tombstones
  // into ONE SIDECAR PER TOUCHED PARTITION and readers attach each
  // only to matching-tuple files — upsert read debt stays local to
  // the partitions the epoch touched. Otherwise refs stay table-wide.
  private val eqSpec: Option[(Int, Seq[LakePartitioning.Bound])] = {
    val specs = LakePartitioning.specsOf(dir)
    if (specs.isEmpty || specs.last.isEmpty) None
    else {
      val canon = canonKeys.map(_.toLowerCase).toSet
      if (specs.last.forall(t => canon.contains(t.col.toLowerCase)))
        Some((specs.length - 1,
          LakePartitioning.bind(specs.last, rowSchema)))
      else None
    }
  }
  private val orderIdx: Int = {
    val i = rowSchema.fieldNames.indexWhere(_.equalsIgnoreCase(orderCol))
    require(i >= 0,
      s"graft_lake upsert: order column '$orderCol' is missing from " +
        s"schema [${rowSchema.fieldNames.mkString(",")}]")
    require(rowSchema.fields(i).dataType match {
      case IntegerType | LongType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }, s"graft_lake upsert: order column '$orderCol' must be " +
      "int/bigint/date/timestamp")
    i
  }
  // the tombstone predicate resolves/validates now (CREATE-grade);
  // the bound positional expression ships to tasks via the factory
  private val tombstoneExpr = tombstoneText.map(t =>
    LakeChecks.rowPredicate(org.apache.spark.sql.SparkSession.active,
      rowSchema, "upsert.tombstone", t))
  // mid-write ADD/RE-DECLARE CONSTRAINT guard — same contract as the
  // plain streaming sink (the inner writer enforces the plan-time set)
  private val checksAtPlan: Map[String, String] = LakeChecks.planSet(dir)

  /** Each key's events must land in ONE task: the fold (and the
    * cross-epoch delete semantics) are per-key.
    */
  override def requiredDistribution(): Distribution =
    Distributions.clustered(canonKeys.map(c =>
      Expressions.column(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  override def requiredNumPartitions(): Int = 0
  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite =
    throw new UnsupportedOperationException(
      "graft_lake upsert writes are streaming-only — batch upserts " +
        "are MERGE INTO")

  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory =
      new LakeUpsertWriterFactory(dir, rowSchema, keyIdx.toArray,
        orderIdx, rowSchema.fields(orderIdx).dataType, tombstoneExpr,
        eqSpec)

    override def commit(epochId: Long,
                        messages: Array[WriterCommitMessage]): Unit = {
      val fs = lfs.fs(dir)
      val msgs = messages.collect { case m: LakeUpsertMessage => m }
      def dropStaged(): Unit = msgs.foreach(_.staged.foreach(s =>
        try fs.delete(new Path(s.stagedPath), false)
        catch { case _: java.io.IOException => () }))
      // constraint guard (early; re-checked per publish attempt below)
      try LakeChecks.requireUnchangedForWrite(dir, checksAtPlan)
      catch { case e: Throwable => dropStaged(); throw e }
      // cross-task key collision = the clustered-distribution contract
      // was violated: two tasks may hold CONFLICTING post-images for
      // one key and no sound winner exists — fail loud, publish nothing
      val seen = scala.collection.mutable.HashSet.empty[String]
      val dup = msgs.iterator
        .flatMap(_.keyGroups.iterator.flatMap(_._2.iterator))
        .find(k => !seen.add(k))
      if (dup.isDefined) {
        dropStaged()
        throw new IllegalStateException(
          s"graft_lake upsert to $dir: key '${dup.get}' was folded by " +
            "more than one task in epoch " + epochId + " — the " +
            "clustered-by-keys write distribution was not honored; " +
            "nothing was published")
      }
      if (seen.isEmpty) return // empty epoch: nothing to commit
      // exactly-once: a replayed epoch is a clean no-op
      if (LakeLog.lastCommittedEpoch(dir, queryId, branch)
          .exists(epochId <= _)) {
        dropStaged()
        return
      }
      val published = msgs.flatMap(_.staged).map { s =>
        val dest = new Path(dir,
          s"part-${java.util.UUID.randomUUID()}.parquet")
        if (!fs.rename(new Path(s.stagedPath), dest))
          throw new java.io.IOException(
            s"failed to publish ${s.stagedPath} -> $dest")
        (dest.getName, s)
      }
      // one sidecar per partition tuple the epoch touched (tasks hold
      // disjoint keys, so per-tuple key sets merge without overlap);
      // the unscoped shape is the single None group
      val grouped: Seq[(Option[Seq[String]], Set[String])] =
        msgs.flatMap(_.keyGroups).groupBy(_._1).toSeq
          .map { case (t, gs) => t -> gs.flatMap(_._2).toSet }
      val sidecars: Seq[(String, Option[Seq[String]], Long)] =
        grouped.map { case (t, ks) =>
          (LakeEq.write(dir, canonKeys, ks), t, ks.size.toLong) }
      def cleanup(): Unit = {
        published.foreach { case (n, _) =>
          try fs.delete(new Path(dir, n), false)
          catch { case _: java.io.IOException => () }
        }
        sidecars.foreach { case (n, _, _) =>
          try fs.delete(new Path(dir, n), false)
          catch { case _: java.io.IOException => () }
        }
      }
      try LakeLog.commit(dir, LakeLog.epochOp(queryId, epochId),
        published.map(_._1).toSeq, Seq.empty,
        published.map(_._2.rows).sum, branch = branch,
        addedParts = published.collect {
          case (n, s) if s.tuple.isDefined => n -> s.tuple.get
        }.toMap,
        addedBlooms = published.collect {
          case (n, s) if s.blooms.nonEmpty => n -> s.blooms
        }.toMap,
        addedSums = published.collect {
          case (n, s) if s.sums.nonEmpty => n -> s.sums
        }.toMap,
        addedNdvs = published.collect {
          case (n, s) if s.ndvs.nonEmpty => n -> s.ndvs
        }.toMap,
        addedLens = published.collect {
          case (n, s) if s.lens.nonEmpty => n -> s.lens
        }.toMap,
        addedHists = published.collect {
          case (n, s) if s.hists.nonEmpty => n -> s.hists
        }.toMap,
        eqAdded = sidecars.map { case (n, _, c) => (n, canonKeys, c) },
        eqTuples = sidecars.collect {
          case (n, Some(t), _) => n -> t }.toMap,
        prePublish =
          () => LakeChecks.requireUnchangedForWrite(dir, checksAtPlan))
      catch { case e: Throwable => cleanup(); throw e }
      try LakeLog.recordCommittedEpoch(dir, queryId, epochId)
      catch { case _: Exception => () }
      // sink-side auto-retirement: between epochs this query's only
      // writer is idle, so the retirement rewrite can run without
      // stopping the stream; a ref committed by ANOTHER writer during
      // the rewrite trips its eq-set-stability guard — benign, the
      // debt is retried at the next epoch's threshold check
      retireMaxRefs.foreach { maxRefs =>
        // threshold counts ref-ADDING COMMITS, not raw refs: a
        // partition-scoped epoch commits one ref per touched
        // partition, and counting refs would trip a full retirement
        // after every wide epoch (second-pass review finding)
        if (LakeLog.current(dir)
            .map(_.eqs.map(_.version).distinct.size).getOrElse(0)
            >= maxRefs)
          try graft.operators.LakeSnapshots.rewriteDeletes(
            org.apache.spark.sql.SparkSession.active, dir)
          catch {
            // the EPOCH is already durably committed — a maintenance
            // hiccup (cross-writer race, transient I/O, an
            // unsequenceable co-writer file) must not kill the query;
            // the debt stays visible (db.t.deletes) and the threshold
            // re-fires next epoch. Logged loud every time: a
            // persistent failure should be seen, not buried.
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"graft_lake upsert to $dir: inline retirement failed " +
                  s"(will retry next epoch): ${e.getMessage}")
          }
      }
    }

    override def abort(epochId: Long,
                       messages: Array[WriterCommitMessage]): Unit = {
      val fs = lfs.fs(dir)
      messages.collect { case m: LakeUpsertMessage =>
        m.staged.foreach { s =>
          try fs.delete(new Path(s.stagedPath), false)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }
}

/** Per-task commit message: staged post-image files + every key this
  * task folded (tombstoned or not — all of them enter the epoch's
  * equality delete).
  */
case class LakeUpsertMessage(staged: Seq[StagedLakeFile],
                             // every folded key, grouped by its
                             // partition tuple (ONE group with None
                             // when the spec's sources are not all key
                             // columns) — the single source for both
                             // the driver dup check and the per-tuple
                             // sidecars
                             keyGroups: Seq[(Option[Seq[String]],
                               Array[String])])
    extends WriterCommitMessage

class LakeUpsertWriterFactory(
    dir: String, rowSchema: StructType,
    keyIdx: Array[(Int, DataType)], orderIdx: Int, orderType: DataType,
    tombstoneExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression],
    eqSpec: Option[(Int, Seq[LakePartitioning.Bound])] = None)(
    implicit lfs: LakeFs)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // key -> (order value as Long, winning row copy, tombstoned?)
      private val state = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, InternalRow)]
      private val tomb = tombstoneExpr.map(LakeChecks.compile)

      private def orderOf(row: InternalRow): Long = {
        require(!row.isNullAt(orderIdx),
          "graft_lake upsert: order column value is NULL")
        orderType match {
          case IntegerType | DateType => row.getInt(orderIdx).toLong
          case _                      => row.getLong(orderIdx)
        }
      }

      override def write(row: InternalRow): Unit = {
        val key = LakeEq.encodeKey(
          keyIdx.toSeq.map { case (i, dt) =>
            if (row.isNullAt(i)) null else row.get(i, dt)
          })
        val ord = orderOf(row)
        state.get(key) match {
          case Some((cur, _)) if cur > ord => () // older event: ignore
          case _ => state.update(key, (ord, row.copy()))
        }
      }

      override def commit(): WriterCommitMessage = {
        // survivors: winning non-tombstone rows → ordinary data files
        // through the INNER writer (field-id footers, partition split,
        // CHECK enforcement, stats/bloom/sum harvesting — everything a
        // plain append gets)
        val inner = new LakeWriterFactory(dir, rowSchema)
          .createWriter(0, java.util.UUID.randomUUID()
            .getLeastSignificantBits)
        var ok = false
        try {
          state.foreach { case (_, (_, row)) =>
            if (!tomb.exists(_.eval(row))) inner.write(row)
          }
          val m = inner.commit().asInstanceOf[LakeFileMessage]
          ok = true
          // partition-scoped grouping: the key's winning row (present
          // even for tombstones) carries the non-null key values the
          // spec's transforms evaluate over
          val groups: Seq[(Option[Seq[String]], Array[String])] =
            eqSpec match {
              case None => Seq((None, state.keys.toArray))
              case Some((sid, bound)) =>
                state.toSeq.groupBy { case (_, (_, row)) =>
                  LakePartitioning.versionedTuple(sid,
                    LakePartitioning.encodeTuple(
                      bound.map(_.evalRow(row, 0))))
                }.toSeq.map { case (t, kvs) =>
                  (Some(t): Option[Seq[String]], kvs.map(_._1).toArray)
                }
            }
          LakeUpsertMessage(m.files, groups)
        } finally if (!ok) inner.abort()
      }

      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
