package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.AsofJoin

/** Running per-user state for stream_user_state_timeout. */
case class UserRunning(n: Long, minMs: Long, maxMs: Long)

/** Finalized (timed-out) per-user row for stream_user_state_timeout. */
case class UserFinal(user_id: Long, n_events: Long, first_ms: Long, last_ms: Long)

/** Per-(user, event_type) count emitted at user finalization —
  * stream_transform_with_state.
  */
case class UserTypeCount(user_id: Long, event_type: String, n: Long)

/** The Spark 4 arbitrary-state API (`transformWithState`) exercised as a
  * declared query: per-user per-type counters in a composite MapState
  * (per-key sub-maps — the state shape `flatMapGroupsWithState`'s single
  * value blob can't express without serializing a whole map per update),
  * a ValueState for the user's last event time, and an explicit
  * EVENT-TIME TIMER re-armed to lastTs + horizon on every update. When
  * the watermark passes the timer, `handleExpiredTimer` emits the user's
  * per-type counts ONCE and clears all state — per-key state lives
  * exactly as long as the key is hot (the same bounded-state contract as
  * stream_user_state_timeout, expressed through the newer API the
  * ecosystem is converging on).
  */
class UserTypeCountProcessor(horizonMs: Long)
    extends StatefulProcessor[Long, (Long, String, java.sql.Timestamp), UserTypeCount] {
  @transient private var counts: MapState[String, Long] = _
  @transient private var lastTs: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    lastTs = getHandle.getValueState[Long](
      "lastTs", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[UserTypeCount] = {
    var mx = if (lastTs.exists()) lastTs.get() else Long.MinValue
    rows.foreach { case (_, tpe, ts) =>
      val cur = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
      counts.updateValue(tpe, cur + 1)
      // max fold — arrival-order-independent, so the unordered group
      // iterator is safe
      if (ts.getTime > mx) mx = ts.getTime
    }
    // exactly one live timer per key: re-arm to the new horizon
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(mx + horizonMs)
    lastTs.update(mx)
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[UserTypeCount] = {
    val out = counts.iterator()
      .map { case (tpe, n) => UserTypeCount(key, tpe, n) }.toList
    counts.clear()
    lastTs.clear()
    out.iterator
  }
}

/** Temporal operators over the `events` stream table: as-of join
  * (composed union+carry-forward — see [[graft.operators.AsofJoin]]) and
  * a Structured Streaming tumbling-window aggregation executed with
  * `Trigger.AvailableNow` (batch-as-stream), both oracle-checked —
  * DuckDB's native ASOF JOIN and a batch `date_trunc` reproduce them.
  */
object TemporalQueries {

  /** Events with ts truncated to milliseconds (engine-portable boundary
    * — sub-ms digits differ between Spark's µs timestamps and DuckDB's
    * ns) and, per (user, ms), only the max event_id kept, so the as-of
    * pick is unique on both engines.
    */
  private def dedupedEvents(s: SparkSession, dir: String,
                            eventType: String): DataFrame =
    Tables(s, dir, "events")
      .where(col("event_type") === eventType)
      .withColumn("ts_ms", timestamp_millis(unix_millis(col("ts"))))
      .groupBy("user_id", "ts_ms")
      .agg(max("event_id").as("event_id"))

  /** Session the stateful streaming queries run in: same SparkContext,
    * own SQLConf. Streaming state-store instances = shuffle partitions,
    * and each instance pays per-batch snapshot/commit overhead — at
    * harness state sizes, 32 stores cost far more in bookkeeping than
    * they buy in parallelism, so the streams run at 8 (a deployment
    * sizes this to state cardinality, not the batch session default).
    * State lives in RocksDB (bounded native memory, changelog commits)
    * rather than the default HDFS-backed heap map — the provider a
    * production cluster would run for exactly these unbounded-key-count
    * stores (stream-stream join buffers, dedup id sets).
    */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // Provider default is RocksDB (the at-scale choice; see scaladoc
    // above). Overridable because the tradeoff is measurable: at sf0.1
    // each stateful query pays a fixed per-(partition × store) native
    // instance spin-up that the heap-map provider doesn't — harness-scale
    // latency, not a data-scale slope. Set "hdfs" to time the heap path.
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER",
      s.conf.get("spark.graft.stream.stateProvider", "rocksdb"))
    if (provider != "hdfs")
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // propagate the batch-split knob (newSession starts from defaults):
    // LayoutInvarianceSpec varies it to prove the folds are
    // micro-batch-split independent
    ss.conf.set(MaxFilesKey, s.conf.get(MaxFilesKey, "32"))
    ss
  }

  /** How many lake files each micro-batch ingests (64 files / 32 = the
    * 2-batch minimum that still proves an incremental fold). Settable so
    * specs can re-run a stream under a different split and assert the
    * final store is identical.
    */
  private val MaxFilesKey = "spark.graft.stream.maxFilesPerTrigger"
  private def maxFilesPerTrigger(s: SparkSession): String =
    s.conf.get(MaxFilesKey, "32")

  /** Drain a harness streaming query, then release the JVM-wide
    * state-store provider cache. Loaded providers are keyed by
    * checkpoint and survive query termination; each finished query
    * leaves its RocksDB instances loaded, and the shared maintenance
    * pool then snapshots ALL of them every interval — later stream
    * queries in the same session pay that bill (bench: 23 s in-suite
    * vs 3.8 s isolated for stream_join_left_outer at sf0.1). Queries
    * here never resume from a kept checkpoint (streamDir wipes it), so
    * nothing useful is evicted; an in-flight query would simply reload
    * its stores lazily. On a cluster this is moot — each query's
    * stores live on its own executors and real deployments don't run
    * 15 unrelated stateful queries serially in one JVM.
    */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    // StateStore.stop() is JVM-global: it would tear down the loaded
    // providers and maintenance pool of ANY concurrently running
    // stateful query mid-batch. Harness execution is serial, but guard
    // anyway — evict only when this was the last active query, so a
    // user composing these queries with their own concurrent stream
    // gets correctness (lazy-reload is only a perf cost for US).
    if (q.sparkSession.streams.active.isEmpty)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** Shared body of the epoch-sink queries: drain the range stream
    * through the custom StreamingWrite (optionally with a declared
    * cluster-by distribution) and aggregate the read-back of the
    * published files. streamDir keys the root by (query, sf dir) and
    * wipes it at entry — same contract as every other streaming query.
    */
  private def drainThroughEpochSink(s: SparkSession, dir: String,
                                    name: String, end: Long, batchRows: Long,
                                    clusterBy: Option[String]): DataFrame = {
    val root = streamPath(name, dir)
    graft.Fixtures.once(s, dir, s"stream_$name") {
      streamDir(name, dir)
      var w = s.readStream.format("graft.sources.dsv2.RangeStreamSource")
        .option("end", end.toString)
        .option("batchRows", batchRows.toString)
        .option("slices", "8")
        .load()
        .select("id", "v", "tag")
        .writeStream
        .outputMode("append")
        .format("graft.sources.dsv2.EpochSink")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
      clusterBy.foreach(c => w = w.option("clusterby", c))
      drain(w.start())
    }
    s.read.schema("id LONG, v LONG, tag STRING")
      .csv(s"$root/out/data")
      .groupBy("tag")
      .agg(count(lit(1)).as("n"),
        sum("v").as("v_sum"),
        max("id").as("max_id"))
  }

  /** Sink+checkpoint root for a streaming query, keyed by (query, sf
    * dir) and wiped at entry: repeated Bench/Verify runs overwrite ONE
    * deterministic directory instead of accumulating fresh
    * `createTempDirectory` trees (unbounded tmp growth otherwise). The
    * wipe also guarantees each run starts from a clean checkpoint, so a
    * changed query never trips state-schema incompatibility.
    */
  /** The stream scratch root WITHOUT the wipe — for reads resolving a
    * sink a memoized fixture ([[graft.Fixtures.once]]) already drained.
    */
  private def streamPath(name: String, dir: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), "graft-stream", s"$name-$key")
      .toString
  }

  private def streamDir(name: String, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft-stream", s"$name-$key")
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
    Files.createDirectories(root)
    root.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // as-of: for each purchase, the user's most recent signup at-or-
    // before it — one shuffle (window), no range explosion
    "join_asof" -> ((s, dir) => {
      val purchases = dedupedEvents(s, dir, "purchase")
        .select(col("user_id"), col("ts_ms").as("p_ts"),
          col("event_id").as("purchase_id"))
      val signups = dedupedEvents(s, dir, "signup")
        .select(col("user_id"), col("ts_ms").as("s_ts"),
          col("event_id").as("signup_id"))
      AsofJoin.asofJoin(
          purchases, signups, key = "user_id",
          leftTime = "p_ts", rightTime = "s_ts",
          rightId = "signup_id", carried = Seq("signup_id"))
        .select(col("purchase_id"), col("asof_signup_id").as("signup_id"))
    }),

    // As-of with a STALENESS BOUND — the feature-store point-in-time
    // contract: the latest at-or-before match is taken only if it is
    // young enough (here ≤ 7 days); a stale match is REJECTED, never
    // replaced by an even-older row. Same one-shuffle union+window
    // shape as join_asof — the bound is a post-filter on the carried
    // right time, so the operator's cost contract is unchanged; what
    // changes is semantics (a training pipeline must drop stale
    // features, not silently reach further into the past).
    "join_asof_tolerance" -> ((s, dir) => {
      val tolMs = 7L * 24 * 3600 * 1000
      val purchases = dedupedEvents(s, dir, "purchase")
        .select(col("user_id"), col("ts_ms").as("p_ts"),
          col("event_id").as("purchase_id"))
      val signups = dedupedEvents(s, dir, "signup")
        .select(col("user_id"), col("ts_ms").as("s_ts"),
          col("event_id").as("signup_id"))
      AsofJoin.asofJoin(
          purchases, signups, key = "user_id",
          leftTime = "p_ts", rightTime = "s_ts",
          rightId = "signup_id", carried = Seq("signup_id", "s_ts"))
        .select(col("purchase_id"),
          col("asof_signup_id").as("signup_id"),
          (unix_millis(col("p_ts")) - unix_millis(col("asof_s_ts")))
            .as("age_ms"))
        .where(col("age_ms") <= tolMs)
    }),

    // Interval-overlap join, banded: which maintenance windows did each
    // user session overlap? Both interval sets explode into fixed-width
    // time buckets; candidates meet ONLY inside a shared bucket (join on
    // bucket + exact overlap predicate, dedup) — the scalable interval
    // join: O(intervals × avg buckets), never the all-pairs product.
    // Windows are derived deterministically (45-min windows anchored at
    // the corpus start, spaced 97 min per orders key < 50).
    "join_interval_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
      val acc = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"))
      val sessions = e
        .withColumn("new_session",
          when(lag(col("t"), 1).over(order).isNull ||
            col("t") - lag(col("t"), 1).over(order) > 1800000L, 1).otherwise(0))
        .withColumn("session_id", sum("new_session").over(acc).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(min("t").as("s0"), max("t").as("s1"))
      val t0 = e.agg(min("t").as("t0"))
      val windows = Tables(s, dir, "orders")
        .where(col("o_orderkey") < 50)
        .select(col("o_orderkey").as("w_id"))
        .crossJoin(broadcast(t0)) // 1-row scalar
        .select(col("w_id"), (col("t0") + col("w_id") * 97L * 60000L).as("w0"))
        .withColumn("w1", col("w0") + 45L * 60000L)
      val bucket = 3600000L // 1-hour bands
      val sb = sessions.withColumn("b",
        explode(sequence(expr(s"s0 div $bucket"), expr(s"s1 div $bucket"))))
      val wb = windows.withColumn("b",
        explode(sequence(expr(s"w0 div $bucket"), expr(s"w1 div $bucket"))))
      sb.join(broadcast(wb), Seq("b"))
        .where(col("s0") <= col("w1") && col("w0") <= col("s1"))
        .select(col("user_id"), col("session_id"), col("w_id"),
          (least(col("s1"), col("w1")) - greatest(col("s0"), col("w0")))
            .as("overlap_ms"))
        .distinct()
    }),

    // forward as-of: for each error event, the user's NEXT signup
    // at-or-after it (next-event lookup) — same one-shuffle shape,
    // time direction reversed
    "join_asof_forward" -> ((s, dir) => {
      val errors = dedupedEvents(s, dir, "error")
        .select(col("user_id"), col("ts_ms").as("e_ts"),
          col("event_id").as("error_id"))
      val signups = dedupedEvents(s, dir, "signup")
        .select(col("user_id"), col("ts_ms").as("s_ts"),
          col("event_id").as("signup_id"))
      AsofJoin.asofJoinForward(
          errors, signups, key = "user_id",
          leftTime = "e_ts", rightTime = "s_ts",
          rightId = "signup_id", carried = Seq("signup_id"))
        .select(col("error_id"), col("asof_signup_id").as("signup_id"))
    }),

    // gap-based sessionization (30-min inactivity closes a session):
    // lag -> new-session flag -> running sum = session id -> per-session
    // aggregates. Two windows + one groupBy, all on the user_id shuffle.
    "events_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy("user_id")
        .orderBy(col("t"), col("event_id"))
      val acc = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(unix_millis(col("ts"))).as("t"))
        .withColumn("new_session",
          when(lag(col("t"), 1).over(order).isNull ||
            unix_millis(col("t")) - unix_millis(lag(col("t"), 1).over(order))
              > 1800000L, 1).otherwise(0))
        .withColumn("session_id", sum("new_session").over(acc).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("t").as("session_start"), max("t").as("session_end"))
    }),

    // the same gap sessionization through Spark's NATIVE session_window
    // (the builtin the manual window formulation above complements; in
    // streaming it is the stateful merging-session operator). Boundary
    // semantics differ from the manual form by design: session_window
    // merges events whose gap is STRICTLY LESS than the duration, so an
    // exactly-30-minute gap splits — the oracle mirrors that with >=.
    "events_session_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("user_id"),
          timestamp_millis(unix_millis(col("ts"))).as("t"))
        .groupBy(col("user_id"),
          session_window(col("t"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end_w"), col("n_events"))),

    // the same sessionization through the typed API
    // (KeyValueGroupedDataset.flatMapGroups): per-user events sorted and
    // walked imperatively — the typed escape hatch for logic awkward as
    // window algebra. Bounded per-key data is the contract (a user's
    // events fit one task); result must equal the window formulation,
    // so it shares events_sessionize's oracle shape.
    "events_sessionize_typed" -> ((s, dir) => {
      import s.implicits._
      val sessions = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("t"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (user: Long, it: Iterator[(Long, Long, Long)]) =>
          val evs = it.map { case (_, id, t) => (t, id) }.toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Long, Long)]
          var sid = 0L; var n = 0L
          var start = 0L; var end = 0L; var prev = Long.MinValue
          def flush(): Unit =
            if (n > 0) out += ((user, sid, n, start, end))
          evs.foreach { case (t, _) =>
            if (prev == Long.MinValue || t - prev > 1800000L) {
              flush(); sid += 1; n = 0; start = t
            }
            n += 1; end = t; prev = t
          }
          flush()
          out
        }
        .toDF("user_id", "session_id", "n_events", "s_ms", "e_ms")
      sessions.select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_millis(col("s_ms")).as("session_start"),
        timestamp_millis(col("e_ms")).as("session_end"))
    }),

    // The production streaming shape: the same tumbling 1-hour counts,
    // but APPEND mode with a 2-hour watermark into a file sink — state
    // is evicted as the watermark passes each window and the sink only
    // ever receives finalized rows, so neither grows without bound
    // (contrast stream_events_window below, which demonstrates
    // complete-mode + memory sink: fine as an oracle harness, wrong at
    // scale). With AvailableNow the watermark lands at max(ts) - 2h
    // after the data batch and the trailing no-data batch flushes every
    // window whose end <= watermark; the last two hours of windows stay
    // in state — exactly what a resumed stream would finalize next run.
    // The oracle reproduces that boundary in batch SQL.
    "stream_events_hourly_append" -> ((s0, dir) => {
      val s = streamSession(s0)
      val tmp = streamPath("hourly_append", dir)
      graft.Fixtures.once(s, dir, "stream_hourly_append") {
        streamDir("hourly_append", dir)
        val q = Tables.eventsStream(s, dir)
          // ms truncation (integer floor): engine-portable watermark
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .count()
          .select(col("window.start").as("hour_start"), col("event_type"),
            col("count").as("n"))
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
      }
      // explicit schema: the sink dir may contain zero files if every
      // window were still within the watermark horizon
      s.read.schema(StructType(Seq(
          StructField("hour_start", TimestampType),
          StructField("event_type", StringType),
          StructField("n", LongType))))
        .parquet(s"$tmp/out")
    }),

    // session windows UNDER STREAMING: the same strict-gap merge
    // semantics as the batch events_session_window, but stateful — open
    // sessions live in the state store and append emits a session only
    // once the watermark passes its end (last event + gap), i.e. once no
    // future event could extend it. With AvailableNow the data batch
    // runs at watermark 0 and a final empty batch flushes every session
    // whose end <= max(ts) - 2h; the last two hours of sessions stay in
    // state for the next run — the oracle reproduces that boundary in
    // batch SQL. State is per-(user, open-session), evicted on emit:
    // bounded by ACTIVE sessions, not history — the property that makes
    // streaming sessionization viable on an unbounded event feed.
    "stream_session_window" -> ((s0, dir) => {
      val s = streamSession(s0)
      val tmp = streamPath("session_window", dir)
      graft.Fixtures.once(s, dir, "stream_session_window") {
        streamDir("session_window", dir)
        val q = Tables.eventsStream(s, dir)
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
          .withWatermark("ts", "2 hours")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("w.start").as("session_start"),
            col("w.end").as("session_end_w"), col("n_events"))
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("session_start", TimestampType),
          StructField("session_end_w", TimestampType),
          StructField("n_events", LongType))))
        .parquet(s"$tmp/out")
    }),

    // Funnel analysis: how many users progress view → click → purchase,
    // each stage constrained to happen AT-OR-AFTER the previous stage's
    // first event (not mere type presence — ordering matters). Three
    // stage aggregations, each a groupBy on user_id; after the first
    // shuffle the per-user frames are co-partitioned, so later stages
    // re-shuffle only the (smaller) filtered event stream.
    // event-transition mining: which event follows which — the n-gram
    // view of behavioral streams (the same shape tokenizes user journeys
    // for sequence models). One window pass per user (lead over the same
    // (ts, event_id) total order the sessionizers use), one partial-agg'd
    // groupBy over the |event_types|² transition matrix, and a heap
    // top-10 (TakeOrderedAndProject — never a full sort). Total order
    // tiebreak on event_id makes the transition stream deterministic
    // under concurrent same-ms events.
    // Resample + gap-fill — the time-series normalization every metric
    // pipeline needs: events land irregularly, consumers want a FIXED
    // hourly grid per series with empty hours explicit (n=0) and the
    // last observed hourly mean carried forward. Scale shape: the
    // corpus collapses to grid cells FIRST (one partial-agg'd groupBy —
    // the only shuffle that sees event rows); the grid itself is
    // |series|×|hours| metadata (a sequence() explode off a 2-value
    // bounds aggregate), and the carry-forward window runs over grid
    // cells, not events — at 100 TB the window input is still just
    // hours×series. Mean is DECIMAL-exact-sum over count, rounded at 6
    // (a binary double never lands on the 5e-7 tie, so both engines
    // round alike).
    "events_resample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "events")
        .select(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"), col("value"))
      val hourly = e.groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1)), 6).as("avg6"))
      val grid = e.agg(min("hour").as("h0"), max("hour").as("h1"))
        .select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hour"))
        .crossJoin(broadcast(e.select("event_type").distinct()))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hour"), "left_outer")
        .select(col("event_type"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("avg6"), ignoreNulls = true).over(w).as("avg6_ffill"))
    }),

    // CUSUM changepoint detection, INTEGER-exact: the classic "where
    // did the level shift" scan over a daily series. The textbook form
    // accumulates (count − mean) in floats; multiplying through by the
    // day count clears the fraction — dev = c·ndays − total — so the
    // cumulative sum is pure int64 arithmetic with no rounding anywhere
    // and the argmax day cannot move between engines. Scale shape:
    // events collapse to (type, day) cells first (the only shuffle that
    // sees raw rows); the running sum and argmax run over the tiny
    // daily grid per type via a bounded top-1.
    "events_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val stats = daily.groupBy("event_type")
        .agg(sum("c").as("total"), count(lit(1)).as("ndays"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cu = daily.join(stats, "event_type")
        .withColumn("cusum",
          sum(col("c") * col("ndays") - col("total")).over(w))
      graft.plans.TopKPerKey
        .topK(cu.withColumn("acs", abs(col("cusum"))), "event_type",
          Seq(("acs", true), ("day", false)), 1)
        .select(col("event_type"), col("day").cast("string").as("cp_day"),
          col("cusum").as("cusum_scaled"))
    }),

    "events_top_paths" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tms"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("tms"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("from_type"), col("to_type"))
        .limit(10)
    }),

    "events_funnel" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("tms"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("tms").as("vt"))
      val c = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("tms") >= col("vt"))
        .groupBy("user_id").agg(min("tms").as("ct"))
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("tms") >= col("ct"))
        .groupBy("user_id").agg(min("tms").as("pt"))
      v.agg(count(lit(1)).as("n_users"))
        .select(lit("view").as("stage"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit("click_after_view").as("stage"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit("purchase_after_click").as("stage"), col("n_users")))
    }),

    // Stream-stream join: clicks joined to same-user views within ±30
    // minutes — the canonical streaming enrichment. Both sides carry a
    // 1-hour watermark and the join has an explicit event-time band, so
    // each side's state is EVICTABLE: a buffered view can be dropped
    // once the watermark passes its ts + 30 min (without the band, a
    // stream-stream join buffers forever). Inner join → append mode;
    // matches land in a file sink and the batch oracle reproduces the
    // same time-band join.
    "stream_click_view_join" -> ((s0, dir) => {
      val s = streamSession(s0)
      val tmp = streamPath("click_view_join", dir)
      graft.Fixtures.once(s, dir, "stream_click_view_join") {
        streamDir("click_view_join", dir)
        def stream = Tables.eventsStream(s, dir)
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        val clicks = stream.where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("cts"))
          .withWatermark("cts", "1 hour")
        val views = stream.where(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
            col("ts").as("vts"))
          .withWatermark("vts", "1 hour")
        val q = clicks.join(views,
            col("c_user") === col("v_user") &&
              col("vts") >= col("cts") - expr("INTERVAL 30 MINUTES") &&
              col("vts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
          .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("click_id", LongType),
          StructField("view_id", LongType))))
        .parquet(s"$tmp/out")
    }),

    // Streaming dedup-on-ingest: the arrival stream carries duplicate
    // deliveries (at-least-once sources do); dropDuplicatesWithinWatermark
    // keys state on event_id and EVICTS it as the watermark passes — the
    // bounded-state form of streaming dedup (plain dropDuplicates keeps
    // every id forever). Duplicate arrivals are injected for event_id % 4
    // == 0 (the fixture's ids are unique), the deduped stream lands in a
    // file sink, and the result aggregates the sink — equal to the
    // original stream iff every injected duplicate was dropped.
    "stream_dedup_ids" -> ((s0, dir) => {
      val s = streamSession(s0)
      val tmp = streamPath("dedup_ids", dir)
      graft.Fixtures.once(s, dir, "stream_dedup_ids") {
        streamDir("dedup_ids", dir)
        val q = Tables.eventsStream(s, dir)
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
          .withColumn("_copies",
            when(col("event_id") % 4 === 0, array(lit(1), lit(2)))
              .otherwise(array(lit(1))))
          .select(col("event_id"), col("ts"), col("event_type"),
            explode(col("_copies")).as("_c"))
          .drop("_c")
          .withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampType),
          StructField("event_type", StringType))))
        .parquet(s"$tmp/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct("event_id").as("n_ids"))
    }),

    // Cohort retention: users grouped by first-activity week, counted
    // in each subsequent activity week — the canonical product-analytics
    // rollup. All integer week arithmetic from one scalar anchor (min
    // ts, broadcast as a 1-row crossJoin), then two groupBys: per-user
    // first week, then (cohort, offset) distinct-user counts. No
    // windows, no self-join — at 100 TB this is two partial-agg'd
    // shuffles on user_id and on the (cohort, offset) pair.
    // SLIDING windows (1 h span, 15 min slide): each event lands in 4
    // overlapping windows — Spark explodes the assignment at scan time
    // and the aggregation partial-combines per (window, type) before one
    // shuffle, so the 4x row amplification never crosses the wire as raw
    // events. The money-style value sum goes through exact DECIMAL so
    // overlap-order never changes it. (The tumbling form is
    // stream_events_window; sliding is the alerting/trend shape.)
    "events_sliding_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(timestamp_millis(unix_millis(col("ts"))).as("t"),
          col("event_type"), col("value"))
        .groupBy(window(col("t"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double")
            .as("val_sum"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("val_sum"))),

    // robust outlier detection per event type: median + MAD (median
    // absolute deviation) via EXACT order statistics (percentile_disc —
    // engine-portable where approx sketches are not), then a 5-MAD
    // fence. Two grouped passes over the stream plus a broadcast join of
    // the tiny per-type stats — the standard scale shape for robust
    // stats (mean/stddev would be one pass but a single fat-finger value
    // drags both; median/MAD don't budge).
    "events_anomaly_mad" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
      val med = e.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
          .as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count_if(col("adev") > col("mad") * 5).as("n_outliers"),
          round(min(col("med")), 6).as("med6"),
          round(min(col("mad")), 6).as("mad6"))
    }),

    "events_retention" -> ((s, dir) => {
      val weekMs = 7L * 24 * 3600 * 1000
      val e = Tables(s, dir, "events")
        .select(col("user_id"), unix_millis(col("ts")).as("t"))
      val t0 = e.agg(min("t").as("t0"))
      val weeks = e.crossJoin(broadcast(t0)) // 1-row scalar
        .select(col("user_id"),
          ((col("t") - col("t0")) / weekMs).cast("long").as("wk"))
      val cohorts = weeks.groupBy("user_id").agg(min("wk").as("cohort_week"))
      weeks.join(cohorts, "user_id")
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // foreachBatch incremental upsert — the sink escape hatch a real
    // deployment uses when the target is a keyed serving store rather
    // than an append log. The 4-snapshot history lake arrives as a
    // STREAM (maxFilesPerTrigger forces multiple micro-batches under
    // AvailableNow); each batch MERGEs into the store with newest-
    // importdate-wins semantics. The fold compares importdate, not
    // arrival order, so the result is batch-split independent — the
    // property that makes a foreachBatch merge safe under retries and
    // file-arrival reordering. The store is VERSIONED per batch (write
    // the merge to a new dir, then drop the old): reading the previous
    // version while writing the next needs no defensive materialization,
    // and a production restart re-derives the current version from the
    // last batch id in the checkpoint. Result: per snapshot, how many
    // keys' LATEST version it still owns.
    "stream_foreachbatch_upsert" -> ((s0, dir) => {
      val s = streamSession(s0)
      val store = graft.Fixtures.onceValue(s, dir, "stream_feb_upsert") {
        val root = graft.sources.AgencyLake.ensureHistory(s, dir)
        val tmp = streamDir("feb_upsert", dir)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("importdate", StringType)))
        val fs = graft.sources.dsv2.LakeFs(s).fs(s"file://$tmp")
        // 64 lake files / 32 per trigger = 2 micro-batches: the minimum
        // that still proves the incremental fold (batch count does not
        // change the result — the per-batch streaming machinery is the
        // dominant harness cost, so the demo runs at the cheapest
        // multi-batch shape)
        var current: Option[String] = None // driver-side; batches run sequentially
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger(s))
          .parquet(root)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val incoming = batch.select("o_orderkey", "o_orderstatus",
              "o_totalprice", "importdate")
            val merged = current match {
              case Some(prev) => s.read.parquet(prev).unionByName(incoming)
              case None       => incoming
            }
            val next = s"$tmp/store-$id"
            graft.plans.TopKPerKey
              .topK(merged, "o_orderkey", Seq(("importdate", true)), 1)
              .drop("rank")
              .write.mode("overwrite").parquet(next)
            current.foreach(p =>
              fs.delete(new org.apache.hadoop.fs.Path(p), true))
            current = Some(next)
            () // discard the last expression so the lambda is Unit
          }
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
        current.getOrElse(sys.error("stream produced no batches"))
      }
      s.read.parquet(store)
        .groupBy(col("importdate").cast("string").as("importdate"))
        .agg(count(lit(1)).as("n_keys"))
    }),

    // Count-Min cells maintained ACROSS micro-batches — the streaming
    // face of the sketch family, and the property that justifies
    // sketches at 100 TB: CMS cells are a commutative monoid (cell-wise
    // sum), so per-batch cells MERGE into the running state without
    // ever revisiting history, and the final grid is bit-identical to a
    // batch build over all data — which is exactly what the oracle
    // computes. Same versioned-store discipline as the upsert query;
    // only the 3×64 cell grid is ever state. The final probe estimates
    // all 100 items from the merged cells alone.
    "stream_cms_merge" -> ((s0, dir) => {
      val s = streamSession(s0)
      val W = 64
      def bucket(d: Int) =
        conv(substring(md5(concat(lit(s"cms$d|"), col("item"))), 1, 8),
          16, 10).cast("long") % W
      val store = graft.Fixtures.onceValue(s, dir, "stream_cms_merge") {
        val root = graft.sources.AgencyLake.ensureHistory(s, dir)
        val tmp = streamDir("cms_merge", dir)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("importdate", StringType)))
        val fs = graft.sources.dsv2.LakeFs(s).fs(s"file://$tmp")
        var current: Option[String] = None // batches run sequentially
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger(s))
          .parquet(root)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val wi = batch
              .select((col("o_orderkey") % 100).cast("string").as("item"))
            val batchCells = (0 to 2).map(d =>
              wi.groupBy(bucket(d).as("b")).agg(count(lit(1)).as("c"))
                .select(lit(d).as("d"), col("b"), col("c")))
              .reduce(_ unionByName _)
            val merged = current match {
              case Some(prev) => s.read.parquet(prev).unionByName(batchCells)
                .groupBy("d", "b").agg(sum("c").as("c"))
              case None => batchCells
            }
            val next = s"$tmp/store-$id"
            merged.write.mode("overwrite").parquet(next)
            current.foreach(p =>
              fs.delete(new org.apache.hadoop.fs.Path(p), true))
            current = Some(next)
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
        current.getOrElse(sys.error("stream produced no batches"))
      }
      val cells = s.read.parquet(store)
      val items = s.range(100).select(col("id").cast("string").as("item"))
      val probes = (0 to 2).map(d =>
        items.select(col("item"), lit(d).as("d"), bucket(d).as("b")))
        .reduce(_ unionByName _)
      // left join: CMS semantics say a probed cell with no entry counts
      // as 0 (min over cells), so an item whose cell is empty gets
      // est=0 instead of silently vanishing from the output
      probes.join(cells, Seq("d", "b"), "left")
        .groupBy("item")
        .agg(min(coalesce(col("c"), lit(0L))).as("est"))
        .select(col("item").cast("long").as("item"), col("est"))
    }),

    // Ordered-sequence funnel, WINDOWED formulation (signup → click →
    // purchase): per user, each stage's timestamp is the MIN event time
    // at-or-after the previous stage. `events_funnel` computes its
    // funnel with three per-stage self-joins; this is the plan a 100 TB
    // deployment wants instead — three CHAINED conditional-min windows
    // over ONE user_id partitioning, so the single hash exchange is
    // reused by every window pass and the event table is scanned once,
    // no self-joins. Millisecond-exact integer times on both engines.
    "events_funnel_windowed" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("t"))
      val staged = e
        .withColumn("t1",
          min(when(col("event_type") === "signup", col("t"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("t") >= col("t1"),
            col("t"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("t") >= col("t2"),
            col("t"))).over(w))
      staged.groupBy().agg(
        countDistinct(when(col("t1").isNotNull, col("user_id")))
          .as("n_signup"),
        countDistinct(when(col("t2").isNotNull, col("user_id")))
          .as("n_click_after"),
        countDistinct(when(col("t3").isNotNull, col("user_id")))
          .as("n_purchase_after"))
    }),

    // Sequence-pattern matching WITH NEGATION — the MATCH_RECOGNIZE
    // shape (Flink CEP / Trino row-pattern) Spark has no keyword for:
    // a `view` matches iff the user's first `click` inside the next
    // 10 minutes exists AND no `error` lands strictly between them.
    // Composed as two conditional mins over RANGE-framed windows on the
    // SAME user_id exchange (one shuffle total, like the funnel): for
    // each event, next_click / next_err = min event-time of that type in
    // (t, t+10 min]; a view matches when next_click exists and next_err
    // isn't earlier. The negation needs no anti-join and no per-row
    // subscan — at 100 TB the pattern costs exactly one user-key sort.
    // Frames are on the millisecond long (value-based RANGE, engine
    // identical); the (1, 600000] frame excludes same-ms ties by
    // construction, so the match set is deterministic on both engines.
    "events_match_negation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("t")
        .rangeBetween(1, 600000)
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("t"))
      e.withColumn("next_click",
          min(when(col("event_type") === "click", col("t"))).over(w))
        .withColumn("next_err",
          min(when(col("event_type") === "error", col("t"))).over(w))
        .where(col("event_type") === "view")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_views"),
          count(when(col("next_click").isNotNull &&
            (col("next_err").isNull ||
              col("next_err") >= col("next_click")), lit(1)))
            .as("n_matched"))
        .where(col("n_matched") > 0)
    }),

    // MinHash signature INDEX maintained across micro-batches — the
    // streaming completion of the dedup-index arc (batch build →
    // doc_dedup_incremental's snapshot merge → this): shingle rows
    // arrive round-robin-split across files, so ONE DOC'S SHINGLE SET
    // SPANS BATCHES and the store fold is a real sketch merge, not an
    // append — per-component signature mins min-merge and the
    // shingle-set size sum-merges (each distinct shingle arrives exactly
    // once). The folded store is bit-identical to a batch-built
    // signature table, which the oracle proves by deriving the banded
    // candidate buckets from the full corpus from scratch. Same
    // versioned-store discipline as the upsert/CMS queries.
    "stream_minhash_index" -> ((s0, dir) => {
      val s = streamSession(s0)
      val store = graft.Fixtures.onceValue(s, dir, "stream_minhash_index") {
      val tmp = streamDir("minhash_index", dir)
      val srcDir = s"$tmp/src"
      graft.operators.TextDedup
        .shingles(Tables(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text")
        .repartition(8) // spread each doc's shingles across files
        .write.mode("overwrite").parquet(srcDir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("shingle", StringType)))
      val fs = graft.sources.dsv2.LakeFs(s).fs(s"file://$tmp")
      var current: Option[String] = None // batches run sequentially
      val q = s.readStream.schema(schema)
        // 8 files / 4 = 2 batches — the cheapest shape that still
        // splits every doc's shingle set across batches (round-robin
        // spread), which is what makes the fold a real sketch merge.
        // LayoutInvarianceSpec halves the split knob to prove the fold
        // is batch-split independent.
        .option("maxFilesPerTrigger",
          math.max(1, maxFilesPerTrigger(s).toInt / 8).toString)
        .parquet(srcDir)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val part = graft.operators.TextDedup.minhashSignature(batch)
          val merged = current match {
            case Some(prev) => s.read.parquet(prev).unionByName(part)
              .groupBy("doc_id")
              .agg(min("m0").as("m0"),
                (1 until 8).map(i => min(s"m$i").as(s"m$i")) :+
                  sum("sz").as("sz"): _*)
            case None => part
          }
          val next = s"$tmp/store-$id"
          merged.write.mode("overwrite").parquet(next)
          current.foreach(p =>
            fs.delete(new org.apache.hadoop.fs.Path(p), true))
          current = Some(next)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      drain(q)
      current.getOrElse(sys.error("stream produced no batches"))
      }
      val sigs = s.read.parquet(store)
      graft.operators.TextDedup.bandBuckets(sigs)
        .groupBy(col("band").cast("long").as("band"), col("key"))
        .agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") > 1)
    }),

    // Stream-static enrichment: the arriving event stream joined to a
    // STATIC dimension (per-user segment). Unlike the stream-stream join
    // there is NO state and NO watermark requirement — the static side
    // is (re)read and hash-joined per micro-batch, so the join is
    // stateless and append-safe by construction; at scale the dim is
    // broadcast and the stream never shuffles. The enriched stream lands
    // in a file sink; the result aggregates the sink per (event_type,
    // segment) and the batch oracle reproduces the same join + rollup.
    "stream_static_enrich" -> ((s0, dir) => {
      val s = streamSession(s0)
      val tmp = streamPath("static_enrich", dir)
      graft.Fixtures.once(s, dir, "stream_static_enrich") {
        streamDir("static_enrich", dir)
        // the static side: a genuine batch DataFrame (derived per-user
        // segment), exactly what a dim table is to a live stream
        val dim = Tables(s, dir, "events")
          .select(col("user_id")).distinct()
          .withColumn("segment", concat(lit("seg"), (col("user_id") % 5)))
        val q = Tables.eventsStream(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .join(dim, "user_id")
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("user_id", LongType), StructField("event_id", LongType),
          StructField("event_type", StringType), StructField("segment", StringType))))
        .parquet(s"$tmp/out")
        .groupBy("event_type", "segment")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
    }),

    // Custom streaming state: flatMapGroupsWithState with an EVENT-TIME
    // timeout. Per user, state accumulates (count, first ts, last ts);
    // nothing is emitted while the user stays active. When the watermark
    // passes lastTs + 2h (the timeout this query sets after every
    // update), the group times out: the finalized row is emitted ONCE
    // and the state removed — per-key state lives exactly as long as
    // the key is hot, the unbounded-key-count shape a 100 TB stream
    // needs. Append mode + file sink. With AvailableNow the final
    // watermark is max(ts) - 2h, so exactly the users idle for > 4h
    // before corpus end finalize (timeout fires when timeoutTs <
    // watermark — strict, mirrored in the oracle); active users stay
    // buffered for the next run, like any resumed stream.
    "stream_user_state_timeout" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      val tmp = streamPath("user_state_timeout", dir)
      graft.Fixtures.once(s, dir, "stream_user_state_timeout") {
      streamDir("user_state_timeout", dir)
      val horizonMs = 2 * 3600 * 1000L
      val q = Tables.eventsStream(s, dir)
        .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[UserRunning, UserFinal](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          case (uid, rows, state) =>
            if (state.hasTimedOut) {
              val st = state.get
              state.remove()
              Iterator.single(UserFinal(uid, st.n, st.minMs, st.maxMs))
            } else {
              // min/max/count folds are arrival-order-independent, so
              // the unordered group iterator is safe (a sum of doubles
              // here would not be deterministic)
              val st = rows.foldLeft(
                state.getOption.getOrElse(
                  UserRunning(0L, Long.MaxValue, Long.MinValue))) { (a, r) =>
                val ms = r._2.getTime
                UserRunning(a.n + 1, math.min(a.minMs, ms), math.max(a.maxMs, ms))
              }
              state.update(st)
              state.setTimeoutTimestamp(st.maxMs + horizonMs)
              Iterator.empty
            }
        }
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("user_id", LongType), StructField("n_events", LongType),
          StructField("first_ms", LongType), StructField("last_ms", LongType))))
        .parquet(s"$tmp/out")
    }),

    // The NEXT-GENERATION arbitrary-state tier: the same finalize-on-idle
    // contract as stream_user_state_timeout, through Spark 4's
    // transformWithState — typed composite state (MapState of per-type
    // counters + ValueState last-seen) and an EXPLICIT event-time timer
    // per key instead of the single setTimeoutTimestamp slot. The
    // processor (UserTypeCountProcessor above) re-arms its timer on every
    // update; when the watermark passes it, the user's per-type counts
    // emit once and state clears. Timers fire on timerExpiry < watermark
    // (strict — mirrored in the oracle, same boundary the
    // flatMapGroupsWithState query pins). RocksDB-backed like the other
    // stateful streams.
    "stream_transform_with_state" -> ((s0, dir) => {
      val s = streamSession(s0)
      import s.implicits._
      val tmp = streamPath("transform_with_state", dir)
      graft.Fixtures.once(s, dir, "stream_transform_with_state") {
      streamDir("transform_with_state", dir)
      val horizonMs = 2 * 3600 * 1000L
      val q = Tables.eventsStream(s, dir)
        .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("event_type"), col("ts"))
        .as[(Long, String, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(new UserTypeCountProcessor(horizonMs),
          TimeMode.EventTime(), OutputMode.Append())
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("n", LongType))))
        .parquet(s"$tmp/out")
    }),

    // Stream-stream LEFT OUTER join — the eviction-emission semantics
    // inner joins don't have: a buffered click whose join band the
    // watermark has fully passed is EVICTED, and eviction is when its
    // null-extended row emits (append mode can emit "no match" only once
    // no match can ever arrive). Matched pairs emit on match like the
    // inner join; unmatched clicks with band end still above the final
    // watermark stay buffered (absent from the sink), exactly like any
    // resumed stream. Same ±30 min band and 1 h watermarks as
    // stream_click_view_join, so the two sinks differ only by the
    // null-extended rows — the semantics under test.
    "stream_join_left_outer" -> ((s0, dir) => {
      val s = streamSession(s0)
      val tmp = streamPath("join_left_outer", dir)
      graft.Fixtures.once(s, dir, "stream_join_left_outer") {
        streamDir("join_left_outer", dir)
        def stream = Tables.eventsStream(s, dir)
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        val clicks = stream.where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
            col("ts").as("cts"))
          .withWatermark("cts", "1 hour")
        val views = stream.where(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
            col("ts").as("vts"))
          .withWatermark("vts", "1 hour")
        val q = clicks.join(views,
            col("c_user") === col("v_user") &&
              col("vts") >= col("cts") - expr("INTERVAL 30 MINUTES") &&
              col("vts") <= col("cts") + expr("INTERVAL 30 MINUTES"),
            "left_outer")
          .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        drain(q)
      }
      s.read.schema(StructType(Seq(
          StructField("user_id", LongType),
          StructField("click_id", LongType),
          StructField("view_id", LongType))))
        .parquet(s"$tmp/out")
    }),

    // Structured Streaming: tumbling 1-hour counts per event type,
    // executed as a stream over the parquet with Trigger.AvailableNow
    // into a memory sink, then read back as the result
    // The custom MicroBatchStream source (sources/dsv2/
    // RangeMicroBatchStream) driven end-to-end: Trigger.AvailableNow
    // drains the pinned [0, end) range in admission-controlled
    // batchRows-sized micro-batches (100 000 / 20 000 = 5 batches — the
    // batch count and per-batch row cap are pinned in
    // Round9cQueriesSpec), offsets flowing through the checkpoint log.
    // The aggregate is batch-split independent, and the oracle is the
    // same generator arithmetic the batch DSv2 oracle uses — one oracle
    // covers both halves of the custom-source seam.
    "stream_dsv2_source" -> ((s, _) => {
      val qn = "stream_dsv2_source_sink"
      s.streams.active.filter(_.name == qn).foreach(_.stop())
      val q = s.readStream.format("graft.sources.dsv2.RangeStreamSource")
        .option("end", "100000")
        .option("batchRows", "20000")
        .option("slices", "8")
        .load()
        .groupBy("tag")
        .agg(count(lit(1)).as("n"),
          sum("v").as("v_sum"),
          max("id").as("max_id"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .trigger(Trigger.AvailableNow())
        .start()
      drain(q)
      s.table(qn)
    }),

    // The custom StreamingWrite sink (sources/dsv2/EpochSink) driven
    // end-to-end against the custom MicroBatchStream source: the drained
    // range is staged per (epoch, partition, task), published by the
    // driver's epoch commit, and recorded in _commits markers that make
    // a replayed epoch a no-op (exactly-once; the replay/abort protocol
    // itself is pinned in Dsv2EpochSinkSpec). The aggregate runs over
    // the READ-BACK of the sink's published files, so oracle equality
    // proves the sink published every row exactly once — the same
    // generator arithmetic oracles the source, the sink, and the
    // pushdown variants.
    "stream_dsv2_sink" -> ((s, dir) =>
      drainThroughEpochSink(s, dir, "dsv2_sink",
        end = 100000, batchRows = 20000, clusterBy = None)),

    // The clustered-write contract as a declared query: the sink
    // requires distribution+ordering on tag, Spark plans the exchange
    // pre-write, and within each epoch no tag spans two published
    // files (a multi-epoch run publishes one clustered file set per
    // epoch — this drain is single-epoch, so the per-run layout
    // contract pinned in Dsv2EpochSinkSpec holds absolutely; the
    // oracle checks the values survived the clustered route exactly
    // once).
    "stream_dsv2_sink_clustered" -> ((s, dir) =>
      drainThroughEpochSink(s, dir, "dsv2_sink_clustered",
        end = 50000, batchRows = 50000, clusterBy = Some("tag"))),

    "stream_events_window" -> ((s, dir) => {
      val qn = "stream_events_window_sink"
      s.streams.active.filter(_.name == qn).foreach(_.stop())
      val q = Tables.eventsStream(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .count()
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("count").as("n"))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .trigger(Trigger.AvailableNow())
        .start()
      drain(q)
      s.table(qn)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "events_funnel_windowed" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS t FROM events
        |), s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'signup' THEN t END)
        |    OVER (PARTITION BY user_id) AS t1 FROM e
        |), s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND t >= t1 THEN t END)
        |    OVER (PARTITION BY user_id) AS t2 FROM s1
        |), s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t >= t2 THEN t END)
        |    OVER (PARTITION BY user_id) AS t3 FROM s2
        |)
        |SELECT
        |  count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n_signup,
        |  count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n_click_after,
        |  count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n_purchase_after
        |FROM s3""".stripMargin,

    // batch-built banded buckets from scratch — equality proves the
    // streamed min/sum signature fold reached the same index
    "stream_minhash_index" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
         |  FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |      unnest([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]) AS shingle
         |    FROM toks WHERE len(t) >= 3) q
         |), sig AS (
         |  SELECT doc_id,
         |    ${(0 until 8).map(i => s"min(substr(h, ${4 * i + 1}, 4)) AS m$i").mkString(",\n    ")}
         |  FROM (SELECT doc_id, md5('mh|' || shingle) AS h FROM sh) hs
         |  GROUP BY doc_id
         |), buckets AS (
         |  ${(0 until 4).map(b =>
              s"SELECT doc_id, CAST($b AS BIGINT) AS band, md5(m${2 * b} || m${2 * b + 1}) AS key FROM sig")
              .mkString("\n  UNION ALL ")}
         |)
         |SELECT band, key, count(*) AS n_docs
         |FROM buckets GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin,

    "join_asof" ->
      """WITH p AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t,
        |    max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), su AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t,
        |    max(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
        |)
        |SELECT p.purchase_id, su.signup_id
        |FROM p ASOF JOIN su
        |  ON p.user_id = su.user_id AND p.t >= su.t""".stripMargin,
    "join_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t,
        |    max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), su AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t,
        |    max(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
        |)
        |SELECT purchase_id, signup_id, age_ms FROM (
        |  SELECT p.purchase_id, su.signup_id,
        |    epoch_ms(p.t) - epoch_ms(su.t) AS age_ms
        |  FROM p ASOF JOIN su
        |    ON p.user_id = su.user_id AND p.t >= su.t) q
        |WHERE age_ms <= 604800000""".stripMargin,

    // oracle does the direct O(n*m) overlap join — tiny at fixture
    // scale; banding changes the plan, not the result
    "join_interval_overlap" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    epoch_ms(date_trunc('millisecond', ts)) AS t
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM m
        |), sess AS (
        |  SELECT user_id, session_id, min(t) AS s0, max(t) AS s1
        |  FROM s GROUP BY 1, 2
        |), t0 AS (SELECT min(t) AS t0 FROM e),
        |w AS (
        |  SELECT o_orderkey AS w_id,
        |    t0 + o_orderkey * 97 * 60000 AS w0,
        |    t0 + o_orderkey * 97 * 60000 + 45 * 60000 AS w1
        |  FROM orders, t0 WHERE o_orderkey < 50
        |)
        |SELECT sess.user_id, sess.session_id, w.w_id,
        |  least(s1, w1) - greatest(s0, w0) AS overlap_ms
        |FROM sess JOIN w ON s0 <= w1 AND w0 <= s1""".stripMargin,
    "join_asof_forward" ->
      """WITH er AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t,
        |    max(event_id) AS error_id
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2
        |), su AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t,
        |    max(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
        |)
        |SELECT er.error_id, su.signup_id
        |FROM er ASOF JOIN su
        |  ON er.user_id = su.user_id AND er.t <= su.t""".stripMargin,
    "events_sessionize_typed" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('millisecond', ts) AS t
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR epoch_ms(t) - epoch_ms(lag(t) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS session_start, max(t) AS session_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, date_trunc('millisecond', ts) AS t
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR epoch_ms(t) - epoch_ms(lag(t) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS session_start, max(t) AS session_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // session_window boundary: a gap of exactly the duration SPLITS
    // (merge iff gap < duration), hence >= here vs > in events_sessionize
    "events_session_window" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t FROM events
        |), m AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR epoch_ms(t) - epoch_ms(lag(t) OVER w) >= 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
        |), s AS (
        |  SELECT user_id, t,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, min(t) AS session_start,
        |  max(t) + INTERVAL 30 MINUTE AS session_end_w,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // the generator arithmetic over the full drained range — identical
    // to the batch DSv2 oracle but over [0, 100000) with no pushdown
    "stream_dsv2_source" ->
      """SELECT 't' || CAST(id % 5 AS VARCHAR) AS tag, count(*) AS n,
        |  CAST(sum((id * 1103515245 + 12345) % 1000000) AS BIGINT)
        |    AS v_sum,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM range(0, 100000) t(id)
        |GROUP BY 1""".stripMargin,
    // same arithmetic over the clustered drain's smaller range
    "stream_dsv2_sink_clustered" ->
      """SELECT 't' || CAST(id % 5 AS VARCHAR) AS tag, count(*) AS n,
        |  CAST(sum((id * 1103515245 + 12345) % 1000000) AS BIGINT)
        |    AS v_sum,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM range(0, 50000) t(id)
        |GROUP BY 1""".stripMargin,
    // same arithmetic — equality proves the sink's published files hold
    // every generated row exactly once
    "stream_dsv2_sink" ->
      """SELECT 't' || CAST(id % 5 AS VARCHAR) AS tag, count(*) AS n,
        |  CAST(sum((id * 1103515245 + 12345) % 1000000) AS BIGINT)
        |    AS v_sum,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM range(0, 100000) t(id)
        |GROUP BY 1""".stripMargin,
    "stream_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_trunc('millisecond', ts) AS tms
        |  FROM events
        |), p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY tms, event_id) AS to_type
        |  FROM e
        |)
        |SELECT from_type, to_type, count(*) AS n
        |FROM p WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n DESC, from_type, to_type
        |LIMIT 10""".stripMargin,

    "events_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, date_trunc('millisecond', ts) AS tms
        |  FROM events
        |), v AS (
        |  SELECT user_id, min(tms) AS vt FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(tms) AS ct FROM e JOIN v ON v.user_id = e.user_id
        |  WHERE event_type = 'click' AND tms >= vt GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(tms) AS pt FROM e JOIN c ON c.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND tms >= ct GROUP BY 1
        |)
        |SELECT 'view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT 'click_after_view', count(*) FROM c
        |UNION ALL SELECT 'purchase_after_click', count(*) FROM p""".stripMargin,
    // the inner time-band join over a single AvailableNow batch emits
    // exactly the batch join's pairs (watermarks bound state, not output)
    "stream_click_view_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    date_trunc('millisecond', ts) AS tms
        |  FROM events
        |)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
        |FROM e c JOIN e v
        |  ON c.event_type = 'click' AND v.event_type = 'view'
        | AND c.user_id = v.user_id
        | AND v.tms >= c.tms - INTERVAL 30 MINUTE
        | AND v.tms <= c.tms + INTERVAL 30 MINUTE""".stripMargin,
    // dedup removed every injected duplicate, so the sink equals the
    // original (unique-id) stream
    "stream_dedup_ids" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY 1""".stripMargin,
    // integer week buckets from the epoch-ms anchor; // (floor) division
    // matches Spark's cast-to-long of a positive quotient
    "events_sliding_window" ->
      """WITH e AS (
        |  SELECT date_trunc('millisecond', ts) AS t, event_type, value
        |  FROM events
        |), k AS (SELECT unnest(range(0, 4)) AS k)
        |SELECT time_bucket(INTERVAL '15 minutes', t)
        |         - k * INTERVAL '15 minutes' AS win_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS val_sum
        |FROM e, k
        |GROUP BY 1, 2""".stripMargin,

    "events_anomaly_mad" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |med AS (
        |  SELECT event_type,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
        |  FROM e GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS adev
        |  FROM e JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
        |  FROM dev GROUP BY 1
        |)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(count(*) FILTER (WHERE d.adev > md.mad * 5) AS BIGINT)
        |    AS n_outliers,
        |  round(min(d.med), 6) AS med6, round(min(md.mad), 6) AS mad6
        |FROM dev d JOIN mad md USING (event_type)
        |GROUP BY d.event_type""".stripMargin,

    "events_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS t
        |  FROM events
        |), t0 AS (SELECT min(t) AS t0 FROM e),
        |w AS (
        |  SELECT user_id, CAST((t - t0) // 604800000 AS BIGINT) AS wk
        |  FROM e, t0
        |), c AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY 1
        |)
        |SELECT c.cohort_week, w.wk - c.cohort_week AS week_offset,
        |  count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN c ON c.user_id = w.user_id
        |GROUP BY 1, 2""".stripMargin,
    // stateless stream-static join: the sink holds every event enriched
    // with its user's segment — identical to the batch join + rollup
    "stream_static_enrich" ->
      """SELECT event_type, 'seg' || CAST(user_id % 5 AS VARCHAR) AS segment,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    // a user finalizes iff their timeout (last event + 2h) fell STRICTLY
    // below the final watermark (global max ts - 2h) — i.e. idle > 4h
    // before corpus end; active users are still buffered in state
    "stream_user_state_timeout" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(date_trunc('millisecond', ts)) AS tms
        |  FROM events
        |), wm AS (SELECT max(tms) - 7200000 AS w FROM e),
        |u AS (
        |  SELECT user_id, count(*) AS n_events,
        |    min(tms) AS first_ms, max(tms) AS last_ms
        |  FROM e GROUP BY 1)
        |SELECT user_id, n_events, first_ms, last_ms
        |FROM u, wm WHERE last_ms + 7200000 < w""".stripMargin,
    // same pattern unrolled in DuckDB window SQL: value-RANGE frames on
    // the millisecond long, negation as a min-comparison, never a scan
    "events_match_negation" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_ms(date_trunc('millisecond', ts)) AS t
        |  FROM events
        |), staged AS (
        |  SELECT user_id, event_type,
        |    min(CASE WHEN event_type = 'click' THEN t END) OVER w
        |      AS next_click,
        |    min(CASE WHEN event_type = 'error' THEN t END) OVER w
        |      AS next_err
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t
        |    RANGE BETWEEN 1 FOLLOWING AND 600000 FOLLOWING)
        |)
        |SELECT user_id, count(*) AS n_views,
        |  count(CASE WHEN next_click IS NOT NULL
        |    AND (next_err IS NULL OR next_err >= next_click)
        |    THEN 1 END) AS n_matched
        |FROM staged WHERE event_type = 'view'
        |GROUP BY 1 HAVING n_matched > 0""".stripMargin,
    // same strict idle-timeout boundary as stream_user_state_timeout,
    // finalization payload = the per-type counts the MapState held
    "stream_transform_with_state" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_ms(date_trunc('millisecond', ts)) AS tms
        |  FROM events
        |), wm AS (SELECT max(tms) - 7200000 AS w FROM e),
        |u AS (SELECT user_id, max(tms) AS last_ms FROM e GROUP BY 1)
        |SELECT e.user_id, e.event_type, count(*) AS n
        |FROM e JOIN u USING (user_id), wm
        |WHERE u.last_ms + 7200000 < wm.w
        |GROUP BY 1, 2""".stripMargin,
    // matched pairs = the inner join's output; a click's null-extended
    // row appears iff its band end (cts + 30 min) fell below the final
    // watermark with no matching view — clicks above that horizon are
    // still buffered, so they are absent entirely. The final watermark
    // is the MIN over the two inputs of (that input's max ts - 1 h):
    // Spark tracks a watermark per watermarked input (here the
    // post-filter click and view streams, whose maxima differ) and a
    // stateful operator advances on the minimum, so an oracle using the
    // all-events max would evict one click too many at small sf.
    "stream_join_left_outer" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    date_trunc('millisecond', ts) AS tms
        |  FROM events
        |), c AS (SELECT user_id, event_id AS click_id, tms AS cts
        |         FROM e WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id AS view_id, tms AS vts
        |      FROM e WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(cts) FROM c),
        |                    (SELECT max(vts) FROM v))
        |         - INTERVAL 1 HOUR AS w),
        |m AS (
        |  SELECT c.user_id, c.click_id, v.view_id, c.cts
        |  FROM c JOIN v ON c.user_id = v.user_id
        |    AND v.vts >= c.cts - INTERVAL 30 MINUTE
        |    AND v.vts <= c.cts + INTERVAL 30 MINUTE
        |)
        |SELECT user_id, click_id, view_id FROM m
        |UNION ALL
        |SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS view_id
        |FROM c, wm
        |WHERE c.cts + INTERVAL 30 MINUTE < wm.w
        |  AND NOT EXISTS (
        |    SELECT 1 FROM m WHERE m.click_id = c.click_id)""".stripMargin,
    // append-mode semantics in batch SQL: only windows finalized by the
    // final watermark (max ms-truncated ts - 2h) are in the sink
    "events_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, CAST(sum(c) AS BIGINT) AS total,
        |         count(*) AS ndays
        |  FROM daily GROUP BY 1
        |), cu AS (
        |  SELECT d.event_type, d.day,
        |    CAST(sum(d.c * s.ndays - s.total) OVER (
        |      PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cusum
        |  FROM daily d JOIN stats s USING (event_type)
        |)
        |SELECT event_type, CAST(day AS VARCHAR) AS cp_day,
        |  cusum AS cusum_scaled
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(cusum) DESC, day) AS rn
        |      FROM cu) q
        |WHERE rn = 1""".stripMargin,

    "events_resample" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, value
        |  FROM events
        |), hourly AS (
        |  SELECT event_type, hour, count(*) AS n,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*), 6) AS avg6
        |  FROM e GROUP BY 1, 2
        |), bounds AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM e),
        |grid AS (
        |  SELECT t.event_type, g.hour
        |  FROM (SELECT DISTINCT event_type FROM e) t,
        |       (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |        FROM bounds) g
        |)
        |SELECT g.event_type, g.hour, CAST(coalesce(h.n, 0) AS BIGINT) AS n,
        |  last_value(h.avg6 IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg6_ffill
        |FROM grid g
        |LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour""".stripMargin,

    "stream_events_hourly_append" ->
      """WITH e AS (
        |  SELECT date_trunc('millisecond', ts) AS tms, event_type
        |  FROM events
        |), wm AS (SELECT max(tms) - INTERVAL 2 HOUR AS w FROM e)
        |SELECT date_trunc('hour', tms) AS hour_start, event_type,
        |  count(*) AS n
        |FROM e, wm
        |WHERE date_trunc('hour', tms) + INTERVAL 1 HOUR <= w
        |GROUP BY 1, 2""".stripMargin,
    // the batch session derivation (strict-gap split, >= mirrors
    // session_window's merge-iff-gap-strictly-less) filtered to sessions
    // the stream's final watermark (max ts - 2h) has closed
    "stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('millisecond', ts) AS t FROM events
        |), wm AS (SELECT max(t) - INTERVAL 2 HOUR AS w FROM e),
        |m AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER win IS NULL
        |           OR epoch_ms(t) - epoch_ms(lag(t) OVER win) >= 1800000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t)
        |), s AS (
        |  SELECT user_id, t,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, session_start, session_end_w, n_events FROM (
        |  SELECT user_id, min(t) AS session_start,
        |    max(t) + INTERVAL 30 MINUTE AS session_end_w,
        |    count(*) AS n_events
        |  FROM s GROUP BY user_id, session_id) q, wm
        |WHERE session_end_w <= wm.w""".stripMargin,
  )
}
