package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface — NEW capability beyond the reference (which
  * only has lazy dataset sequences, SURVEY §2.8): event-time tumbling windows
  * with watermarks over the events table, plus stateful sessionization.
  *
  * At scale this is the standing pipeline: `readStream` from a file/Kafka
  * source, watermark bounds state, window aggregation shuffles once per
  * trigger on (window, key). The batch query q38 is the exact semantic
  * equivalent (same plan shape minus the state store), which is how the
  * streaming path is oracle-checked.
  */
object EventStream {

  /** The events schema with `ts` as the given physical type — the file
    * stream source needs an explicit schema, and the driver's generator has
    * shipped `ts` as TIMESTAMP(NANOS) (→ long under the legacy conf),
    * TIMESTAMP(MICROS), and NTZ across rounds, so the type is probed from
    * the parquet footer rather than assumed (mirrors `Tables.tRaw`). */
  private def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming read of the events table with `ts` normalized to a
    * microsecond TimestampType column, whatever the file stores. One cheap
    * driver-side footer read picks the schema; the stream itself is the
    * normal distributed file source. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = spark.readStream.schema(eventsSchema(tsType))
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
    tsType match {
      // TIMESTAMP(NANOS) surfaced as long: integral `div` (not `/`, which
      // rounds through double above 2^53) to lossless micros
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", to_timestamp(col("ts")))
      case _ => raw
    }
  }

  /** Streaming hourly windowed aggregation with a watermark; reads the same
    * parquet directory as a file stream (one-file micro-batch in tests). */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureFunctions(spark) // isum → graft_sum128
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Reductions.isum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Streaming DAILY windowed type counts — the rollup feeding the
    * q264 "top types per day" serving cut (stream keeps the windows
    * hot; ranking happens on the O(days × types) sink table, never in
    * the stream). */
  def dailyTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureFunctions(spark)
    eventsStream(spark, dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day"), col("event_type"), col("n"))
  }

  /** foreachBatch CHANGE-LOG sink: each micro-batch appends its rows
    * (tagged with the batch id) to a parquet log directory — the
    * lakehouse ingestion half of CDC without a table format. Latest-wins
    * compaction happens ON READ (the q188 applyChanges shape); at scale
    * the log is partition-append-only, so ingestion never rewrites
    * history. Returns the log path's DataFrame after the stream drains. */
  def changeLogSink(stream: DataFrame, logPath: String): DataFrame = {
    val spark = stream.sparkSession
    withRocksDbState(spark) {
      val q = stream.writeStream
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(logPath)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(logPath)
  }

  /** Every stateful stream in this engine starts under the RocksDB state
    * store provider. The default in-memory (HDFSBackedStateStore) provider
    * keeps EVERY shard's full key-value map on-heap — at 100 TB the state
    * store (dedup fingerprints, open sessions, join buffers) is the scale
    * boundary, and executor heap caps total state. RocksDB keeps state on
    * executor-local disk with a bounded block cache, so state volume
    * scales with disk, not heap (`StreamingSpec` pins the provider and
    * runs a wide-state stream under a capped driver to prove it).
    * Restored after the run: the provider is fixed per CHECKPOINT at
    * first start anyway; restoring keeps unrelated sessions explicit. */
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** In-memory provider for streams whose state does not grow with event
    * volume. Their keys are a fixed domain (quantile bins, nation ×
    * event-type cells) or time windows × event types, so the state store
    * holds the same keys however many events arrive. RocksDB's "state
    * scales with disk, not heap" argument then buys nothing, while every
    * run pays its per-shard native store open/commit (measured ~1–2 s
    * per streaming query). Those streams declare `boundedState = true`
    * and run on the in-memory HDFSBacked provider; DATA-PROPORTIONAL
    * state (per-user sessions, dedup fingerprints, stream-stream join
    * buffers) keeps RocksDB.
    *
    * The windowed streams' bound is the input's TIME RANGE, not a fixed
    * domain: [[runToMemorySink]] runs them in Complete mode, where the
    * watermark never evicts a window, so the on-heap state is O(windows
    * over the time range × event types) per retained version. That is
    * small for the bounded replays these queries run and grows with the
    * span of an unbounded stream. */
  private[graft] val HdfsBackedProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private def stateProvider(boundedState: Boolean): String =
    if (boundedState) HdfsBackedProvider else RocksDbProvider
  private def withStateProvider[T](spark: SparkSession, provider: String)(
      f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
  private def withRocksDbState[T](spark: SparkSession)(f: => T): T =
    withStateProvider(spark, RocksDbProvider)(f)

  /** Streaming SLIDING-window counts (2 h windows advancing hourly) with
    * a watermark — each event lands in two overlapping windows, the
    * trending-detection shape (a spike shows in consecutive windows
    * before a tumbling bucket would commit it). State is
    * O(open windows × event types); the batch analog duplicates each
    * event into its two window starts, which is exactly what q201's
    * oracle does. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureFunctions(spark)
    eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Reductions.isum(col("value"), 6).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Native `session_window` streaming aggregation (Spark's built-in
    * merging session windows — the declarative sibling of the custom
    * [[sessionize]] fMGWS state machine): per (user, session) event
    * counts and value sums, sessions closing after a 30-minute gap.
    * Session end = last event + gap, and an event at EXACTLY
    * prev_last + gap starts a NEW session (t < end joins) — a boundary
    * one notch different from sessionize's strict-> rule; the q208
    * oracle pins the native semantics. Append mode (the only mode
    * session windows support) with a ZERO watermark delay: the final
    * watermark lands on max(ts), so exactly the sessions whose end ≤
    * max(ts) emit — the oracle applies the same cutoff. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureFunctions(spark)
    eventsStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Reductions.isum(col("value"), 6).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"), col("sum_value"))
  }

  /** STREAM-STATIC ENRICHMENT: the event stream joined against the
    * static customer dimension (broadcast — at scale the standing
    * pattern: dim snapshots broadcast to every executor, refreshed per
    * restart), then aggregated per nation × event type. Inner join —
    * events from users outside the dimension are dropped, the standard
    * enrich-or-discard gate. The batch analog is the same plan minus the
    * state store; q187 pins the streaming execution to the batch oracle. */
  def enrichedNationAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureFunctions(spark)
    val dim = graft.Tables.t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    eventsStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Reductions.isum(col("value"), 6).as("sum_value"))
  }

  case class Ev(user_id: Long, ts_us: Long, event_id: Long)
  case class SessState(sessions: Long, current_start_us: Long, last_us: Long,
                       current_events: Long, max_events: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, max_session_events: Long)

  /** Stateful sessionization with flatMapGroupsWithState: a >gapMinutes
    * event-time gap starts a new session; per-user state is one fixed-size
    * record. The batch analog is q39 (window cumsum) — StreamingSpec pins the
    * two equal. At scale the state store shards by user across executors and
    * the watermark bounds retention. */
  def sessionize(spark: SparkSession, dir: String,
                 gapMinutes: Long = 30): DataFrame =
    sessionizeEvents(eventsStream(spark, dir), gapMinutes)

  /** [[sessionize]] over a caller-built streaming events frame
    * (user_id, ts: timestamp, event_id) — the seam the restart-recovery
    * spec uses to feed a multi-file (multi-micro-batch) source. */
  def sessionizeEvents(eventsDf: DataFrame,
                       gapMinutes: Long = 30): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = eventsDf.sparkSession
    import spark.implicits._
    val events = eventsDf
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id")).as[Ev]
    val gapUs = gapMinutes * 60L * 1000000

    def update(user: Long, rows: Iterator[Ev],
               state: GroupState[SessState]): Iterator[UserSessions] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var s = state.getOption.getOrElse(SessState(0L, -1L, Long.MinValue, 0L, 0L))
      sorted.foreach { e =>
        s =
          if (s.current_start_us < 0 || e.ts_us - s.last_us > gapUs)
            SessState(s.sessions + 1, e.ts_us, e.ts_us, 1L,
              math.max(s.max_events, 1L))
          else
            s.copy(last_us = e.ts_us, current_events = s.current_events + 1,
              max_events = math.max(s.max_events, s.current_events + 1))
      }
      state.update(s)
      Iterator(UserSessions(user, s.sessions, s.max_events))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  case class CuEv(user_id: Long, ts_us: Long, event_id: Long, value: Double)
  case class CuState(n: Long, sp: Double, sn: Double, alarms: Long)
  case class UserCusum(user_id: Long, n_events: Long, cusum_pos: Double,
                       cusum_neg: Double, n_alarms: Long)

  /** STREAMING ANOMALY MONITOR: per-user two-sided CUSUM
    * (Advanced.cusumKeyed's recursion) as standing stateful streaming —
    * the "alert when a metric drifts" pipeline. Per-user state is one
    * fixed-size record (n, S⁺, S⁻, alarm count); each micro-batch folds
    * its (event-time-sorted) group slice into the state with the exact
    * batch op order, so the final state is bit-identical to the batch
    * fold and the DuckDB recursive CTE replays it (oracle q172). Update
    * mode emits a state snapshot per user per batch; n strictly grows, so
    * a struct-max on (n, …) collapses multi-batch output to the final
    * state deterministically. */
  def cusumMonitor(spark: SparkSession, dir: String, target: Double = 50.0,
                   slack: Double = 5.0, threshold: Double = 100.0)
      : DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value")).as[CuEv]

    def update(user: Long, rows: Iterator[CuEv],
               state: GroupState[CuState]): Iterator[UserCusum] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var s = state.getOption.getOrElse(CuState(0L, 0.0, 0.0, 0L))
      sorted.foreach { e =>
        val sp = math.max(0.0, s.sp + ((e.value - target) - slack))
        val sn = math.max(0.0, s.sn + ((target - e.value) - slack))
        s = CuState(s.n + 1, sp, sn,
          s.alarms + (if (sp > threshold || sn > threshold) 1L else 0L))
      }
      state.update(s)
      Iterator(UserCusum(user, s.n, s.sp, s.sn, s.alarms))
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Streaming EXACT DEDUP — the standing-ingest form of the LLM pipeline's
    * dedup stage (TextDedup.exactDedup is the batch analog): keep the first
    * occurrence of each md5 content fingerprint. The watermark bounds the
    * fingerprint state store (`dropDuplicatesWithinWatermark` — duplicates
    * arriving inside the watermark horizon are suppressed; state for expired
    * event times is evicted, which is the only formulation whose state does
    * NOT grow with corpus size). State shards by fingerprint across
    * executors. */
  def dedupStream(spark: SparkSession, dir: String,
                  watermark: String = "2 hours"): DataFrame = {
    eventsStream(spark, dir)
      .withColumn("fp", md5(concat_ws("#", col("user_id"), col("event_type"),
        col("props"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Watermarked STREAM-STREAM inner join: each click pairs with the same
    * user's purchases within `horizonMinutes` AFTER the click — the standing
    * attribution pipeline (click → conversion). Both sides carry watermarks
    * and the join has an explicit event-time range condition, so Spark can
    * evict buffered state for rows past the horizon; without the range the
    * state store grows with the stream. One state-store shuffle on user_id
    * per trigger. Batch analog: the identical join on static frames —
    * StreamingSpec pins the two equal. */
  def clickPurchaseJoin(spark: SparkSession, dir: String,
                        horizonMinutes: Long = 60): DataFrame = {
    val raw = eventsStream(spark, dir)
    // the watermark must cover the attribution horizon: a click has to stay
    // buffered for the FULL horizon of late purchases, or pairs silently
    // vanish once horizonMinutes > the lateness bound
    val lateness = math.max(horizonMinutes, 60L)
    attributionJoin(raw, horizonMinutes,
      watermark = Some(s"$lateness minutes"))
  }

  /** The batch analog of [[clickPurchaseJoin]] — same plan minus the state
    * store; the streaming spec's oracle. */
  def clickPurchaseJoinBatch(spark: SparkSession, dir: String,
                             horizonMinutes: Long = 60): DataFrame =
    attributionJoin(graft.Tables.t(spark, dir, "events"), horizonMinutes,
      watermark = None)

  /** Shared subject/oracle plan: only the watermark differs between the
    * streaming and batch forms, so their semantics cannot drift apart. */
  private def attributionJoin(events: DataFrame, horizonMinutes: Long,
                              watermark: Option[String]): DataFrame = {
    def side(eventType: String, prefix: String, idAs: String): DataFrame = {
      val base = events.filter(col("event_type") === eventType)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"), col("event_id").as(idAs))
      watermark.fold(base)(w => base.withWatermark(s"${prefix}_ts", w))
    }
    val clicks = side("click", "c", "click_id")
    val purchases = side("purchase", "p", "purchase_id")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("c_ts"), col("p_ts"))
  }

  /** Run a streaming query to completion against the (finite) file source and
    * return the materialized result — the test harness entry point.
    *
    * `statePartitions` sizes the query's state-store shard count (fixed at
    * first start from `spark.sql.shuffle.partitions`): every shard pays a
    * per-trigger store open/commit, so a stream-stream join at 32 shards
    * spends more on 4×32 store commits than on the actual join at test
    * scale (measured 8.9 s → 3.9 s at 8 shards for q138). At production
    * scale this is the knob you RAISE — state volume per shard, not shard
    * fixed cost, dominates there. The session conf is restored after the
    * run so batch queries in the same session keep their parallelism. */
  /** STREAMING PSI DRIFT MONITOR: the model-monitoring loop that pages a
    * human — bin edges fit ONCE on a static reference slice (rank-selected
    * exact quantiles, compiled into the stream as literals), the live
    * stream aggregates per-bin counts (Complete mode over an O(bins)
    * state — the state store holds `bins` longs, nothing data-sized), and
    * the PSI scalar finishes on the O(bins) sink table with the SAME
    * arithmetic as the batch [[graft.ops.Stats.psi]]. With AvailableNow
    * the drained result equals the batch PSI of the same split — which is
    * exactly what the DuckDB oracle checks. At scale the stream keeps
    * running and every micro-batch refreshes the scalar incrementally.
    * Returns one row (n_ref, n_cur, k_bins, psi). */
  def psiDrift(spark: SparkSession, dir: String,
               splitTs: String, bins: Int = 10): DataFrame = {
    graft.Tables.ensureFunctions(spark)
    val split = lit(splitTs).cast(org.apache.spark.sql.types.TimestampType)
    val x = col("value").cast(org.apache.spark.sql.types.DoubleType)
    val ref = graft.Tables.t(spark, dir, "events")
      .filter(col("ts") < split && x.isNotNull && !isnan(x))
      .select(x.as("__x"))
    val edges = graft.ops.Ml.exactQuantilesRankPick(ref, "__x",
      (1 until bins).map(_.toDouble / bins))
    require(!edges.exists(_.isNaN),
      "psiDrift: the reference slice is empty — no bin edges can be fit")
    val refCounts = ref
      .select(graft.ops.Stats.psiBin(col("__x"), edges).as("__bin"))
      .groupBy(col("__bin")).agg(count(lit(1)).as("__c"))
      .select(lit("ref").as("__side"), col("__bin"), col("__c"))
    val curStream = eventsStream(spark, dir)
      .filter(col("ts") >= split && x.isNotNull && !isnan(x))
      .select(graft.ops.Stats.psiBin(x, edges).as("__bin"))
      .groupBy(col("__bin")).agg(count(lit(1)).as("__c"))
    val curTable = runToMemorySink(curStream,
      s"psi_drift_${System.nanoTime()}", statePartitions = Some(8),
      boundedState = true) // state = `bins` longs, a fixed domain
      .select(lit("cur").as("__side"), col("__bin"), col("__c"))
    graft.ops.Stats.psiFromCounts(refCounts.unionByName(curTable), bins)
  }

  def runToMemorySink(df: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Complete(),
                      statePartitions: Option[Int] = None,
                      boundedState: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    try withStateProvider(spark, stateProvider(boundedState)) {
      val q: StreamingQuery = df.writeStream
        .outputMode(mode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    df.sparkSession.table(name)
  }
}
