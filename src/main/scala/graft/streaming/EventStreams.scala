package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Typed view of an events row for stateful streaming (`ts` is epoch
  * MICROS — the normalized form [[EventStreams.eventsStream]] produces
  * regardless of the fixture's physical encoding). */
final case class EventRec(event_id: Long, ts: Long, user_id: Long,
    event_type: String, value: Double, props: String)

/** Per-user running state: event count + exact cents (longs, so state is
  * both tiny and float-drift-free across micro-batches). */
final case class UserRunningState(n: Long, cents: Long)

/** Per-user funnel state (see [[EventStreams.funnelStream]]): the earliest
  * view plus only the click/purchase times that could still qualify under
  * ANY future arrival — bounded by the conversion window, not by event
  * volume. `nSeen` is the strictly-monotone emission selector. */
final case class FunnelState(minView: Long, clicks: List[Long],
    purchases: List[Long], nSeen: Long)

/** Emitted per user per micro-batch: furthest funnel stage reached on the
  * data seen so far (0 = none, 1 = view, 2 = click, 3 = purchase). */
final case class FunnelProgress(user_id: Long, n_seen: Long, stage_reached: Int)

/** Emitted per user per micro-batch: totals observed so far. */
final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

/** Per-user transition state (see [[EventStreams.transitionsStream]]):
  * events still inside the lateness horizon as (ts, event_id, type),
  * finalized bigram counts keyed "from to", the user's max event time,
  * and the strictly-monotone emission selector. */
final case class TransitionsState(buffer: List[(Long, Long, String)],
    counts: Map[String, Long], maxTs: Long, nSeen: Long)

/** One bigram of a user's transition snapshot at `n_seen` events. */
final case class TransitionEmit(user_id: Long, n_seen: Long,
    from_type: String, to_type: String, n: Long)

/** Structured Streaming over the events table (SURVEY.md §2.10): the same
  * windowed aggregation expressions as [[graft.ops.Events]], executed by the
  * micro-batch engine with a watermark. For verification the parquet fixture
  * is replayed through the file source into a memory sink and drained
  * synchronously — the streaming result must equal the batch result.
  */
object EventStreams {

  /** Open the events fixture as a file stream with `ts` normalized to
    * TimestampType, whatever the physical encoding on disk — the fixture
    * has shipped as both TIMESTAMP(NANOS) (readable only as raw int64 via
    * the legacy conf) and TIMESTAMP(MICROS)/NTZ across driver generations.
    * The on-disk schema is resolved by ONE batch footer read (metadata
    * only, no data scan) and fed verbatim to the file-stream source, which
    * requires an explicit schema; [[graft.Tables.normalizeEventTs]] then
    * maps either form onto the same TimestampType column, so every stream
    * below is encoding-agnostic.
    *
    * The fixture is a single parquet file; the file stream source requires
    * a directory, so stream the parent dir with a glob filter (the pattern
    * also admits multi-file fixtures, e.g. events_0/events_1.parquet). */
  private[streaming] def eventsStream(ss: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = graft.Tables.parquet(ss, sfDir, Some("events*.parquet")).schema
    val reader = ss.readStream
      .schema(onDisk)
      .option("pathGlobFilter", "events*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTs(reader.parquet(sfDir))
  }

  /** [[eventsStream]] with `ts` folded to epoch micros (Long) so typed
    * `as[EventRec]` state pipelines get a stable primitive event time. */
  private[streaming] def eventsStreamMicros(ss: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    eventsStream(ss, sfDir, maxFilesPerTrigger)
      .withColumn("ts", unix_micros(col("ts")))

  private val runId = new AtomicInteger(0)

  /** Session tuned for in-process micro-batch verification: every stateful
    * operator creates one state-store instance per shuffle partition per
    * micro-batch, so at fixture scale the state machinery (instance
    * load/commit/file churn), not the data, dominates wall time. A child
    * session with fewer shuffle partitions cuts that fixed cost ~4x;
    * results are partition-count-independent (the batch-equality oracles
    * prove it). At production scale state parallelism should instead match
    * the cluster — callers stream on the PARENT session's setting there. */
  private[streaming] def streamSession(parent: SparkSession, partitions: Int = 8): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // State store provider stays the HDFS-backed DEFAULT after a measured
    // round-14 A/B: RocksDB-for-all timed 27.8 s for the 16-query family
    // vs 25.1/26.6 s baseline (same box, quiet probes) — every stateful
    // query regressed (q106 1.63→2.29 s, q108 1.34→1.83 s, q144
    // 1.66→2.11 s): native-store setup/commit per instance per trigger
    // exceeds the in-memory map's cost at in-process fixture scale. At
    // true streaming scale (state >> heap) RocksDB is the right provider —
    // a deployment sets it on the parent session; q108 keeps it locally
    // because transformWithState requires it.
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  /** Replay the events parquet through a streaming tumbling-window count and
    * return the settled result. Complete output mode: every window is in the
    * final table (append mode would hold back windows newer than the
    * watermark). The watermark still bounds state at true-streaming scale. */
  def tumblingHourlyStream(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    val stream = eventsStream(ss, sfDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    EventStreams.settle(spark, name, ss.table(name).orderBy("window_start"))
  }

  /** Custom streaming state via `flatMapGroupsWithState` (SURVEY.md §2.10;
    * the KeyValueGroupedDataset state API the build target calls for):
    * per-user running totals held in a [[UserRunningState]] that survives
    * micro-batches. Each batch emits the totals-so-far per user touched in
    * that batch, so the Append-mode sink accumulates one row per user per
    * batch. The settled answer is the LAST emission per user — selected on
    * the sink read by max `n_events` (the running count is strictly
    * monotone per user), which makes the result equal the batch
    * `GROUP BY user_id` REGARDLESS of how the input was carved into
    * micro-batches (single-file replay, multi-file directories,
    * `maxFilesPerTrigger=1`, …) — verified by StreamingSpec's forced
    * multi-batch replay.
    *
    * State scale: one 16-byte struct per user, partitioned by group key
    * across executors — bounded by distinct users, not event volume. */
  def userTotalsStateful(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val name = s"graft_stream_state_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    val totals = eventsStreamMicros(ss, sfDir, maxFilesPerTrigger)
      .as[EventRec]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunningState, UserTotals](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[EventRec], state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0L))
          var n = prev.n
          var cents = prev.cents
          // Exact accumulation: values carry 2 decimals; long cents avoid
          // per-batch float drift in long-lived state.
          events.foreach { e => n += 1; cents += math.round(e.value * 100) }
          state.update(UserRunningState(n, cents))
          Iterator(UserTotals(uid, n, cents / 100.0))
      }
    val q = totals.toDF().writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    // Settle: keep the final (highest-running-count) emission per user.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val settled = ss.table(name)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .orderBy("user_id")
    EventStreams.settle(spark, name, settled)
  }

  /** Sliding windows under the micro-batch engine: 1-hour windows sliding
    * every 30 minutes (each event in exactly 2 windows), the same
    * expression as the batch [[graft.ops.Events.slidingHourly]]. Complete
    * output mode — every window is in the settled table; the watermark
    * still bounds state at true-streaming scale. */
  def slidingHourlyStream(spark: SparkSession, sfDir: String): DataFrame = {
    val name = s"graft_stream_sliding_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    val stream = eventsStream(ss, sfDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    settle(spark, name, ss.table(name).orderBy("window_start"))
  }

  /** Stream-static enrichment join — the standard streaming-ingest pattern:
    * a micro-batched event stream joined per batch against a static (batch)
    * dimension, then aggregated. The static side here is the customer
    * dimension keyed by `user_id = c_custkey`; Catalyst plans the per-batch
    * join as a broadcast hash join (bounded dim), and the streaming
    * aggregation keeps one row of state per segment. Complete output mode:
    * the settled table is the final per-segment totals, equal to the batch
    * `events ⋈ customer GROUP BY c_mktsegment` regardless of micro-batch
    * carving (inner join + whole-history aggregation are carve-invariant). */
  def segmentTotalsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val name = s"graft_stream_enrich_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    val dim = graft.Tables.customer(ss, sfDir).select(
      col("c_custkey").as("user_id"), col("c_mktsegment"))
    val stream = eventsStream(ss, sfDir, maxFilesPerTrigger)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    settle(spark, name, ss.table(name).orderBy("c_mktsegment"))
  }

  /** Streaming sessionization: the same `session_window` expression as the
    * batch [[graft.ops.Events.userSessions]] under the micro-batch engine —
    * per-user sessions closed by 5 minutes of event-time inactivity, with
    * session merging handled by the streaming state store (two partial
    * sessions that an out-of-order event bridges collapse into one).
    * Complete output mode so every settled session is in the final table;
    * the watermark still bounds the merge state the engine must retain at
    * true-streaming scale.
    *
    * Settled through a DISTRIBUTED sink, not the driver: output here is
    * one row per (user, session) — it grows with the data, and the sf3
    * sweep (90 k users, 3 M events) pushed it past [[SettleMaxRows]],
    * which is exactly the failure the settle guard exists to catch. Each
    * complete-mode batch overwrite-writes the full aggregate to parquet
    * via foreachBatch (executor-parallel); the settled result is read
    * back as an ordinary distributed scan. This is also the production
    * shape — a per-entity result table refreshed per micro-batch. */
  def userSessionsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ss = streamSession(spark)
    val stream = eventsStream(ss, sfDir, maxFilesPerTrigger)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"),
        col("sum_value"))
    // Fixed scratch names (wiped per call): one settled copy + one live
    // checkpoint per JVM at any moment, never an accumulation.
    val out = graft.WorkDirs.fresh("stream_sessions_settle")
    val chk = graft.WorkDirs.fresh("stream_sessions_chk")
    val q = stream.writeStream
      .outputMode("complete")
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(chk))
      catch { case _: java.io.IOException => () }
    }
    graft.Tables.parquet(spark, out).orderBy("user_id", "session_start")
  }

  /** Streaming SCD2 maintenance — [[graft.ops.Relational.scd2Apply]] run
    * per micro-batch under `foreachBatch`: the orders fixture replayed as
    * a file stream, each batch folded into the persisted history at delta
    * cost, and the settled history equal to the FULL rebuild
    * ([[graft.ops.Relational.scd2Build]] over everything — q128's oracle)
    * whenever arrival respects the append-only-per-key contract (time-
    * carved micro-batches; the [[watermarkDedupStream]] arrival shape).
    * This is the production shape for a streamed dimension: version
    * history maintained incrementally, never rebuilt.
    *
    * The history lives in per-batch parquet generations (epoch b reads
    * the latest generation below b, writes generation b) because a Spark
    * job cannot overwrite its own input — and because `foreachBatch` is
    * AT-LEAST-ONCE: keying the generation by batch id and deleting only
    * two generations back means a replayed epoch re-reads its true
    * pre-batch history and rewrites its own generation idempotently,
    * instead of double-applying against a history that already contains
    * it (which scd2Apply's append-only guard would correctly kill). The
    * COMPUTE per batch is delta-sized (scd2Apply's contract); the WRITE
    * here is the full history per generation — at production scale the
    * history table would be key-partitioned so a batch rewrites only the
    * partitions its keys touch (the q64 partition-pruning layout), which
    * this in-process demo keeps single-directory for settle simplicity. */
  def scd2MaintainStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ss = streamSession(spark)
    val onDisk = graft.Tables.parquet(ss, sfDir, Some("orders*.parquet")).schema
    val reader = ss.readStream
      .schema(onDisk)
      .option("pathGlobFilter", "orders*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(sfDir)
    val root = graft.WorkDirs.fresh("stream_scd2_hist")
    val chk = graft.WorkDirs.fresh("stream_scd2_chk")
    // Generations are keyed by BATCH ID and the previous generation is
    // kept until the one after lands: foreachBatch is at-least-once, and
    // a replayed epoch (sink write durable, checkpoint commit lost) must
    // re-read its true PRE-batch history and overwrite its OWN generation
    // idempotently — with generation-per-batchId plus lazy deletion the
    // replay is a byte-identical rewrite instead of a double-apply that
    // scd2Apply's append-only guard would (correctly) kill.
    val lastGen = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q = stream.writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val hist = latestGenerationBelow(root, batchId) match {
          case None => graft.ops.Relational.scd2Build(batch.filter(lit(false)))
          case Some(g) => graft.Tables.parquet(s, s"$root/g$g")
        }
        graft.ops.Relational.scd2Apply(hist, batch.toDF())
          .write.mode("overwrite").parquet(s"$root/g$batchId")
        lastGen.set(batchId)
        // Two generations stay live (this one + its input); everything
        // older is dead — so a week of 5-minute batches holds two full
        // history copies, not ~2000.
        dropGenerationsBelow(root, batchId - 1)
        ()
      }
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(chk))
      catch { case _: java.io.IOException => () }
    }
    // Zero micro-batches (e.g. the glob matched no files) means no
    // generation was ever written; a blind path read would fail with an
    // opaque error, so return the well-typed empty history instead.
    if (lastGen.get() < 0)
      graft.ops.Relational.scd2Build(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), onDisk))
    else
      graft.Tables.parquet(spark, s"$root/g${lastGen.get()}")
        .orderBy("o_custkey", "version_n")
  }

  /** The largest on-disk generation id strictly below `batchId` — how a
    * (possibly replayed) epoch finds its pre-batch history without
    * trusting a driver-side counter that a replay would have outrun. */
  private def latestGenerationBelow(root: String, batchId: Long): Option[Long] = {
    val dirs = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
    val gens = dirs.toSeq.filter(_.isDirectory).map(_.getName)
      .collect { case s if s.startsWith("g") && s.drop(1).forall(_.isDigit) =>
        s.drop(1).toLong }
    gens.filter(_ < batchId).sorted.lastOption
  }

  private def dropGenerationsBelow(root: String, cutoff: Long): Unit = {
    val dirs = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
    dirs.toSeq.filter(_.isDirectory).foreach { d =>
      val name = d.getName
      if (name.startsWith("g") && name.drop(1).forall(_.isDigit) &&
          name.drop(1).toLong < cutoff)
        try org.apache.commons.io.FileUtils.deleteDirectory(d)
        catch { case _: java.io.IOException => () }
    }
  }

  /** Streaming SCD2 maintenance COMPOSED with as-of fact enrichment — the
    * closing edge of the SCD2 family graph: each micro-batch of dimension
    * changes both folds into the persisted history ([[scd2MaintainStream]]'s
    * delta-cost `scd2Apply`) and re-enriches, in the SAME `foreachBatch`,
    * exactly the facts whose keys the batch touched — the production shape
    * where a streamed dimension update pipeline keeps a point-in-time
    * feature view current without ever rebuilding it. Settled (last
    * emission per fact, left-joined onto the full fact table so
    * never-touched users carry NULLs) the result equals the BATCH
    * [[graft.ops.Relational.scd2PointInTime]] — q141's DuckDB ASOF-join
    * oracle checks it end-to-end.
    *
    * Why last-emission-wins is exact: a key's change set only grows when a
    * batch touches that key, so the last batch touching user u enriches
    * u's facts against u's FINAL history; the append-only contract
    * (enforced inside scd2Apply) guarantees no later batch rewrites an
    * interval it didn't emit. Per-batch work is delta-sized on the
    * dimension side (scd2Apply) and touched-keys-sized on the fact side
    * (a semi-join routes only affected facts into the as-of window);
    * emissions are facts-of-touched-keys, so total emission volume tracks
    * key churn, not batches × facts. */
  def scd2EnrichStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ss = streamSession(spark)
    val onDisk = graft.Tables.parquet(ss, sfDir, Some("orders*.parquet")).schema
    val reader = ss.readStream
      .schema(onDisk)
      .option("pathGlobFilter", "orders*.parquet")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(sfDir)
    val root = graft.WorkDirs.fresh("stream_scd2e_hist")
    val emitRoot = graft.WorkDirs.fresh("stream_scd2e_emit")
    val chk = graft.WorkDirs.fresh("stream_scd2e_chk")
    // Generation-per-batchId + lazy deletion: same at-least-once replay
    // discipline as scd2MaintainStream (see its doc comment).
    val lastGen = new java.util.concurrent.atomic.AtomicLong(-1L)
    // The q141 fact framing: events re-dated onto the dimension's history
    // span by exact integer arithmetic (see Relational.scd2PointInTime).
    def factsOf(s: SparkSession): org.apache.spark.sql.DataFrame =
      graft.Tables.events(s, sfDir).select(col("event_id"), col("user_id"),
        date_add(lit("1995-01-01").cast("date"),
          (col("event_id") % 2400).cast("int"))
          .cast("timestamp").as("fact_ts"))
    // Seed the emissions dir with the TYPED empty emission (single empty
    // part file, schema in the footer — the nearDupAdmissionStream
    // discipline): a run whose batches all touch keys with no facts, or
    // that sees zero batches, still settles to a readable, correctly-
    // typed result instead of a schema-inference error.
    factsOf(ss).filter(lit(false))
      .select(col("event_id"), col("user_id"), col("fact_ts"),
        lit(null).cast("string").as("priority_at_fact"),
        lit(-1L).as("__gen"))
      .repartition(1).write.mode("overwrite").parquet(emitRoot)
    val q = stream.writeStream
      .option("checkpointLocation", chk)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val hist = latestGenerationBelow(root, batchId) match {
          case None => graft.ops.Relational.scd2Build(batch.filter(lit(false)))
          case Some(g) => graft.Tables.parquet(s, s"$root/g$g")
        }
        val next = graft.ops.Relational.scd2Apply(hist, batch.toDF())
        next.write.mode("overwrite").parquet(s"$root/g$batchId")
        lastGen.set(batchId)
        dropGenerationsBelow(root, batchId - 1)
        // Enrich ONLY the touched keys' facts against the key's
        // now-current history. History interval rows ARE change rows
        // (effective_from = change instant); same-instant ties collapse
        // to the winning version before the as-of, like scd2PointInTime.
        // A replayed epoch appends byte-identical rows under the same
        // __gen; the settle's last-generation-wins pick is indifferent
        // to duplicates of identical content.
        val keys = batch.select(col("o_custkey").as("user_id")).distinct()
        val changes = graft.Tables.parquet(s, s"$root/g$batchId")
          .join(keys, col("o_custkey") === keys("user_id"), "left_semi")
          .groupBy(col("o_custkey").as("user_id"), col("effective_from"))
          .agg(expr("max_by(o_orderpriority, version_n)").as("o_orderpriority"))
        val touchedFacts = factsOf(s).join(keys, Seq("user_id"), "left_semi")
        graft.ops.AsOfJoin.asOf(touchedFacts, changes, Seq("user_id"),
          "fact_ts", "effective_from", Seq("o_orderpriority"))
          .select(col("event_id"), col("user_id"), col("fact_ts"),
            col("o_orderpriority").as("priority_at_fact"),
            lit(batchId).as("__gen"))
          .write.mode("append").parquet(emitRoot)
        ()
      }
      .start()
    try q.processAllAvailable() finally {
      q.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(chk))
      catch { case _: java.io.IOException => () }
    }
    val facts = factsOf(spark)
    // The seed file guarantees emitRoot is always readable; the window
    // over __gen desc settles each fact to its LAST touching batch.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id")).orderBy(col("__gen").desc)
    val settled = graft.Tables.parquet(spark, emitRoot)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("event_id"), col("priority_at_fact"))
    facts.join(settled, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("fact_ts"),
        col("priority_at_fact"))
      .orderBy("event_id")
  }

  /** Per-user running totals as a Spark 4 `StatefulProcessor` — the
    * `transformWithState` replacement for [[userTotalsStateful]]'s
    * `flatMapGroupsWithState`: named typed state registered against the
    * processor handle instead of one opaque state value, TTL support, and
    * a RocksDB-backed store requirement. Same exact-cents accumulation. */
  private final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRec, UserTotals] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserRunningState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserRunningState]("totals",
        org.apache.spark.sql.Encoders.product[UserRunningState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[EventRec],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else UserRunningState(0L, 0L)
      var n = prev.n
      var cents = prev.cents
      rows.foreach { e => n += 1; cents += math.round(e.value * 100) }
      totals.update(UserRunningState(n, cents))
      Iterator.single(UserTotals(user, n, cents / 100.0))
    }
  }

  /** [[userTotalsStateful]] through the modern `transformWithState` API
    * (Spark 4's arbitrary-state surface): per-user totals in a named
    * RocksDB-backed ValueState, Append emissions per touched user per
    * micro-batch, settled to the last emission — must equal the batch
    * `GROUP BY user_id` exactly like the flatMapGroupsWithState form. */
  def userTotalsTransformWithState(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val name = s"graft_stream_tws_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    // transformWithState is only supported on the RocksDB state store.
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val totals = eventsStreamMicros(ss, sfDir, maxFilesPerTrigger)
      .as[EventRec]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
    val q = totals.toDF().writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val settled = ss.table(name)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .orderBy("user_id")
    settle(spark, name, settled)
  }

  /** Watermarked streaming dedup via `dropDuplicatesWithinWatermark` —
    * the bounded-state dedup that [[graft.streaming.DocumentStreams]]'
    * timestamp-less corpus can only document: at most one event per
    * (user, event_type, hour) survives, and the 2-hour watermark lets the
    * engine EXPIRE a key's state once no earlier arrival can still appear
    * — state is bounded by the watermark horizon × key rate, not stream
    * length. WHICH row of a duplicate group survives is arrival-order-
    * dependent (first wins), so the deterministic, carve-invariant result
    * is the KEY SET — exactly the batch `SELECT DISTINCT` (every key's
    * occurrences share an hour, and 2 h watermark ≥ the 1 h key span, so
    * no key can ever re-emit; StreamingSpec also replays it multi-batch). */
  def watermarkDedupStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val id = runId.incrementAndGet()
    val ss = streamSession(spark)
    val deduped = eventsStream(ss, sfDir, maxFilesPerTrigger)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")
      .select(col("user_id"), col("event_type"), col("hour"))
    // This sink's output is the distinct KEY SET — it grows linearly with
    // users × hours, unlike every other settled sink here (bounded
    // aggregates). The memory sink would funnel it through the driver
    // (settle's cap rightly refused it at the 30x sweep, ~3M rows), so it
    // streams to a distributed FILE sink instead and is read back as an
    // ordinary parquet scan — end-to-end distributed, no driver collect,
    // which is how a production job would land it anyway.
    val sinkDir = graft.WorkDirs.fresh(s"stream_wmdedup_sink_$id")
    val chkDir = graft.WorkDirs.fresh(s"stream_wmdedup_chk_$id")
    val q = deduped.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", chkDir)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.schema(deduped.schema).parquet(sinkDir)
      .orderBy("user_id", "event_type", "hour")
  }

  /** Streaming conversion funnel — [[graft.ops.Events.funnel]] run
    * incrementally under `flatMapGroupsWithState`, settled output equal to
    * the batch funnel (and therefore to q112's DuckDB oracle) REGARDLESS
    * of how arrival is carved into micro-batches.
    *
    * The interesting part is keeping state bounded under out-of-order
    * arrival. The chain is t0 = first view, t1 = first click in
    * (t0, t0+W], t2 = first purchase in (t1, t1+W] — and a late-arriving
    * EARLIER view moves t0 backward, which can re-qualify clicks that
    * were previously outside the window. Storing every event would make
    * state grow with volume; instead the state keeps only what any future
    * arrival could still need: t0 is monotone non-increasing, so clicks
    * above t0+W and purchases above t0+2W (since t1 ≤ t0+W always) can
    * NEVER qualify again and are pruned each batch. State is therefore
    * bounded by the user's activity inside a 2-window horizon after the
    * first view — the production-shape bound for funnel analytics.
    * Emissions carry a strictly-monotone per-user event count; the
    * settled row is the last emission (max count), recomputed exactly
    * from pruned state, then folded to the q112 stage-count schema. */
  def funnelStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      windowHours: Int = 24): DataFrame = {
    import spark.implicits._
    require(stages.size == 3, "funnelStream implements the 3-stage chain")
    val W = windowHours.toLong * 3600L * 1000000L // micros (EventRec.ts)
    val name = s"graft_stream_funnel_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    val Seq(sView, sClick, sPurchase) = stages
    val progress = eventsStreamMicros(ss, sfDir, maxFilesPerTrigger)
      .filter(col("event_type").isin(stages: _*))
      .as[EventRec]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[EventRec], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(
            FunnelState(Long.MaxValue, Nil, Nil, 0L))
          var minView = prev.minView
          var clicks = prev.clicks
          var purchases = prev.purchases
          var n = prev.nSeen
          events.foreach { e =>
            n += 1
            e.event_type match {
              case `sView` => if (e.ts < minView) minView = e.ts
              case `sClick` => clicks ::= e.ts
              case `sPurchase` => purchases ::= e.ts
              case _ => ()
            }
          }
          if (minView != Long.MaxValue) { // guard: MaxValue + W overflows
            clicks = clicks.filter(_ <= minView + W)
            purchases = purchases.filter(_ <= minView + 2 * W)
          }
          state.update(FunnelState(minView, clicks, purchases, n))
          val t0 = if (minView == Long.MaxValue) None else Some(minView)
          val t1 = t0.flatMap(v =>
            clicks.filter(c => c > v && c <= v + W).minOption)
          val t2 = t1.flatMap(c =>
            purchases.filter(p => p > c && p <= c + W).minOption)
          val stage =
            if (t2.isDefined) 3 else if (t1.isDefined) 2
            else if (t0.isDefined) 1 else 0
          Iterator(FunnelProgress(uid, n, stage))
      }
    val q = progress.toDF().writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val last = ss.table(name)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val counted = last.agg(
      sum(when(col("stage_reached") >= 1, 1L).otherwise(0L)).as("__c0"),
      sum(when(col("stage_reached") >= 2, 1L).otherwise(0L)).as("__c1"),
      sum(when(col("stage_reached") >= 3, 1L).otherwise(0L)).as("__c2"))
    val out = counted
      .select(explode(array(stages.zipWithIndex.map { case (st, i) =>
        struct(lit(i + 1).cast(IntegerType).as("stage_idx"),
          lit(st).as("stage"),
          coalesce(col(s"__c$i"), lit(0L)).as("users"))
      }: _*)).as("s"))
      .select(col("s.stage_idx").as("stage_idx"), col("s.stage").as("stage"),
        col("s.users").as("users"))
      .orderBy("stage_idx")
    settle(spark, name, out)
  }

  /** Watermarked stream-stream interval join — the attribution workload:
    * each view event joined to the same user's purchase events landing
    * within one hour after it. Both sides carry event-time watermarks and
    * the join condition bounds `purchase_ts` to a window anchored at
    * `view_ts`, which is exactly what lets the engine EXPIRE buffered rows:
    * a view older than (watermark − 1 hour) can never match a future
    * purchase, so per-side state is bounded by the watermark horizon × rate,
    * not by stream length. Append mode — each matched pair is emitted
    * exactly once.
    *
    * The settled result equals the batch interval join (same predicates on
    * the static frame): an inner join emits a pair exactly when both rows
    * exist, regardless of micro-batch carving, provided no row arrives
    * later than the watermark slack — with the fixture's time-ordered
    * files and a 2-hour watermark nothing is dropped (StreamingSpec
    * asserts equality against the batch join). */
  def attributionJoinStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val name = s"graft_stream_join_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    def side(tag: String, eventType: String): DataFrame = {
      eventsStream(ss, sfDir, maxFilesPerTrigger)
        .filter(col("event_type") === eventType)
        .select(col("event_id").as(s"${tag}_id"),
          col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
        .withWatermark(s"${tag}_ts", "2 hours")
    }
    val joined = side("view", "view").join(side("purchase", "purchase"),
        col("view_user") === col("purchase_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("purchase_id"),
        col("view_user").as("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
          .as("micros_to_purchase"))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    settle(spark, name, ss.table(name).orderBy("view_id", "purchase_id"))
  }

  /** Detach a settled result from its memory sink: the sink's temp view
    * pins the FULL emission history in driver memory for the session's
    * lifetime, so repeated invocations (bench best-of-2, test suites) would
    * accumulate copies without bound. The settled output is the bounded
    * verification artifact — materialize it locally, drop the view. */
  private[graft] val SettleMaxRows = 2000000

  /** Streaming Markov transition matrix — [[graft.ops.Events.eventTransitions]]
    * run incrementally under `flatMapGroupsWithState`, settled output equal
    * to the batch matrix (and q133's oracle) for any arrival whose
    * lateness stays inside `horizon` (the watermark-style contract of
    * [[watermarkDedupStream]]; arbitrary-disorder feeds need the
    * full-buffer degenerate case `horizon = Long.MaxValue`).
    *
    * State is bounded the way a production bigram counter must be: an
    * adjacent pair (a, b) is FINAL once b.ts falls `horizon` behind the
    * user's max event time — no in-contract late arrival can land between
    * a and b — so its count folds into a #types² map and `a` leaves the
    * buffer. What remains per user is the count map plus only the events
    * inside the lateness horizon (and the one frontier event that will
    * pair with the next arrival): activity-rate × horizon, not stream
    * length. Each batch emits the user's full current bigram multiset
    * (counts ⊕ buffer pairs, ≤ #types² + horizon-buffer rows) under a
    * strictly-monotone `n_seen`; the settled read keeps the last emission
    * per user and aggregates across users. */
  def transitionsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      horizonHours: Int = 2): DataFrame = {
    import spark.implicits._
    val H =
      if (horizonHours == Int.MaxValue) Long.MaxValue
      else horizonHours.toLong * 3600L * 1000000L
    val name = s"graft_stream_trans_${runId.incrementAndGet()}"
    val ss = streamSession(spark)
    val emitted = eventsStreamMicros(ss, sfDir, maxFilesPerTrigger)
      .as[EventRec]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransitionsState, TransitionEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[EventRec], state: GroupState[TransitionsState]) =>
          val prev = state.getOption.getOrElse(
            TransitionsState(Nil, Map.empty, Long.MinValue, 0L))
          var maxTs = prev.maxTs
          var n = prev.nSeen
          val incoming = events.map { e =>
            n += 1
            if (e.ts > maxTs) maxTs = e.ts
            (e.ts, e.event_id, e.event_type)
          }.toList
          // Buffer sorted by the same (ts, id) total order the batch
          // operator uses; intra-batch arrival order is irrelevant.
          val buf = (prev.buffer ++ incoming).sortBy(t => (t._1, t._2))
          val frontier = if (H == Long.MaxValue) Long.MinValue else maxTs - H
          // Finalize the adjacent pairs whose RIGHT endpoint is beyond any
          // in-contract late arrival; the left endpoints leave the buffer,
          // the last finalized event stays as the pairing frontier.
          var counts = prev.counts
          var k = 0
          while (k + 1 < buf.length && buf(k + 1)._1 < frontier) {
            val key = buf(k)._3 + "\u0000" + buf(k + 1)._3
            counts = counts.updated(key, counts.getOrElse(key, 0L) + 1L)
            k += 1
          }
          val kept = buf.drop(k)
          state.update(TransitionsState(kept, counts, maxTs, n))
          // Snapshot emission: finalized counts plus the still-open pairs.
          var snap = counts
          kept.sliding(2).foreach {
            case List(a, b) =>
              val key = a._3 + "\u0000" + b._3
              snap = snap.updated(key, snap.getOrElse(key, 0L) + 1L)
            case _ => ()
          }
          snap.iterator.map { case (key, c) =>
            val Array(from, to) = key.split("\u0000", 2)
            TransitionEmit(uid, n, from, to, c)
          }
      }
    val q = emitted.toDF().writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    val lastSnap = ss.table(name)
      .withColumn("__rx", dense_rank().over(w))
      .filter(col("__rx") === 1)
    val totals = lastSnap
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n_transitions"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    val out = totals
      .withColumn("p_transition",
        round(col("n_transitions") / sum(col("n_transitions")).over(wt), 6))
      .orderBy("from_type", "to_type")
    settle(spark, name, out)
  }

  private[graft] def settle(spark: SparkSession, sinkName: String,
      result: DataFrame, maxRows: Int = SettleMaxRows): DataFrame = {
    // Hard cap on the driver materialization: every settled output today is
    // a bounded aggregate, but nothing structural enforces that — a future
    // append-mode query over a bigger fixture would silently OOM the driver
    // here. limit(max+1) bounds the fetch itself, so the failure is this
    // message, not an OutOfMemoryError.
    val rows = result.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"settle($sinkName): settled stream output exceeds $maxRows rows — " +
        "this sink's result is not a bounded aggregate; write it to a " +
        "distributed sink instead of settling through the driver")
    val schema = result.schema
    // The memory sink's temp view lives in whichever session STARTED the
    // query (a tuned child session when streamSession is in play).
    result.sparkSession.catalog.dropTempView(sinkName)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }
}
