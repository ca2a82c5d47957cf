package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.vector_to_array

import graft.Tables
import graft.fs.{FeatureLookup, FeatureStore, TrainingSet}
import graft.ingest.CsvIngest
import graft.ml.{ScoringModel, Trainer}

/** The feature-store lifecycle through the `fs`, `ingest` and `ml` APIs,
  * with writes beside reads:
  *
  *  1. CSV ingest with schema inference, then `createTable` for customer,
  *     part and supplier; a per-order table and a timestamped per-user
  *     table derived from `events`.
  *  2. A training set over a seeded lineitem label sample with three
  *     untimed lookups, materialized once.
  *  3. A point-in-time training set over a seeded events sample.
  *  4. `stratifiedSplit` + `fit` with q109's parameters, then `scoreBatch`
  *     over held-out key-only rows, some with absent customer keys.
  *  5. A closed loop of `scoreOne` calls.
  *  6. `upsert` of a seeded customer change batch with new keys, then a
  *     second `scoreOne` loop whose first call rebuilds the point index.
  *  7. A closed loop of `lookupOneScan` calls on the per-order table.
  *
  * Inputs come from the seed and are generated off the clock; the engine
  * receives only the generated files. */
final class Lifecycle(o: Opts) extends Workload {
  import Lifecycle._
  import Main.spark

  private val dir = s"${o.work}/inputs"
  private var passNo = 0
  private val scoreOneMs = mutable.ArrayBuffer.empty[Double]
  private val scanMs = mutable.ArrayBuffer.empty[Double]
  private val steps = mutable.LinkedHashMap.empty[String, Double]
  private var scoreBatchRowsPerS = 0.0
  private var scoreInputRows = 0L
  private var scoreKeys: IndexedSeq[(Long, Long, Long, Long)] = IndexedSeq.empty // rid, cust, part, supp
  private var scanKeys: IndexedSeq[Long] = IndexedSeq.empty
  private var changes: Map[Long, Double] = Map.empty // custkey -> new c_acctbal
  private var customerRows = 0L
  private var maxCustomerKey = 0L
  private var labelRows = 0L
  private var pitLabelRows = 0L
  // Space accounting of the traced pass's store.
  private var storeDir = ""
  private var createBytes = 0L
  private var createFiles = 0L
  private var changeBytes = 0L
  private var customerLiveBytes = 0L
  private var customerAllBytes = 0L
  private var trainingSetBroadcastJoins = 0

  private val lookups = Seq(
    FeatureLookup("customer", Seq("c_acctbal", "c_mktsegment"), "o_custkey", Some("c_custkey")),
    FeatureLookup("part", Seq("p_retailprice", "p_size", "p_brand"), "l_partkey", Some("p_partkey")),
    FeatureLookup("supplier", Seq("s_acctbal"), "l_suppkey", Some("s_suppkey")))

  /** Seeded inputs, written under the run's work directory. */
  def prepare(): Unit = Spans("generate", "generate") {
    val seed = lit(o.seed)
    def bucket(n: Long, cs: String*) = pmod(xxhash64((cs.map(col) :+ seed): _*), lit(n))
    def csv(df: DataFrame, key: String, name: String): Unit =
      df.orderBy(xxhash64(col(key), seed)).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(s"$dir/$name")
    val customer = Tables.customer(spark, o.sfDir)
    csv(customer, "c_custkey", "customer")
    csv(Tables.part(spark, o.sfDir), "p_partkey", "part")
    csv(Tables.supplier(spark, o.sfDir), "s_suppkey", "supplier")
    customerRows = customer.count()

    val facts = Tables.lineitem(spark, o.sfDir)
      .join(Tables.orders(spark, o.sfDir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("b", bucket(1000, "l_orderkey", "l_linenumber", "l_partkey"))
    facts.filter(col("b") < LabelPerMille)
      .select(col("o_custkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_returnflag") === lit("R")).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/labels")
    // Held-out key-only rows; ~5% carry a customer key no table holds.
    val absent = pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(o.seed + 1)), lit(100L)) < lit(AbsentPct)
    facts.filter(col("b") >= LabelPerMille && col("b") < LabelPerMille + ScorePerMille)
      .select(
        row_number().over(Window.orderBy(xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), seed),
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))).cast("long").as("rid"),
        when(absent, -col("o_custkey") - 1).otherwise(col("o_custkey")).as("o_custkey"),
        col("l_partkey"), col("l_suppkey"))
      .write.mode("overwrite").parquet(s"$dir/score_input")
    Tables.events(spark, o.sfDir).filter(bucket(100, "event_id") < lit(PitPct))
      .select(col("user_id"), col("ts"), (col("event_type") === lit("purchase")).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/pit_labels")
    // ~1% of customers change balance; NewKeys customers are new.
    val changed = customer.filter(bucket(100, "c_custkey") === lit(0L))
      .withColumn("c_acctbal", round(col("c_acctbal") + lit(1000.25), 2))
    maxCustomerKey = customer.agg(max(col("c_custkey"))).head().getAs[Number](0).longValue
    val base = maxCustomerKey + 1 + (o.seed.abs % 1000L) * 100L
    val fresh = spark.range(NewKeys).select(
      (lit(base) + col("id")).cast(customer.schema("c_custkey").dataType).as("c_custkey"),
      concat(lit("Customer#new"), col("id").cast("string")).as("c_name"),
      pmod(col("id"), lit(25L)).cast(customer.schema("c_nationkey").dataType).as("c_nationkey"),
      round(col("id") * lit(37.5) + lit(0.5), 2).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (pmod(col("id"), lit(5L)) + 1).cast("int")).as("c_mktsegment"))
    csv(changed.unionByName(fresh), "c_custkey", "changes")

    val sr = spark.read.parquet(s"$dir/score_input").orderBy("rid").collect()
    scoreKeys = sr.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toIndexedSeq
    scoreInputRows = sr.length.toLong
    val ok = Tables.orders(spark, o.sfDir).select("o_orderkey")
      .orderBy(xxhash64(col("o_orderkey"), seed), col("o_orderkey")).limit(ScanKeys).collect().map(_.getLong(0))
    scanKeys = ok.zipWithIndex.map { case (k, i) => if (i % 20 == 7) -k - 1 else k }.toIndexedSeq
    changes = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/changes")
      .select(col("c_custkey").cast("long"), col("c_acctbal").cast("double")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    labelRows = spark.read.parquet(s"$dir/labels").count()
    pitLabelRows = spark.read.parquet(s"$dir/pit_labels").count()
    changeBytes = Files.bytes(s"$dir/changes")
  }

  private def step[T](name: String, kind: String, t: Tally)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = t.op(name)(Spans(name, kind, name)(body))
    steps(name) = steps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  private def scoreOneLoop(model: ScoringModel, store: FeatureStore, t: Tally, calls: Int,
      from: Int): Int = {
    var i = 0
    while (i < calls) {
      val (_, c, p, s) = scoreKeys((from + i) % scoreKeys.size)
      val t0 = System.nanoTime()
      val r = t.op("scoreOne")(Spans("score_one", "ml.Scorer.score_one", "score_one")(
        model.scoreOne(store, Map("o_custkey" -> c, "l_partkey" -> p, "l_suppkey" -> s))))
      scoreOneMs += (System.nanoTime() - t0) / 1e6
      r.foreach(x => if (x.isEmpty) t.fail(s"scoreOne($c,$p,$s) returned no row"))
      i += 1
    }
    i
  }

  /** One lifecycle pass against a fresh store, with or without the loops. */
  private def pass(t: Tally, loops: Boolean): Double = {
    passNo += 1
    steps.clear()
    storeDir = s"${o.work}/store$passNo"
    val store = new FeatureStore(spark, storeDir)
    Main.openProbe(o)

    step("create_tables", "fs.create", t) {
      for ((name, key) <- Seq("customer" -> "c_custkey", "part" -> "p_partkey", "supplier" -> "s_suppkey")) {
        val df = Spans(name, "ingest.CsvIngest.infer")(CsvIngest.readInferred(spark, s"$dir/$name"))
        Spans(name, "fs.FeatureStore.create")(store.createTable(name, Seq(key), df))
      }
      Spans("orders", "fs.FeatureStore.create")(store.createTable("orders", Seq("o_orderkey"),
        Tables.orders(spark, o.sfDir).select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderstatus", "o_orderpriority")))
      Spans("user_activity", "fs.FeatureStore.create")(store.createTable("user_activity",
        Seq("user_id", "feature_ts"),
        Tables.events(spark, o.sfDir)
          .groupBy(col("user_id"), (date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR")).as("feature_ts"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))))
    }
    createBytes = Files.bytes(storeDir)
    createFiles = Files.dataFiles(storeDir)

    val labels = spark.read.parquet(s"$dir/labels")
    val ts = step("training_set", "fs.training_set", t) {
      val df = Spans("assemble", "fs.TrainingSet.assemble")(
        TrainingSet.fromStore(store, labels, lookups, Some("label"),
          Seq("o_custkey", "l_partkey", "l_suppkey")).loadDf)
      val out = Spans("materialize", "fs.TrainingSet.exec")(df.localCheckpoint(eager = true))
      trainingSetBroadcastJoins = PlanShape.broadcastJoins(df.queryExecution.executedPlan)
      out
    }
    ts.foreach(df => Spans("check", "check")(t.check("training-set rows equal label rows")(df.count() == labelRows)))

    val pitLabels = spark.read.parquet(s"$dir/pit_labels")
    val pit = step("pit_training_set", "fs.pit_training_set", t) {
      val df = Spans("assemble", "fs.TrainingSet.assemble")(TrainingSet.fromStore(store, pitLabels,
        Seq(FeatureLookup("user_activity", Seq("n_events", "sum_value"), "user_id",
          timestampLookupKey = Some("ts"), tableTimestampKey = Some("feature_ts"))), Some("label")).loadDf)
      Spans("exec", "ops.AsOfJoin.exec")(df.write.format("noop").mode("overwrite").save())
      df
    }
    pit.foreach(df => Spans("check", "check")(t.check("pit training-set rows equal label rows")(df.count() == pitLabelRows)))

    val model = ts.flatMap { df =>
      step("train", "ml.train", t) {
        val (train, _) = Spans("split", "ml.Trainer.split")(Trainer.stratifiedSplit(df, "label", 0.8, 42L))
        val pm = Spans("fit", "ml.Trainer.fit")(Trainer.fit(train, "label", Trainer.TrainParams(maxIter = MaxIter)))
        ScoringModel(pm, lookups)
      }
    }
    val scoreInput = spark.read.parquet(s"$dir/score_input")
    var batch: Option[DataFrame] = None
    model.foreach { m =>
      val t0 = System.nanoTime()
      batch = step("score_batch", "ml.score_batch", t)(
        m.scoreBatch(store, scoreInput).localCheckpoint(eager = true))
      scoreBatchRowsPerS = scoreInputRows / ((System.nanoTime() - t0) / 1e9)
    }

    // Fixed work per run, scaled by the run's seconds: each loop's wall
    // moves with the per-call latency it measures.
    val scoreCalls = math.max(MinScoreOneCalls, (ScoreOneCallsPerSecond * o.seconds).toInt)
    val scanCalls = math.max(MinScanCalls, (ScanCallsPerSecond * o.seconds).toInt)
    for (m <- model; if loops) {
      // Off the clock: first-use compilation of the scoring path and the
      // first point-index builds.
      Spans("warm_score_one", "warmup")((0 until WarmScoreOneCalls).foreach { i =>
        val (_, c, p, s) = scoreKeys(scoreKeys.size - 1 - i % scoreKeys.size)
        m.scoreOne(store, Map("o_custkey" -> c, "l_partkey" -> p, "l_suppkey" -> s))
      })
      val n1 = step("score_one_loop", "ml.score_one_loop", t)(scoreOneLoop(m, store, t, scoreCalls, 0))
      Spans("check", "check")(checkScores(m, store, batch, t))
      runUpsert(store, t)
      step("score_one_loop_after_upsert", "ml.score_one_loop", t)(
        scoreOneLoop(m, store, t, scoreCalls, n1.getOrElse(0)))
      Spans("check", "check")(checkUpsert(store, t))
      step("scan_loop", "fs.scan_loop", t)(scanLoop(store, t, scanCalls))
    }
    if (!loops) runUpsert(store, t)
    spark.catalog.clearCache()
    Seq("create_tables", "training_set", "pit_training_set", "train", "score_batch", "upsert")
      .map(steps.getOrElse(_, 0.0)).sum
  }

  private def runUpsert(store: FeatureStore, t: Tally): Unit = {
    step("upsert", "fs.upsert", t) {
      val ch = Spans("changes", "ingest.CsvIngest.infer_changes")(CsvIngest.readInferred(spark, s"$dir/changes"))
      Spans("upsert", "fs.FeatureStore.upsert")(store.upsert("customer", ch))
    }
    customerLiveBytes = Files.bytes(s"$storeDir/customer")
    customerAllBytes = customerLiveBytes + Files.bytes(s"$storeDir/_graft_versions/customer")
  }

  private def scanLoop(store: FeatureStore, t: Tally, calls: Int): Unit = {
    var i = 0
    while (i < calls) {
      val k = scanKeys(i % scanKeys.size)
      val t0 = System.nanoTime()
      val r = t.op("lookupOneScan")(Spans("scan", "fs.FeatureResolver.scan", "scan")(store.lookupOneScan("orders", k)))
      scanMs += (System.nanoTime() - t0) / 1e6
      r.foreach { row =>
        val ok = if (k < 0) row.isEmpty else row.exists(_.getAs[Long]("o_orderkey") == k)
        if (!ok) t.fail(s"lookupOneScan(orders, $k) returned $row")
      }
      i += 1
    }
  }

  /** scoreOne and scoreBatch agree on the same keys, absent keys included. */
  private def checkScores(m: ScoringModel, store: FeatureStore, batch: Option[DataFrame], t: Tally): Unit =
    batch.foreach { b =>
      val sample = scoreKeys.take(CheckedScores)
      val byRid = b.filter(col("rid").isin(sample.map(_._1): _*))
        .select(col("rid"), col("prediction"), vector_to_array(col("probability")).getItem(1))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      sample.foreach { case (rid, c, p, s) =>
        t.check(s"scoreOne equals scoreBatch for rid $rid") {
          val one = m.scoreOne(store, Map("o_custkey" -> c, "l_partkey" -> p, "l_suppkey" -> s)).get
          val prob = one.getAs[org.apache.spark.ml.linalg.Vector]("probability")(1)
          byRid.get(rid).exists { case (pred, pb) =>
            pred == one.getAs[Double]("prediction") && math.abs(pb - prob) <= 1e-9 }
        }
      }
    }

  /** The upsert kept the primary key unique and both read paths see it. */
  private def checkUpsert(store: FeatureStore, t: Tally): Unit = {
    val table = store.readTable("customer")
    t.check("customer primary key unique after upsert") {
      table.groupBy("c_custkey").count().filter(col("count") > 1).isEmpty
    }
    val newKeys = changes.keySet.count(_ > maxCustomerKey)
    t.check("customer rows after upsert") { table.count() == customerRows + newKeys }
    // Changed keys and new keys alike.
    val (fresh, changed) = changes.toSeq.sortBy(_._1).partition(_._1 > maxCustomerKey)
    (changed.take(CheckedUpserts / 2) ++ fresh.take(CheckedUpserts / 2)).foreach { case (k, bal) =>
      def sees(r: Option[Row]) = r.exists(x => x.getAs[Double]("c_acctbal") == bal)
      val t0 = System.nanoTime()
      val one = Spans("lookup_one", "fs.FeatureResolver.lookup_one")(store.lookupOne("customer", k))
      lookupOneUs += (System.nanoTime() - t0) / 1e3
      t.check(s"lookupOne sees upsert of $k")(sees(one))
      t.check(s"lookupOneScan sees upsert of $k")(sees(store.lookupOneScan("customer", k)))
    }
  }

  private val lookupOneUs = mutable.ArrayBuffer.empty[Double]

  /** Traced runs only: one untimed pass of the steps, so that the traced
    * window and its untraced repeat both start warm and
    * `trace.overhead_frac` compares like with like. An untraced run
    * measures the process's first pass. */
  override def warmUp(t: Tally): Unit = if (o.trace) Spans("warm_pass", "warmup")(pass(t, loops = false))

  private var looped = false

  /** The first window runs the loops; a traced run's untraced repeat
    * repeats the steps alone. */
  def window(t: Tally): Double = {
    val loops = !looped
    looped = true
    pass(t, loops)
  }

  def detail(): Map[String, Any] = Map("steps_s" -> steps.toMap, "score_one_calls" -> scoreOneMs.size,
    "scan_calls" -> scanMs.size, "generate_s" -> Spans.ofKind("generate").map(_.seconds).sum)

  def endToEnd(): Map[String, Double] = Map(
    "wall_s" -> steps.values.sum,
    "op_gmean_ms" -> Stats.geomean(scoreOneMs.toSeq))

  def layers(tr: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val jobs = tr.jobsBySpan(spans)
    val plans = tr.plansBySpan(spans)
    def kind(k: String) = spans.filter(_.kind == k)
    def jobsOf(ss: Seq[Span]) = ss.flatMap(s => jobs.getOrElse(s.id, Nil))
    def agg(ss: Seq[Span]) = { val a = new TaskAgg; jobsOf(ss).foreach(j => a += j.agg); a }
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum

    m("Tables.load_s") = secs(kind("Tables.load"))
    m("Tables.load_jobs") = jobsOf(kind("Tables.load")).size.toDouble
    // Step walls: what a feature-store user waits for at each stage.
    m("fs.FeatureStore.create_s") = steps.getOrElse("create_tables", 0.0)
    m("fs.TrainingSet.load_s") = steps.getOrElse("training_set", 0.0)
    m("fs.TrainingSet.pit_load_s") = steps.getOrElse("pit_training_set", 0.0)
    m("ml.Trainer.train_s") = steps.getOrElse("train", 0.0)
    m("fs.FeatureStore.upsert_s") = steps.getOrElse("upsert", 0.0)
    m("ml.Scorer.score_batch_rows_per_s") = scoreBatchRowsPerS
    m("ml.Scorer.score_one_p50_ms") = Stats.median(scoreOneMs.toSeq)
    m("ml.Scorer.score_one_p95_ms") = Stats.quantile(scoreOneMs.toSeq, 0.95)
    m("fs.FeatureResolver.scan_p50_ms") = Stats.median(scanMs.toSeq)

    val infer = kind("ingest.CsvIngest.infer")
    m("ingest.CsvIngest.infer_s") = secs(infer)
    m("ingest.CsvIngest.infer_jobs") = jobsOf(infer).size.toDouble
    val create = kind("fs.FeatureStore.create")
    m("fs.FeatureStore.create_jobs") = jobsOf(create).size.toDouble
    m("fs.FeatureStore.create_bytes_written") = createBytes.toDouble
    m("fs.FeatureStore.create_files") = createFiles.toDouble
    val upsert = kind("fs.FeatureStore.upsert")
    m("fs.FeatureStore.upsert_jobs") = jobsOf(upsert).size.toDouble
    m("fs.FeatureStore.upsert_write_amp") = agg(upsert).output.toDouble / changeBytes.max(1L)
    m("fs.FeatureStore.space_amp") = customerAllBytes.toDouble / customerLiveBytes.max(1L)

    // Point index: extra wall of the scoreOne calls that launched the
    // index-building read, over the median call.
    val one = kind("ml.Scorer.score_one")
    val med = Stats.median(one.map(_.seconds))
    m("fs.FeatureResolver.index_build_s") =
      one.filter(s => jobs.getOrElse(s.id, Nil).exists(_.callSite.contains("FeatureResolver")))
        .map(_.seconds - med).sum
    m("fs.FeatureResolver.lookup_one_p50_us") = if (lookupOneUs.isEmpty) 0.0 else Stats.median(lookupOneUs.toSeq)
    val scans = kind("fs.FeatureResolver.scan")
    m("fs.FeatureResolver.scan_jobs_per_call") = jobsOf(scans).size.toDouble / scans.size.max(1)

    val tsExec = kind("fs.TrainingSet.exec")
    m("fs.TrainingSet.exec_s") = secs(tsExec)
    m("fs.TrainingSet.shuffle_bytes") = agg(tsExec).shuffleWrite.toDouble
    m("fs.TrainingSet.broadcast_joins") = trainingSetBroadcastJoins.toDouble

    val asof = kind("ops.AsOfJoin.exec")
    m("ops.AsOfJoin.exec_s") = secs(asof)
    m("ops.AsOfJoin.jobs") = jobsOf(asof).size.toDouble
    m("ops.AsOfJoin.shuffle_bytes") = agg(asof).shuffleWrite.toDouble

    m("ml.Trainer.split_s") = secs(kind("ml.Trainer.split"))
    val fit = kind("ml.Trainer.fit")
    m("ml.Trainer.fit_jobs") = jobsOf(fit).size.toDouble
    m("ml.Trainer.fit_task_cpu_s") = agg(fit).cpuNs / 1e9

    m("ml.Scorer.score_one_jobs_per_call") = jobsOf(one).size.toDouble / one.size.max(1)
    val planS = one.flatMap(s => plans.getOrElse(s.id, Nil))
      .map(p => p.analysisS + p.optimizationS + p.planningS).sum
    m("ml.Scorer.score_one_plan_share") = planS / secs(one).max(1e-9)

    // Execution of every timed step's plans.
    val timed = spans.filter(s => s.query.nonEmpty && s.kind != "check" && !s.kind.startsWith("Tables"))
    val top = timed.filter(s => s.parent == 0 || !timed.exists(_.id == s.parent))
    m ++= Layers.execMetrics(top.map(_.seconds).sum, jobsOf(timed).distinct,
      timed.flatMap(s => plans.getOrElse(s.id, Nil)), o.cores, 1)
    m.toMap
  }
}

object Lifecycle {
  val LabelPerMille = 20L    // ~12k lineitem labels at sf0.1
  val ScorePerMille = 5L     // ~3k held-out scoring rows
  val AbsentPct = 5L
  val PitPct = 10L           // ~10k events labels
  val NewKeys = 30L
  val ScanKeys = 300
  // q109's parameters except maxIter (20 there): ten boosting rounds keep
  // the fit inside the run budget; the fit's cost is per round.
  val MaxIter = 10
  // At 10 s, each reported percentile keeps at least ten samples beyond
  // it: p95 over the two scoreOne loops, p50 over the scans (a scan is a
  // Spark job, ~150 ms at sf0.1). With half the scoreOne calls, their
  // geometric mean spread ~13% between seeds.
  val ScoreOneCallsPerSecond = 12.0
  val ScanCallsPerSecond = 2.0
  val WarmScoreOneCalls = 100
  val MinScoreOneCalls = 10
  val MinScanCalls = 10
  val CheckedScores = 20
  val CheckedUpserts = 10
}

/** File-system sizes of what the store wrote. */
object Files {
  private def walk(p: String): Seq[java.io.File] = {
    val f = new java.io.File(p)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).flatMap(c => walk(c.getPath))
  }
  def bytes(p: String): Long = walk(p).filterNot(_.getName.endsWith(".crc")).map(_.length).sum
  def dataFiles(p: String): Long =
    walk(p).count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")).toLong
}
