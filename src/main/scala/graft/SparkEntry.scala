package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, col, count, expr, lit, pmod, round}

import graft.dedup.Dedup
import graft.fs.{CatalogFeatureStore, FeatureLookup, FeatureStore, LookupHint, TrainingSet}
import graft.multimodal.Multimodal
import graft.ops.{Events, Relational, Validation}
import graft.sim.Similarity
import graft.streaming.{DocumentStreams, EventStreams}
import graft.text.TextOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named query
  * over the testdata star schema; queries with an ANSI-SQL equivalent carry
  * a DuckDB oracle in [[oracleSql]] (same column names, deterministic ORDER
  * BY, decimal-exact aggregation — see [[graft.ops.Relational]] docs for the
  * numeric-parity convention).
  */
object SparkEntry {

  /** Flagship: training-set assembly via declarative feature lookups —
    * the reference's central operator (SURVEY.md §2.3 J1) on the testdata
    * analog: lineitem facts enriched from the part and supplier dimensions,
    * join keys excluded (reference: 02_model_training.py:242-250). */
  def trainingSetAssembly(spark: SparkSession, sfDir: String): DataFrame = {
    val facts = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_returnflag")
    val lookups = Seq(
      FeatureLookup("part", Seq("p_brand", "p_retailprice"), "l_partkey",
        Some("p_partkey"), LookupHint.Broadcast) -> Tables.part(spark, sfDir),
      FeatureLookup("supplier", Seq("s_name", "s_acctbal"), "l_suppkey",
        Some("s_suppkey"), LookupHint.Broadcast) -> Tables.supplier(spark, sfDir))
    TrainingSet.fromFrames(facts, lookups,
        labelColumn = Some("l_returnflag"),
        excludeColumns = Seq("l_partkey", "l_suppkey"))
      .loadDf
      // (l_orderkey, l_linenumber) is not unique in the synthetic lineitem;
      // order by every output column so the result order is total.
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "p_brand", "p_retailprice", "s_name", "s_acctbal")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    trainingSetAssembly(spark, "/root/testdata/sf0.001")

  /** Fingerprint of the embeddings corpus under `d`. Memoized indexes key
    * on it so a rewritten corpus at the SAME path invalidates the cache
    * instead of serving stale probes (round-3 defect). One FS listing per
    * probe — noise next to the probe itself. */
  private def corpusFingerprint(s: SparkSession, d: String): String =
    graft.ArtifactMemo.tableFingerprint(s, s"$d/embeddings.parquet")

  /** Session-lifetime IVF index per corpus dir (see q34). Keyed by the
    * building session too: an index holds DataFrames bound to one session,
    * so a cached entry must never be served to a different (or restarted)
    * session — it is rebuilt instead. Also keyed by corpus fingerprint:
    * a rewrite at the same path rebuilds rather than serving stale cells. */
  private val ivfIndexes = scala.collection.concurrent.TrieMap
    .empty[String, (SparkSession, String, Similarity.IvfIndex)]
  private def ivfIndex(s: SparkSession, d: String): Similarity.IvfIndex = {
    val fp = corpusFingerprint(s, d)
    ivfIndexes.get(d) match {
      // The assignment must still be cached: anyone calling
      // spark.catalog.clearCache() silently unpersists it, and serving a
      // de-cached index would make every probe re-scan + re-assign the
      // corpus (the cost the index exists to amortize).
      case Some((owner, ofp, idx)) if (owner eq s) && ofp == fp &&
          idx.assigned.storageLevel != org.apache.spark.storage.StorageLevel.NONE => idx
      case _ =>
        val idx = Similarity.buildIvf(Tables.embeddings(s, d))
        ivfIndexes.put(d, (s, fp, idx))
        idx
    }
  }

  /** Session-lifetime PQ codebooks + encoded corpus per dir (see q92) —
    * the index contract again: train/encode once, probe many times; same
    * fingerprint-based invalidation as [[ivfIndex]]. */
  private val pqIndexes = scala.collection.concurrent.TrieMap
    .empty[String, (SparkSession, String, Similarity.PqCodebooks, DataFrame)]
  private def pqIndex(s: SparkSession, d: String): (Similarity.PqCodebooks, DataFrame) = {
    val fp = corpusFingerprint(s, d)
    pqIndexes.get(d) match {
      case Some((owner, ofp, cb, enc)) if (owner eq s) && ofp == fp &&
          enc.storageLevel != org.apache.spark.storage.StorageLevel.NONE => (cb, enc)
      case _ =>
        val cb = Similarity.pqTrain(Tables.embeddings(s, d))
        val enc = Similarity.pqEncode(Tables.embeddings(s, d), cb)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pqIndexes.put(d, (s, fp, cb, enc))
        (cb, enc)
    }
  }

  /** q162's persisted BASE IVF index — the 90% of the corpus that
    * "existed before" the admission batch (`vec_id % 10 != 0`), built and
    * saved once per corpus OFF the bench clock ([[warmIndexes]]), so the
    * timed query measures admission + probe: the O(batch) contract
    * [[Similarity.ivfAdmit]] exists for. Same memo discipline as the
    * graph artifact (corpus-unique generation paths, fingerprint
    * staleness on the embeddings files). */
  private val ivfAdmitBases = new graft.ArtifactMemo("ivf_admit_base")
  private def ivfAdmitBasePath(s: SparkSession, d: String): String = {
    val fp = corpusFingerprint(s, d)
    ivfAdmitBases.getOrBuild(d, fp) { path =>
      val idx = Similarity.buildIvf(
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) =!= 0))
      try Similarity.saveIvf(idx, path) finally idx.unpersist()
    }
  }

  /** q166's persisted BASE PQ index — codebooks trained and corpus
    * encoded over the same 90% "pre-existing" slice as
    * [[ivfAdmitBasePath]]'s, saved once per corpus off the clock, so the
    * timed query measures O(batch) code admission + the two-stage probe.
    * The fingerprint covers the embeddings files only: the admitted
    * delta rides an EXTERNAL scratch root (never this generation), so
    * there is nothing else the staleness key could legitimately cover —
    * keep it that way (round-11 ask #8 note on ivfAdmitBasePath). */
  private val pqAdmitBases = new graft.ArtifactMemo("pq_admit_base")
  private def pqAdmitBasePath(s: SparkSession, d: String): String = {
    val fp = corpusFingerprint(s, d)
    pqAdmitBases.getOrBuild(d, fp) { path =>
      val old = Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val cb = Similarity.pqTrain(old)
      Similarity.savePq(
        Similarity.pqEncode(graft.ops.Partitioning.spread(old), cb), cb, path)
    }
  }

  private val Z2 = Seq("l_partkey", "l_suppkey")

  /** lineitem's persisted copy clustered on (l_partkey, l_suppkey) — the
    * layout q85 scans and q90 prunes through the copy's skipping
    * manifest ([[lineitemZ2Skipping]]). */
  private def lineitemZ2(s: SparkSession, d: String): String =
    graft.ops.Layout.clusteredCopy(s, d, "lineitem", Z2)

  /** [[lineitemZ2]] with its skipping manifest — q90's layout. */
  private def lineitemZ2Skipping(s: SparkSession, d: String): String =
    graft.ops.Layout.skippingCopy(s, d, "lineitem", Z2)

  /** lineitem's persisted 3-D clustered copy — q103's layout. */
  private def lineitemZ3(s: SparkSession, d: String): String =
    graft.ops.Layout.clusteredCopy(s, d, "lineitem",
      Seq("l_partkey", "l_suppkey", "l_quantity"))

  /** Bench hook: ensure the session-lifetime IVF/PQ index memos for `d`
    * are built and cached — called OFF the clock before timing an
    * index-probe query, so a cache sweep between samples doesn't turn a
    * probe measurement into an index-rebuild measurement (the memo guard
    * rebuilds on eviction either way; this only moves the rebuild off the
    * timed path, honoring the build-once/probe-many contract the index
    * exists for). */
  def warmIndexes(s: SparkSession, d: String): Unit = {
    ivfIndex(s, d)
    pqIndex(s, d)
    graft.streaming.DocumentStreams.warmNearDupIndex(s, d)
    graft.ops.GraphEdges.warm(s, d)
    ivfAdmitBasePath(s, d)
    pqAdmitBasePath(s, d)
    lineitemZ2Skipping(s, d)
    lineitemZ3(s, d)
    ()
  }

  /** The queries whose timing depends on [[warmIndexes]]' memos. q148 is
    * here for its PERSISTED near-dup screening index (built once per
    * corpus by [[graft.streaming.DocumentStreams.warmNearDupIndex]]): with
    * the artifact warm, the timed run measures stream machinery + per-batch
    * screens — the build-once/screen-many contract the index exists for.
    * The graph queries are here for the co-purchase edge artifact
    * ([[graft.ops.GraphEdges]]): the distinct-basket self-join is built
    * once per corpus and every graph query LOADS it, so their timed runs
    * measure the iterative operator, not a per-query rebuild of the shared
    * derived table (round-9 ask #1). The z-order queries (q85, q90, q103)
    * are here for lineitem's persisted clustered copies
    * ([[graft.ops.Layout.clusteredCopy]]): their timed runs measure the
    * box scan over a warm layout, not the table rewrite. */
  val IndexBackedQueries: Set[String] = Set(
    "q34_ivf_topk", "q67_ivf_knn", "q85_zorder_scan", "q90_skipping_scan",
    "q92_pq_topk", "q101_ivf_cold_lookup", "q103_zorder_nd_scan",
    "q110_ann_recall", "q148_stream_neardup",
    "q149_copurchase_pagerank", "q150_copurchase_components",
    "q151_pagerank_subgraph", "q152_components_subgraph",
    "q153_copurchase_triangles", "q154_link_prediction",
    "q155_pagerank_converged_subgraph", "q156_clustering_coefficient",
    "q157_kcore", "q159_assortativity", "q160_weighted_pagerank_subgraph",
    "q161_ppr_subgraph", "q162_ivf_admit", "q163_ivf_compact",
    "q164_stream_ivf_admit", "q165_ivf_delete", "q166_pq_admit",
    "q167_pq_delete", "q168_ivf_imbalance", "q169_external_compact")

  /** Bench-only entries — NOT on the oracle board ([[queries]]), reachable
    * via SPARK_GRAFT_ONLY so a campaign can track their walls per round.
    * x_pagerank_converged is the production centrality shape (iterate to
    * eps, ~85 rounds at sf1): its per-iteration eager checkpoint is
    * exactly the cost a 100 TB run cares about, and the fixed-iteration
    * q149 never exercises it. */
  val benchExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_pagerank_converged" -> ((s, d) =>
      graft.ops.Graph.pageRankConvergedFromStack(graft.ops.GraphEdges.degStack(s, d),
        eps = 1e-6, maxIterations = 200)))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- scans / filters / joins / aggs (SURVEY §2.1-2.4, §7.3) ------------
    "q01_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q02_filter_scan" -> ((s, d) => Relational.filterScan(Tables.lineitem(s, d))),
    "q03_top_revenue" -> ((s, d) =>
      Relational.topRevenueOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q04_training_set" -> ((s, d) => trainingSetAssembly(s, d)),
    "q05_customer_order_stats" -> ((s, d) =>
      Relational.customerOrderStats(Tables.customer(s, d), Tables.orders(s, d))),
    "q06_selective_agg" -> ((s, d) => Relational.selectiveRevenue(Tables.lineitem(s, d))),
    "q07_semi_join" -> ((s, d) =>
      Relational.customersWithFinishedOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q08_anti_join" -> ((s, d) =>
      Relational.customersWithoutPendingOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q09_distinct_agg" -> ((s, d) => Relational.segmentStats(Tables.customer(s, d))),
    "q10_rollup" -> ((s, d) =>
      Relational.revenueRollup(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d))),
    // -- windows / sorts / set ops (SURVEY §2.6) ---------------------------
    "q11_window_rank" -> ((s, d) => Relational.firstOrdersPerCustomer(Tables.orders(s, d))),
    "q12_window_moving" -> ((s, d) => Relational.movingQuantity(Tables.lineitem(s, d))),
    "q13_topk" -> ((s, d) => Relational.topOrders(Tables.orders(s, d))),
    "q14_symdiff" -> ((s, d) => Relational.exclusiveStatusCustomers(Tables.orders(s, d))),
    "q15_intersect" -> ((s, d) => Relational.sharedStatusCustomers(Tables.orders(s, d))),
    // -- scalar functions (SURVEY §2.7) ------------------------------------
    "q16_scalar_funcs" -> ((s, d) => Relational.scalarShowcase(Tables.orders(s, d))),
    "q17_bigjoin_agg" -> ((s, d) =>
      Relational.orderLineRevenue(Tables.orders(s, d), Tables.lineitem(s, d))),
    // -- event-time windows (SURVEY §2.10) ---------------------------------
    "q18_event_tumbling" -> ((s, d) => Events.tumblingHourly(Tables.events(s, d))),
    "q19_event_sliding" -> ((s, d) => Events.slidingHourly(Tables.events(s, d))),
    "q20_event_sessions" -> ((s, d) => Events.userSessions(Tables.events(s, d))),
    "q21_event_histogram" -> ((s, d) => Events.typeHistogram(Tables.events(s, d))),
    "q22_json_extract" -> ((s, d) => Events.propsAggregate(Tables.events(s, d))),
    // -- LLM-pipeline extensions (SURVEY §2.11) ----------------------------
    "q23_exact_dedup" -> ((s, d) => Dedup.exactDedup(Tables.documents(s, d))),
    "q24_text_stats" -> ((s, d) => TextOps.corpusStats(Tables.documents(s, d))),
    "q25_token_stats" -> ((s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    "q26_quality_score" -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    "q27_fingerprints" -> ((s, d) => TextOps.fingerprints(Tables.documents(s, d))),
    "q28_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d))),
    "q29_cosine_topk" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 0, 20)),
    // -- approximate / ML-backed ops: no SQL oracle (rows-only check) ------
    "q30_minhash_neardup" -> ((s, d) => Dedup.minHashDedup(Tables.documents(s, d))),
    "q31_simhash" -> ((s, d) => TextOps.simHash(Tables.documents(s, d))),
    "q32_simhash_neardups" -> ((s, d) => TextOps.simHashNearDups(Tables.documents(s, d))),
    "q33_lsh_topk" -> ((s, d) => Similarity.lshTopK(Tables.embeddings(s, d), 0, 20)),
    // Index build (bounded-sample quantizer fit + one assignment pass) is
    // memoized per corpus — repeated probes pay probe cost only, the IVF
    // contract (index built once, queried many times).
    "q34_ivf_topk" -> ((s, d) => Similarity.ivfTopK(ivfIndex(s, d), 0, 20)),
    // 0.4 is the regime where the synthetic corpus actually has near-dups
    // (max pairwise cosine ≈ 0.5 at sf0.01) — higher thresholds are vacuous.
    // Below the banded threshold this routes to the EXACT all-pairs path,
    // which is SQL-expressible — so q35 carries a full DuckDB oracle.
    "q35_embedding_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), 0.4)),
    // Integer profile weights make lang-id scores engine-exact, so this
    // carries a full DuckDB oracle (see TextOps.languageId docs).
    "q36_lang_id" -> ((s, d) =>
      TextOps.languageId(Tables.documents(s, d), Tables.documents(s, d))),
    "q37_multimodal_features" -> ((s, d) =>
      Multimodal.mediaFeatureStats(s, Tables.documents(s, d))),
    "q38_stream_tumbling" -> ((s, d) => EventStreams.tumblingHourlyStream(s, d)),
    // -- validation / catalog parity (SURVEY §2.1 S6, §2.2 P5, §2.4 A2) ----
    "q39_null_audit" -> ((s, d) =>
      Validation.nullAudit(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))),
    "q40_label_histogram" -> ((s, d) =>
      graft.ml.Trainer.labelHistogram(Tables.lineitem(s, d), "l_returnflag")),
    // End-to-end catalog DDL: CREATE DATABASE + saveAsTable + spark.table —
    // the reference's registration path (01_feature_table_creation.py:112).
    "q41_catalog_roundtrip" -> ((s, d) => {
      val store = new CatalogFeatureStore(s, "graft_sales",
        Some(WorkDirs.stable("warehouse/graft_sales.db")))
      store.createTable("customer_features_cat", Seq("c_custkey"), Tables.customer(s, d),
        "catalog-registered customer dimension")
      store.readTable("customer_features_cat")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),
    // Stateful streaming (flatMapGroupsWithState): per-user running totals;
    // the sink read settles append-mode emissions to the last per user, so
    // the result == batch GROUP BY under any micro-batch carving.
    "q42_stream_stateful" -> ((s, d) => EventStreams.userTotalsStateful(s, d)),
    // BPE-style pre-tokenization (RE2-compatible pattern — identical
    // semantics in the DuckDB oracle) vs whitespace token budget.
    "q43_bpe_tokens" -> ((s, d) => TextOps.bpeTokenStats(Tables.documents(s, d))),
    // Batch exact k-NN join: top-10 neighbors for each of 5 query vectors
    // in one corpus pass (rank-limit pushdown keeps the shuffle at O(k·Q)).
    "q44_knn_join" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(emb, emb.filter(col("vec_id") < 5), 10)
    }),
    // Rolling-hash (winnowing) fingerprints — xxhash64-based, so no SQL
    // oracle (rows-only check + TextOpsSpec property tests).
    "q45_winnowing" -> ((s, d) => TextOps.winnowingStats(Tables.documents(s, d))),
    // Point-in-time (as-of) enrichment: each event sees the user's most
    // recent purchase value at-or-before its timestamp — the leakage-free
    // time-versioned lookup (oracle: DuckDB's native ASOF LEFT JOIN).
    "q46_asof_enrich" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val feats = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(org.apache.spark.sql.functions.max(col("value")).as("last_purchase_value"))
      graft.ops.AsOfJoin.asOf(ev, feats, Seq("user_id"), "ts", "ts",
          Seq("last_purchase_value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          col("value"), col("last_purchase_value"))
        .orderBy("event_id")
    }),
    // Streaming exact dedup: distinct content hashes across micro-batches.
    "q47_stream_dedup" -> ((s, d) => DocumentStreams.streamingDistinctHashes(s, d)),
    // Per-source token budget cap — curation mixture control (greedy prefix
    // by doc_id within source, cumulative-sum window, one shuffle).
    "q48_token_budget" -> ((s, d) =>
      graft.ops.Curation.tokenBudgetCap(Tables.documents(s, d), 1000L)),
    // Frame sampling over media payloads (stub codec, real fan-out shape):
    // per-media sampled-frame accounting. Rows-only (byte-slice stub).
    "q50_frame_sample" -> ((s, d) => {
      val frames = Multimodal.sampleFrames(s,
        Multimodal.mediaFromDocuments(Tables.documents(s, d)), maxFrames = 4).toDF()
      frames.groupBy(col("media_id"))
        .agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_sampled"),
          org.apache.spark.sql.functions.max(col("n_frames")).as("n_frames"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.octet_length(col("frame"))).as("sampled_bytes"))
        .orderBy("media_id")
    }),
    // Int8 scalar quantization round-trip quality: per-vector scale, worst
    // component error, cosine(original, dequantized). Rows-only (rounding
    // semantics are engine-specific).
    "q49_quantization" -> ((s, d) => {
      val deq = Similarity.dequantize(Similarity.quantize(Tables.embeddings(s, d)))
      deq.select(
        col("vec_id"),
        org.apache.spark.sql.functions.round(col("q_scale"), 6).as("q_scale"),
        org.apache.spark.sql.functions.round(
          Similarity.cosine(col("embedding"), col("deq_embedding")), 4).as("cos_fidelity"))
        .orderBy("vec_id")
    }),
    // Exact grouped percentiles (continuous interpolation) — oracle-checked
    // against DuckDB quantile_cont; approx_percentile is the documented
    // high-cardinality scale path (see Relational.quantityPercentiles).
    "q51_percentiles" -> ((s, d) => Relational.quantityPercentiles(Tables.lineitem(s, d))),
    // RAG sliding-window chunking: 32-token chunks, 8-token overlap.
    "q52_chunking" -> ((s, d) => TextOps.chunkDocuments(Tables.documents(s, d))),
    // BM25 keyword retrieval, top-20. Scores are pivoted per term and summed
    // in fixed term order so the rounded value is engine-portable.
    "q53_bm25" -> ((s, d) =>
      graft.text.Search.bm25TopK(Tables.documents(s, d), Bm25Terms, 20)),
    // Benchmark decontamination: 8-gram collisions between the training
    // split (doc_id % 20 != 0) and the held-out benchmark split. The
    // single-corpus form shingles ONCE and routes by the split predicate.
    "q54_contamination" -> ((s, d) =>
      Dedup.ngramContaminationSplit(Tables.documents(s, d),
        org.apache.spark.sql.functions.pmod(col("doc_id"),
          org.apache.spark.sql.functions.lit(20)) === 0)),
    // Deterministic mixture resampling: 2.5 epochs of src0, half of src1,
    // src2 dropped, everything else kept as-is.
    "q55_mixture_sample" -> ((s, d) =>
      graft.ops.Curation.mixtureSample(Tables.documents(s, d), MixtureRates)),
    // Mergeable HLL distinct sketches per source + sketch-union total.
    // Rows-only (estimates are implementation-specific); SketchesSpec bounds
    // the relative error vs the exact counts this query also carries.
    "q56_distinct_sketch" -> ((s, d) => graft.ops.Sketches.tokenDistinctSketch(Tables.documents(s, d))),
    // Equi-join with a date-range residual: revenue shipped within 30 days
    // of the order date.
    "q57_range_join" -> ((s, d) =>
      Relational.promptShipRevenue(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Normalization-invariant dedup (case/punctuation/whitespace variants).
    "q58_normalized_dedup" -> ((s, d) => TextOps.normalizedDedup(Tables.documents(s, d))),
    // Stream-static enrichment join: micro-batched events joined per batch
    // to the broadcast customer dimension, per-segment running totals.
    "q59_stream_enrich" -> ((s, d) => EventStreams.segmentTotalsStream(s, d)),
    // Skew-salted fact-fact join — the oracle is the PLAIN join (same SQL
    // as q17), proving the salt treatment is semantics-preserving.
    "q60_salted_join" -> ((s, d) =>
      Relational.saltedOrderLineRevenue(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Pivot crosstab with pinned values (one aggregation pass).
    "q61_pivot" -> ((s, d) => Relational.statusPivot(Tables.orders(s, d))),
    // CUBE over segment x nation: all grouping combinations in one pass.
    "q62_cube" -> ((s, d) =>
      Relational.segmentNationCube(Tables.customer(s, d), Tables.nation(s, d))),
    // Co-located (bucketed) join: both tables bucketed 8 ways on the join
    // key at write time, so the sort-merge join runs with ZERO exchange —
    // the write-once shuffle is amortized over every later join. The merge
    // hint pins SMJ (a broadcast would hide the exchange-free property this
    // query demonstrates); the oracle is the plain join on the raw parquet.
    "q63_bucketed_join" -> ((s, d) => {
      val store = new CatalogFeatureStore(s, "graft_bucketed",
        Some(WorkDirs.stable("warehouse/graft_bucketed.db")))
      store.createTable("customer_bkt", Seq("c_custkey"), Tables.customer(s, d),
        "bucketed customer dimension", buckets = 8)
      store.createTable("orders_bkt", Seq("o_orderkey"), Tables.orders(s, d),
        "orders bucketed by customer", buckets = 8, bucketColumns = Seq("o_custkey"))
      store.readTable("customer_bkt").hint("merge")
        .join(store.readTable("orders_bkt"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_orders"),
          org.apache.spark.sql.functions.sum(
            col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DoubleType).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    // Streaming sliding windows (complete mode), equal to the batch q19.
    "q65_stream_sliding" -> ((s, d) => EventStreams.slidingHourlyStream(s, d)),
    // One-pass multi-column table profile (nulls/distinct/min/max per
    // column in a single aggregation job — the distributed DESCRIBE).
    "q66_profile" -> ((s, d) =>
      Validation.profile(Tables.orders(s, d), ProfileColumns)),
    // Batch ANN join through the IVF index: top-10 approximate neighbors
    // for 5 probe queries touching only nprobe cells each. Rows-only
    // (approximate); SimilaritySpec bounds recall vs the exact q44 and
    // proves nprobe=nlist exactness.
    "q67_ivf_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfKnnJoin(ivfIndex(s, d), emb.filter(col("vec_id") < 5), 10)
    }),
    // Gopher-style repetition quality signals: duplicate-token fraction,
    // longest same-token run, top-bigram frequency — all map-only (the
    // top-gram count is the longest equal-run of the sorted gram array,
    // so no doc×gram shuffle exists anywhere in the plan).
    "q68_repetition" -> ((s, d) => TextOps.repetitionSignals(Tables.documents(s, d))),
    // Near-dup clustering over embedding-cosine pairs: connected components
    // via iterative hash-to-min label propagation; every vector gets its
    // component's min id as cluster_id, the min member is representative.
    // Oracle: recursive-CTE transitive closure over the same pair set.
    "q69_embedding_clusters" -> ((s, d) =>
      Similarity.embeddingClusters(Tables.embeddings(s, d), 0.4)),
    // Hive-style partitioned feature table: a predicate on the partition
    // column prunes to one directory at planning time (PartitionFilters in
    // the scan — asserted by PlanSpec) — the layout that turns a 100 TB
    // scan into a read of just the hot partition.
    "q64_partition_pruning" -> ((s, d) => {
      val store = new FeatureStore(s,
        WorkDirs.stable("fs_partitioned"))
      store.createTable("customer_part", Seq("c_custkey"), Tables.customer(s, d),
        "customer partitioned by market segment", partitionBy = Seq("c_mktsegment"))
      store.readTable("customer_part")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    }),
    // Deterministic stratified sample: 20 docs per source ranked by
    // md5(doc_id) — seedless, engine-independent, nested ranks.
    "q70_group_sample" -> ((s, d) =>
      graft.ops.Curation.groupSample(Tables.documents(s, d), 20)),
    // Per-source heavy hitters: top-5 tokens per source (explode →
    // partial-agg hash aggregate → WindowGroupLimit rank filter).
    "q71_top_tokens" -> ((s, d) =>
      TextOps.topTokensPerSource(Tables.documents(s, d), 5)),
    // Declarative one-pass expectation suite over orders — the executable
    // ingestion contract (all rules ride a single aggregation job).
    "q72_expectations" -> ((s, d) =>
      Validation.expectations(Tables.orders(s, d), OrdersExpectations)),
    // Per-label embedding centroids via Summarizer.mean (map-side vector
    // partials; the unpivot touches only the labels x d result).
    "q73_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d))),
    // Sketch-based heavy hitters (the q71 scale path): bounded approx_top_k
    // state per source, no vocabulary-wide aggregate. The oracle is the
    // EXACT top-k SQL — valid because the fixture vocabularies sit far
    // inside maxItemsTracked (counts exact) and the fetch-slack re-rank
    // pins tied boundaries to the same deterministic order.
    "q74_approx_top_tokens" -> ((s, d) =>
      TextOps.approxTopTokensPerSource(Tables.documents(s, d), 5)),
    // Watermarked stream-stream interval join: views matched to same-user
    // purchases within 1 hour; both sides expire state past the watermark
    // horizon. Oracle: the identical batch interval join.
    "q75_stream_join" -> ((s, d) => EventStreams.attributionJoinStream(s, d)),
    // Greedy sequence packing: docs laid head-to-tail per source, cut into
    // 512-token training sequences — integer-only window arithmetic.
    "q76_sequence_pack" -> ((s, d) =>
      graft.ops.Curation.packSequences(Tables.documents(s, d), 512)),
    // Incremental ingest dedup: odd-id docs arrive against the even-id
    // corpus; anti-join on content hash, within-batch collapse.
    "q77_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    // PSI feature drift: order totalprice distribution, pre-1996 reference
    // vs current, 10 x 50k bins in one conditional-aggregation scan.
    "q78_feature_drift" -> ((s, d) =>
      Validation.psiDrift(Tables.orders(s, d),
        col("o_orderdate") < "1996-01-01", "o_totalprice", 50000.0, 10)),
    // Two-stage retrieval: coarse int8-code scan -> pushed-down IN fetch
    // -> exact rerank. Same oracle as q29: the int8 distortion (~1e-4) is
    // ~30x smaller than the fixture's k-th boundary gap, so the coarse cut
    // provably preserves the exact top-20.
    "q79_quantized_topk" -> ((s, d) =>
      Similarity.quantizedTwoStageTopK(Tables.embeddings(s, d), 0, 20)),
    // Streaming sessionization (complete mode, state-store session merge),
    // equal to the batch q20. Oracle: q20's gaps-and-islands SQL.
    "q80_stream_sessions" -> ((s, d) => EventStreams.userSessionsStream(s, d)),
    // Pure-SQL path through the custom codegen'd vector kernels — the
    // functions resolve from the session registry (GraftExtensions inject
    // on extension-launched sessions; register() covers foreign sessions),
    // so a SQL-only user gets the same fused-loop expressions as the DSL.
    // Per-label cosine top-5 vs the vec 0 probe: grouped rank over a
    // scalar-subquery broadcast, WindowGroupLimit keeps the shuffle at
    // O(k · labels).
    "q81_sql_label_topk" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("graft_embeddings_sql")
      s.sql(
        """WITH scored AS (
          |  SELECT label, vec_id,
          |    round(graft_cosine_similarity(embedding,
          |      (SELECT embedding FROM graft_embeddings_sql WHERE vec_id = 0)), 6) AS cosine_sim
          |  FROM graft_embeddings_sql WHERE vec_id <> 0)
          |SELECT label, vec_id, cosine_sim FROM (
          |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine_sim DESC, vec_id) AS rn
          |  FROM scored)
          |WHERE rn <= 5
          |ORDER BY label, cosine_sim DESC, vec_id""".stripMargin)
    }),
    // Streaming feature materialization: update-mode streaming aggregate
    // upserted per micro-batch into a registered feature table
    // (foreachBatch + PK merge — the continuous feature-refresh write
    // path). Settled table == batch GROUP BY under any micro-batch
    // carving; fresh store dir per call so repeated bench/verify runs
    // start clean.
    "q82_stream_materialize" -> ((s, d) => {
      val dir = WorkDirs.fresh("q82_mat_store")
      graft.streaming.FeatureMaterialization.userTotalsMaterialized(
        s, d, new FeatureStore(s, dir))
    }),
    // Integer-exact corpus-LM quality signal: per-doc bigram frequency
    // classes (floor(log2 corpus-count)) — the n-gram-perplexity stand-in
    // that needs no float tolerance.
    "q83_bigram_quality" -> ((s, d) => TextOps.bigramQuality(Tables.documents(s, d))),
    // Cross-source lexical-similarity matrix (distinct-token Jaccard per
    // source pair) — mixture-governance input.
    "q84_vocab_overlap" -> ((s, d) => TextOps.vocabularyOverlap(Tables.documents(s, d))),
    // OPTIMIZE ZORDER analog: a 2-D selective box scan over lineitem's
    // persisted copy clustered on the Morton curve of (l_partkey,
    // l_suppkey), built once per lineitem version ([[lineitemZ2]]).
    // Values must be untouched by the layout (the oracle runs on the
    // ORIGINAL table); the file-pruning win is asserted separately by
    // LayoutSpec.
    "q85_zorder_scan" -> ((s, d) => {
      Tables.parquet(s, lineitemZ2(s, d))
        .filter(col("l_partkey").between(1, 100) && col("l_suppkey").between(1, 5))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // Bloom-pruned join: fact rows filtered by the dim's key bloom BEFORE
    // the shuffle (the non-broadcastable-dim semi-join pushdown); the
    // exact join kills false positives, so the result must hash-match the
    // plain-join oracle.
    "q86_bloom_join" -> ((s, d) => {
      val dim = Tables.supplier(s, d).filter(col("s_acctbal") > lit(5000))
      graft.ops.BloomPrune
        .bloomPrunedJoin(Tables.lineitem(s, d), dim, "l_suppkey", "s_suppkey",
          expectedItems = 100000)
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n_lineitems"),
          org.apache.spark.sql.functions.sum(col("l_quantity")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_qty"))
        .orderBy("s_suppkey")
    }),
    // Store time travel: mutate a feature table, then read the retained
    // pre-mutation snapshot — it must equal the ORIGINAL source (which is
    // exactly what the oracle reads).
    "q87_time_travel" -> ((s, d) => {
      val dir = WorkDirs.fresh("q87_tt_store")
      val store = new FeatureStore(s, dir)
      val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      store.createTable("cust_tt", Seq("c_custkey"), cust)
      store.upsert("cust_tt", cust.filter(col("c_custkey") <= lit(100L))
        .withColumn("c_acctbal", lit(0.0)))
      store.readTableVersion("cust_tt", 1L).orderBy("c_custkey")
    }),
    // Change feed (Delta CDF analog): PK-keyed diff of current state vs a
    // retained snapshot — insert / delete / update pre+post images,
    // unchanged rows absent. The oracle reconstructs the exact feed from
    // the source table and the known mutation.
    "q88_change_feed" -> ((s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val dir = WorkDirs.fresh("q88_cdc_store")
      val store = new FeatureStore(s, dir)
      val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      store.createTable("cust_cdc", Seq("c_custkey"), cust)
      val newRow = s.createDataFrame(
        java.util.Collections.singletonList(Row(999999L, "new customer", 1.5)),
        StructType(Seq(StructField("c_custkey", LongType),
          StructField("c_name", StringType), StructField("c_acctbal", DoubleType))))
      store.upsert("cust_cdc",
        cust.filter(col("c_custkey") <= lit(100L)).withColumn("c_acctbal", lit(0.0))
          .unionByName(newRow))
      store.tableChanges("cust_cdc", 1L)
    }),
    // CDC replication end-to-end: mutate a source table, stream its change
    // feed onto a replica created from the pre-mutation state — the
    // replica must equal the mutated source (oracle reconstructs it from
    // the original table + the known mutation).
    "q89_cdc_replica" -> ((s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val dir = WorkDirs.fresh("q89_cdcrt_store")
      val store = new FeatureStore(s, dir)
      val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      store.createTable("src", Seq("c_custkey"), cust)
      store.createTable("replica", Seq("c_custkey"), cust)
      val newRow = s.createDataFrame(
        java.util.Collections.singletonList(Row(999999L, "new customer", 1.5)),
        StructType(Seq(StructField("c_custkey", LongType),
          StructField("c_name", StringType), StructField("c_acctbal", DoubleType))))
      store.upsert("src",
        cust.filter(col("c_custkey") <= lit(100L)).withColumn("c_acctbal", lit(0.0))
          .unionByName(newRow))
      store.delete("src", col("c_custkey").between(200L, 210L))
      store.applyChanges("replica", store.tableChanges("src", 1L))
      store.readTable("replica").orderBy("c_custkey")
    }),
    // File-level data skipping: q85's persisted z-order copy and its
    // per-file min/max manifest ([[lineitemZ2Skipping]]), files pruned
    // driver-side BEFORE the scan, residual filter after (pruning admits
    // a superset) — must equal the full scan + filter.
    "q90_skipping_scan" -> ((s, d) => {
      graft.ops.DataSkipping.prunedRead(s, lineitemZ2Skipping(s, d),
          Map("l_partkey" -> (1L, 60L), "l_suppkey" -> (1L, 3L)))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // Exact-substring duplication signal (suffix-array dedup family at
    // n-gram granularity): per-doc fraction of 8-token spans occurring
    // anywhere else in the corpus.
    "q91_dup_spans" -> ((s, d) => TextOps.duplicatedSpans(Tables.documents(s, d))),
    // Product-quantized ANN (IVFPQ family): 8x16 codebooks, ADC coarse
    // scan via a 128-entry LUT, exact rerank on 64 candidates. Approximate
    // by design -> no SQL oracle; SimilaritySpec proves full-candidate
    // exactness and measures pruned recall.
    "q92_pq_topk" -> ((s, d) => {
      val (cb, enc) = pqIndex(s, d)
      Similarity.pqTopK(enc, cb, 0, 20)
    }),
    // Incremental aggregate maintenance (materialized-view refresh): the
    // totals table is refreshed from 3 disjoint batches by merging
    // additive partials (long cents — integer addition, so carving
    // provably cannot change the answer); must equal the full GROUP BY.
    "q93_incremental_agg" -> ((s, d) => {
      val dir = WorkDirs.fresh("q93_inc_store")
      val store = new FeatureStore(s, dir)
      val ev = Tables.events(s, d).withColumn("cents",
        org.apache.spark.sql.functions.expr(
          "CAST(round(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)"))
      def partials(df: DataFrame) = df.groupBy("user_id").agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum("cents").as("cents"))
      store.createTable("user_totals_mv", Seq("user_id"), partials(ev).limit(0))
      (0 until 3).foreach { i =>
        graft.ops.Incremental.mergeAdditive(store, "user_totals_mv",
          partials(ev.filter(pmod(col("event_id"), lit(3)) === lit(i))))
      }
      store.readTable("user_totals_mv")
        .select(col("user_id"), col("n_events"),
          (col("cents") / lit(100.0)).as("sum_value"))
        .orderBy("user_id")
    }),
    // BPE merge learning — tokenizer training on the corpus: one corpus
    // pass builds the word vocab, then numMerges vocab-sized iterations.
    // Iterative -> no SQL oracle; BpeTrainSpec pins the classic
    // hand-computed merge sequence and determinism.
    "q94_bpe_merges" -> ((s, d) =>
      graft.text.BpeTrain.learnMerges(Tables.documents(s, d), numMerges = 20)),
    // Tokenize the corpus with the LEARNED vocabulary (merges applied
    // once per distinct word, corpus joins the vocab map). Rows-only:
    // the learned vocab itself is not SQL-expressible.
    "q95_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.BpeTrain.bpeEncode(docs,
        graft.text.BpeTrain.learnMerges(docs, numMerges = 20))
    }),
    // Correlated scalar subqueries (TPC-H Q17 shape): Catalyst must
    // DECORRELATE the two per-part scalars into aggregate+join — the plan
    // a naive engine would execute as one subquery per row. Integer-exact
    // comparison (cents x count), so the below-half-average cut can't
    // flip on float ulps between engines.
    "q96_correlated_subquery" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_sq")
      s.sql(
        s"""SELECT l_partkey, COUNT(*) AS n_small,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
           |FROM graft_lineitem_sq l1
           |WHERE CAST(round(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) * 2 *
           |    (SELECT COUNT(*) FROM graft_lineitem_sq l2
           |     WHERE l2.l_partkey = l1.l_partkey)
           |  < (SELECT SUM(CAST(round(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT))
           |     FROM graft_lineitem_sq l2 WHERE l2.l_partkey = l1.l_partkey)
           |GROUP BY l_partkey
           |ORDER BY l_partkey""".stripMargin)
    }),
    // Explicit GROUPING SETS with grouping() markers — the generalized
    // form behind q10's ROLLUP and q62's CUBE.
    "q97_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_gs")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
           |  CAST(grouping(l_linestatus) AS INT) AS g_status,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           |FROM graft_lineitem_gs
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
           |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    }),
    // Distribution windows: ntile / percent_rank / cume_dist.
    "q98_rank_distributions" -> ((s, d) =>
      Relational.rankDistributions(Tables.orders(s, d))),
    // Value windows over an explicit full frame: first/last/nth_value need
    // ROWS BETWEEN ... UNBOUNDED FOLLOWING (the default frame stops at
    // CURRENT ROW, a classic silent-wrong-answer trap for last_value).
    "q99_value_windows" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_vw")
      s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  first_value(o_totalprice) OVER w AS cheapest,
          |  last_value(o_totalprice) OVER w AS priciest,
          |  nth_value(o_totalprice, 2) OVER w AS second_cheapest
          |FROM graft_orders_vw
          |WINDOW w AS (PARTITION BY o_orderstatus
          |             ORDER BY o_totalprice, o_orderkey
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY o_orderkey""".stripMargin)
    }),
    // LATERAL join: per-region top-2 nations by customer count through a
    // correlated derived table with ORDER BY + LIMIT — the SQL-standard
    // form of grouped top-k (Catalyst decorrelates it; the DSL equivalent
    // is q11's window-rank filter).
    "q100_lateral_topn" -> ((s, d) => {
      Tables.region(s, d).createOrReplaceTempView("graft_region_lt")
      Tables.nation(s, d).createOrReplaceTempView("graft_nation_lt")
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_lt")
      s.sql(
        """SELECT r_name, n_name, n_customers
          |FROM graft_region_lt, LATERAL (
          |  SELECT n_name, COUNT(*) AS n_customers
          |  FROM graft_nation_lt JOIN graft_customer_lt ON c_nationkey = n_nationkey
          |  WHERE n_regionkey = r_regionkey
          |  GROUP BY n_name
          |  ORDER BY n_customers DESC, n_name
          |  LIMIT 2)
          |ORDER BY r_name, n_customers DESC, n_name""".stripMargin)
    }),
    // Persisted-IVF cold path: save the index (assignments partitioned by
    // cell + centroid sidecar), load it back through a FRESH disk read, and
    // probe. Exercises the cross-session index contract the in-memory
    // memoization only approximates; probes on the loaded index are
    // partition-pruned scans. Rows-only (ANN, like q34).
    "q101_ivf_cold_lookup" -> ((s, d) => {
      val dir = WorkDirs.fresh("q101_ivf_cold")
      Similarity.saveIvf(ivfIndex(s, d), dir)
      Similarity.ivfTopK(Similarity.loadIvf(s, dir), 0, 20)
    }),
    // Exact vs t-digest approximate grouped percentiles side by side — the
    // documented q51 scale path actually exercised, with the observed
    // relative error reported per group. Rows-only; SketchesSpec asserts
    // the error bound.
    "q102_percentile_approx" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_lines"),
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)"), 6).as("p50_exact"),
          round(expr("approx_percentile(CAST(l_quantity AS DOUBLE), 0.5, 10000)"), 6).as("p50_approx"),
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.95)"), 6).as("p95_exact"),
          round(expr("approx_percentile(CAST(l_quantity AS DOUBLE), 0.95, 10000)"), 6).as("p95_approx"))
        .withColumn("p50_rel_err",
          round(abs(col("p50_approx") - col("p50_exact")) / col("p50_exact"), 6))
        .withColumn("p95_rel_err",
          round(abs(col("p95_approx") - col("p95_exact")) / col("p95_exact"), 6))
        .orderBy("l_returnflag")
    }),
    // N-dimensional ZORDER BY (3 columns): selective 3-D box scan over
    // lineitem's persisted 3-D clustered copy ([[lineitemZ3]]). Values
    // must be untouched by the layout — the oracle runs the same box on
    // the ORIGINAL table.
    "q103_zorder_nd_scan" -> ((s, d) => {
      Tables.parquet(s, lineitemZ3(s, d))
        .filter(col("l_partkey").between(1, 100) && col("l_suppkey").between(1, 5) &&
          col("l_quantity").between(1, 25))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    }),
    // q66's documented 100 TB path actually exercised: HLL-sketch distinct
    // counts (rsd 5%) instead of the 6-way Expand the exact form pays —
    // one pass, mergeable partials, no row multiplication. Rows-only;
    // CatalogStoreSpec bounds the estimates against the exact profile and
    // asserts the plan carries no Expand.
    "q104_profile_approx" -> ((s, d) =>
      Validation.profile(Tables.orders(s, d), ProfileColumns, exactDistinct = false)),
    // Bigram PMI collocations: corpus-level association mining (phrase
    // induction / collocation extraction). Integer counts + one ln — the
    // q78 precedent shows ln + round(6) is oracle-portable.
    "q105_pmi_collocations" -> ((s, d) =>
      TextOps.pmiCollocations(Tables.documents(s, d))),
    // Watermarked streaming dedup (dropDuplicatesWithinWatermark): at most
    // one event per (user, type, hour), state expired by the watermark.
    // The surviving ROW is arrival-order-dependent, so the oracle-stable
    // output is the key set = the batch SELECT DISTINCT.
    "q106_stream_wm_dedup" -> ((s, d) => EventStreams.watermarkDedupStream(s, d)),
    // Gap-filled hourly resample with forward fill — the feature-store
    // time-series primitive: dense per-user hour grid, zeros for empty
    // hours, last observed hourly sum carried forward.
    "q107_forward_fill" -> ((s, d) => Events.forwardFillHourly(Tables.events(s, d))),
    // Spark 4 transformWithState (StatefulProcessor + named RocksDB-backed
    // ValueState): q42's running totals through the modern arbitrary-state
    // API — same batch GROUP BY oracle.
    "q108_stream_tws" -> ((s, d) => EventStreams.userTotalsTransformWithState(s, d)),
    // The reference's M2/M3 pipeline ON the bench (round-4 verdict item 6):
    // train the GBT on the q04 training set (deterministic hash split,
    // seed 42), score the held-out side, emit the confusion counts. The
    // training wall is the measurement — previously M2/M3 ran only inside
    // TrainerSpec. maxIter 20 (not the reference's 100) keeps the entry a
    // bench query rather than the whole bench; the full-parameter fit stays
    // pinned in TrainerSpec. Rows-only: GBT fits are not SQL-expressible.
    "q109_gbt_train_score" -> ((s, d) => {
      // localCheckpoint: the assembled set is re-evaluated three times
      // downstream (StringIndexer fit pass, GBT fit, test-side transform);
      // materializing it once turns those into block-manager reads instead
      // of three runs of the 3-table join. eager=true so the measured wall
      // still contains the assembly itself.
      val ts = trainingSetAssembly(s, d)
        .withColumn("purchased", (col("l_returnflag") === lit("R")).cast("int"))
        // Feature view: quantity + price numerics, brand categorical. The
        // join keys and the free-text supplier name are dropped — id-like
        // features are noise the reference excludes too (exclude_columns).
        .select("l_orderkey", "l_linenumber", "l_quantity", "p_brand",
          "p_retailprice", "s_acctbal", "purchased")
        .localCheckpoint(true)
      val (train, test) = graft.ml.Trainer.stratifiedSplit(ts, "purchased",
        keyColumns = Seq("l_orderkey", "l_linenumber"))
      val feat = Seq("l_quantity", "p_brand", "p_retailprice", "s_acctbal", "purchased")
      val model = graft.ml.Trainer.fit(
        train.select(feat.head, feat.tail: _*), "purchased",
        graft.ml.Trainer.TrainParams(maxIter = 20))
      graft.ml.Metrics.confusionMatrix(
        model.transform(test.select(feat.head, feat.tail: _*)), "purchased")
    }),
    // ANN recall observability (round-4 verdict item 7): recall@20 of each
    // approximate index against q29's exact top-k, visible per round
    // instead of only inside full-budget exactness specs. Rows-only;
    // SimilaritySpec asserts the floor.
    "q110_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val k = 20
      val exact = Similarity.bruteForceTopK(emb, 0, k).select("vec_id")
      def recall(name: String, approx: DataFrame): DataFrame =
        approx.select("vec_id").join(exact, Seq("vec_id"), "left_semi")
          .agg(round(count(lit(1)).cast("double") / k, 4).as("recall_at_k"))
          .select(lit(name).as("method"), lit(k).as("k"), col("recall_at_k"))
      val (cb, enc) = pqIndex(s, d)
      recall("ivf", Similarity.ivfTopK(ivfIndex(s, d), 0, k))
        .unionByName(recall("lsh", Similarity.lshTopK(emb, 0, k)))
        .unionByName(recall("pq", Similarity.pqTopK(enc, cb, 0, k)))
        .orderBy("method")
    }),
    // SQL-string front door (round-4 verdict item 8): the testdata tables
    // registered in the session catalog and a 6-way TPC-H Q5-shape join —
    // region → nation → customer → orders → lineitem → supplier with the
    // local-supplier residual — executed from ONE ANSI string that runs
    // verbatim (modulo the view prefix) on DuckDB as its own oracle. This
    // is the reference's spark.sql usage (01_feature_table_creation.py:112)
    // as a first-class query path, not just DDL.
    "q111_sql_revenue_by_nation" -> ((s, d) => {
      Seq("region" -> Tables.region(s, d), "nation" -> Tables.nation(s, d),
        "customer" -> Tables.customer(s, d), "supplier" -> Tables.supplier(s, d),
        "orders" -> Tables.orders(s, d), "lineitem" -> Tables.lineitem(s, d))
        .foreach { case (n, df) => df.createOrReplaceTempView(s"graft_sql_$n") }
      s.sql(RevenueByNationSql("graft_sql_"))
    }),
    // Ordered conversion funnel (view -> click -> purchase, 24h windows,
    // first-touch chaining): product-analytics staple over the events
    // table. One shuffle on user_id; stage chaining is per-user array
    // arithmetic, not per-stage self-joins.
    "q112_funnel" -> ((s, d) => Events.funnel(Tables.events(s, d))),
    // Daily cohort retention on purchase activity: users grouped by
    // first-purchase day, cells count who purchased again N days later.
    "q113_cohort_retention" -> ((s, d) => Events.cohortRetention(Tables.events(s, d))),
    // Equal-frequency price binning: SQL-standard ntile(10) semantics via
    // the distributed two-level assignment (no global single-partition
    // window) — RelationalSpec pins row-level equality with Spark's own
    // ntile, the oracle pins the per-bin profile against DuckDB's ntile.
    "q114_price_bins" -> ((s, d) => Relational.priceBins(Tables.lineitem(s, d))),
    // Deterministic weighted sample (Efraimidis–Spirakis, md5-derived
    // uniforms, weight = n_chars): reproducible weighted corpus mixing —
    // q70's uniform stratified sample generalized to weights.
    "q115_weighted_sample" -> ((s, d) =>
      graft.ops.Curation.weightedSample(Tables.documents(s, d), 25)),
    // q112's funnel under flatMapGroupsWithState with window-bounded state
    // (late-view re-qualification handled by pruning only what can never
    // qualify again). Settled output == batch funnel == q112's oracle.
    "q116_stream_funnel" -> ((s, d) => EventStreams.funnelStream(s, d)),
    // Audio featurization: PCM16 "decode" (deterministic synth stub —
    // integer-exact, documented) → overlapping 512/256 frame energies,
    // peak frame, zero crossings. All BIGINT math, so unlike the other
    // multimodal stubs this one carries a FULL oracle: DuckDB recomputes
    // the same signal from the formula and the result is hash-checked.
    // Deliberately the DIRECT path, not audioFeaturesByContent: here the
    // payload is PRODUCED by the decode stub (no stored binary column to
    // re-scan), so the collapse's group-by-content passes re-run the
    // synthesis they exist to avoid — measured 18 s vs 6 s direct at sf3.
    // The collapsed operator is for stored-payload corpora (see its doc).
    "q117_audio_features" -> ((s, d) =>
      Multimodal.audioFeatures(s,
        Multimodal.audioFromDocuments(s, Tables.documents(s, d))).toDF()
        .orderBy("media_id")),
    // Deterministic training-order assignment: md5-bucketed shard + ranked
    // position — the reproducible global shuffle ahead of shard writes.
    "q118_training_shards" -> ((s, d) =>
      graft.ops.Curation.trainingShards(Tables.documents(s, d), 8)),
    // Identifier PII redaction audit: anchored-regex detect + mask
    // (map-side, codegen'd), per-segment counts and masked extremes.
    "q119_pii_mask" -> ((s, d) =>
      graft.ops.Redaction.customerIdRedactionAudit(Tables.customer(s, d))),
    // Table maintenance end-to-end (OPTIMIZE + VACUUM analog): fragment a
    // store table with repeated upserts, compact to one file, vacuum
    // retention to the newest snapshot, and report per-stage file/version
    // counts with the row count proving data is untouched throughout.
    // Rows-only: file layout is engine-internal, not SQL-expressible.
    "q120_table_maintenance" -> ((s, d) => {
      val dir = WorkDirs.fresh("q120_maint_store")
      val store = new FeatureStore(s, dir)
      val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      store.createTable("cust_maint", Seq("c_custkey"), cust)
      def dataFiles(): Long = {
        val p = new org.apache.hadoop.fs.Path(store.getTable("cust_maint").path)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      // Pinned write layout (upsert's optimizeWrite knob): each rewrite
      // lands exactly 8 files, so the fragmented-stage count is a stable
      // fact of the lifecycle, not of this environment's task layout.
      (0 until 3).foreach { i =>
        store.upsert("cust_maint",
          cust.filter(pmod(col("c_custkey"), lit(97L)) === lit(i.toLong))
            .withColumn("c_acctbal", col("c_acctbal") + lit(1.0)),
          targetFileCount = Some(8))
      }
      val filesFrag = dataFiles()
      val versFrag = store.versions("cust_maint").size.toLong
      store.compact("cust_maint", 1)
      val filesComp = dataFiles()
      val versComp = store.versions("cust_maint").size.toLong
      store.vacuum("cust_maint", 1)
      val filesVac = dataFiles()
      val versVac = store.versions("cust_maint").size.toLong
      val nRows = store.readTable("cust_maint").count()
      import s.implicits._
      Seq(
        ("1_fragmented", filesFrag, versFrag, nRows),
        ("2_compacted", filesComp, versComp, nRows),
        ("3_vacuumed", filesVac, versVac, nRows))
        .toDF("stage", "n_files", "n_versions", "n_rows")
    }),
    // Exact-substring scrubbing (suffix-array-dedup family, n-gram
    // granularity): remove every token covered by a corpus-wide duplicated
    // 8-token span, rebuild each doc. q91 reports the signal; this
    // rewrites the corpus. Full oracle (positions + rebuilt strings are
    // engine-neutral).
    "q121_exact_substr_scrub" -> ((s, d) =>
      TextOps.exactSubstrScrub(Tables.documents(s, d))),
    // Market-basket co-purchase affinity: basket-keyed self-equi-join
    // (fanout bounded by basket size, never corpus²), top-k via
    // TakeOrderedAndProject. Full oracle with a total-order tiebreak.
    "q122_copurchase" -> ((s, d) =>
      Relational.coPurchasePairs(Tables.lineitem(s, d))),
    // Group-wise z-score feature scaling: exact integer-cents moments →
    // broadcast stats → map-side standardization. Engine-exact, full
    // oracle.
    "q123_zscore" -> ((s, d) =>
      Relational.zscoreNormalize(Tables.customer(s, d))),
    // SQL front door widened (round-5 verdict item 8): q01's pricing
    // summary and q03's top-revenue join executed from the SAME ANSI
    // string the DuckDB oracle runs (modulo the view prefix) — the q111
    // pattern over the two headline relational shapes. The DataFrame
    // forms (q01/q03) stay on the bench as the native-operator path;
    // these prove the one-text contract end to end.
    "q124_sql_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_sql_lineitem")
      s.sql(PricingSummarySql("graft_sql_"))
    }),
    "q125_sql_top_revenue" -> ((s, d) => {
      Seq("customer" -> Tables.customer(s, d), "orders" -> Tables.orders(s, d),
        "lineitem" -> Tables.lineitem(s, d))
        .foreach { case (n, df) => df.createOrReplaceTempView(s"graft_sql_$n") }
      s.sql(TopRevenueSql("graft_sql_"))
    }),
    // Temperature-scaled mixture weights (α = 1/2 — the IEEE-exact
    // temperature, sqrt is correctly rounded everywhere): per-source
    // sampling probabilities and integer token quotas under a budget.
    // Normalizer is a fixed-order fold, so the doubles match the oracle
    // bit-for-bit before rounding.
    "q126_mixture_weights" -> ((s, d) =>
      graft.ops.Curation.temperatureMixture(Tables.documents(s, d),
        MixtureBudgetTokens)),
    // Near-dup cluster canonicalization: one row per Jaccard cluster with
    // the kept document (longest, tie → min id) and the chars the collapse
    // saves. Clusters the rep-level graph — the d²-expanded member pair
    // set is never materialized. Full oracle: recursive-CTE closure over
    // the q28 pair SQL plus a window-ranked keep policy.
    "q127_cluster_canonical" -> ((s, d) =>
      Dedup.canonicalizeClusters(Tables.documents(s, d))),
    // SCD Type-2 history build: per-customer priority changes collapsed to
    // validity intervals (effective_from/effective_to/is_current). Full
    // oracle — pure window SQL.
    "q128_scd2" -> ((s, d) => Relational.scd2Build(Tables.orders(s, d))),
    // Trailing 30-day RANGE-frame window (time-span frame, not row-count):
    // per-customer rolling order count + exact cents spend. Full oracle
    // (DuckDB RANGE BETWEEN INTERVAL mirrors the day-number range frame).
    "q129_trailing_window" -> ((s, d) =>
      Relational.trailingIntervalAgg(Tables.orders(s, d))),
    // Robust MAD outlier screen: |value − type median| > 3.5 normalized
    // MADs. Exact-integer medians via the q51 percentile-parity convention.
    "q130_mad_outliers" -> ((s, d) =>
      Relational.madOutliers(Tables.events(s, d))),
    // Gaps-and-islands: per-customer consecutive-month order streaks via
    // the rank-difference trick. Full oracle — pure window SQL.
    "q131_order_streaks" -> ((s, d) =>
      Relational.orderStreaks(Tables.orders(s, d))),
    // Entity-resolution fuzzy matching: levenshtein within last-token
    // blocks over the DISTINCT name vocabulary (collapse → compare →
    // expand multiplicities). Full oracle — DuckDB has levenshtein().
    "q132_fuzzy_match" -> ((s, d) =>
      Dedup.fuzzyNameMatch(Tables.part(s, d))),
    // First-order Markov transition matrix over per-user event streams.
    "q133_event_transitions" -> ((s, d) =>
      graft.ops.Events.eventTransitions(Tables.events(s, d))),
    // Last-touch attribution: most recent prior non-purchase touch within
    // 7 days, one ignore-nulls last() — no self-join. Exact micros delta.
    "q134_last_touch" -> ((s, d) =>
      graft.ops.Events.lastTouchAttribution(Tables.events(s, d))),
    // Hybrid retrieval: reciprocal-rank fusion of the q53 BM25 arm and the
    // q29 dense arm (rank-space fusion — both arms' oracles already pin
    // the rank order, so the fused scores are engine-exact).
    "q135_rrf_hybrid" -> ((s, d) =>
      graft.text.Search.rrfTopK(Tables.documents(s, d),
        Tables.embeddings(s, d), Bm25Terms, 0)),
    // Winsorization: per-segment [p05, p95] clamp over exact cents.
    "q136_winsorize" -> ((s, d) =>
      Relational.winsorize(Tables.customer(s, d))),
    // Pareto frontier on (price ↓, size ↑): O(n log n) sliced prefix-max
    // plan vs the oracle's quadratic NOT EXISTS.
    "q137_pareto_parts" -> ((s, d) =>
      Relational.paretoFrontier(Tables.part(s, d))),
    // Streaming Markov transitions: flatMapGroupsWithState with horizon-
    // bounded buffers; settles equal to batch q133 — ONE oracle string
    // covers both (the q116/q112 pairing for sequence mining).
    "q138_stream_transitions" -> ((s, d) =>
      graft.streaming.EventStreams.transitionsStream(s, d)),
    // Grouped weighted median over exact cents via the two-level sliced
    // prefix sum — integer crossing test, no interpolation convention.
    "q139_weighted_median" -> ((s, d) =>
      Relational.weightedMedian(Tables.lineitem(s, d))),
    // Incremental SCD2 maintenance: build history on orders before the
    // split date, apply the rest as an append-only batch; must equal the
    // full rebuild — its oracle IS q128's SQL.
    "q140_scd2_apply" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val cut = lit(Scd2SplitDate).cast("timestamp")
      Relational.scd2Apply(
        Relational.scd2Build(orders.filter(col("o_orderdate") < cut)),
        orders.filter(col("o_orderdate") >= cut))
    }),
    // Point-in-time SCD2 enrichment: each (re-dated) event gets the
    // dimension attribute current AT its timestamp, via the one-shuffle
    // as-of plan. Oracle: DuckDB native ASOF LEFT JOIN over the same
    // deduped change rows.
    "q141_scd2_lookup" -> ((s, d) =>
      Relational.scd2PointInTime(Tables.events(s, d), Tables.orders(s, d))),
    // Delta-join algebra: A₀⋈B₀ ∪ ΔA⋈B ∪ A₀⋈ΔB aggregated; the oracle is
    // the PLAIN join — overlap or gap in the buckets breaks exact cents.
    "q142_incremental_join" -> ((s, d) =>
      Relational.incrementalJoinRevenue(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Session path analysis: top event-type walks per 5-min-gap session.
    "q143_session_paths" -> ((s, d) =>
      graft.ops.Events.sessionPaths(Tables.events(s, d))),
    // Streaming SCD2 maintenance: scd2Apply per micro-batch under
    // foreachBatch; settled history == the full rebuild (q128's oracle).
    "q144_stream_scd2" -> ((s, d) =>
      graft.streaming.EventStreams.scd2MaintainStream(s, d)),
    // Streaming SCD2 maintenance + as-of fact enrichment in one
    // foreachBatch pipeline; settled == batch scd2PointInTime (q141's
    // ASOF-join oracle).
    "q145_stream_scd2_enrich" -> ((s, d) =>
      graft.streaming.EventStreams.scd2EnrichStream(s, d)),
    // Incremental near-dup admission: the odd-id ingest batch screened
    // against the even-id corpus at 3-gram Jaccard >= 0.8 — the per-batch
    // crawl-pipeline stage (cost incremental in the batch, the existing
    // side is a persistable shingle index). Rejected docs only, with the
    // best existing match (max rounded jaccard, tie -> min doc_id).
    "q146_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalNearDup(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    // Curation filter funnel: per-stage first-fail rejection counts over
    // the 5-rule quality pipeline, one corpus scan, integer-exact.
    "q147_filter_funnel" -> ((s, d) =>
      graft.ops.Curation.filterFunnel(Tables.documents(s, d))),
    // Streaming near-dup admission: q146's screen run per micro-batch
    // against the PERSISTED index (four narrow parquet relations built
    // once from the even-id corpus); verdicts depend only on the index,
    // so the settled emissions equal the one-shot screen under any
    // carving — the oracle IS q146's SQL.
    "q148_stream_neardup" -> ((s, d) =>
      graft.streaming.DocumentStreams.nearDupAdmissionStream(s, d)),
    // PageRank over the symmetrized co-purchase graph — iterative link
    // analysis as Pregel-by-joins (one equi-join + one groupBy shuffle
    // per iteration, checkpointed constant-depth plans); neighbor sums
    // fold in sorted source order so both engines produce bit-identical
    // ranks. Oracle generated from the same constants (Graph.pageRankSql).
    // ALL graph queries load the persisted per-corpus edge artifact
    // (GraphEdges: the support-annotated co-purchase pair list + node
    // universe, built ONCE per corpus per JVM like the near-dup screening
    // index) — through round 9 each of the six rebuilt the same
    // distinct-basket self-join inline, and at sf10 that base dominated
    // every graph wall. Support thresholds and the subgraph restriction
    // are pushed-down filters over the artifact; results are identical to
    // the inline forms (GraphSpec pins frame equality on a fixture).
    // Round 11: the PageRank variants additionally load the PERSISTED
    // symmetrized degree/weight stacks (GraphEdges.degStack/wStack) —
    // through round 10 each still re-ran union+degree+join from the pair
    // list per query, the dominant pre-iteration cost at sf10.
    "q149_copurchase_pagerank" -> ((s, d) =>
      graft.ops.Graph.pageRankFromStack(graft.ops.GraphEdges.degStack(s, d))),
    // Connected components of the support-thresholded co-purchase graph —
    // hash-to-min propagation with pointer jumping, constant plan depth
    // (the q149 checkpoint discipline). Integer-exact labels; oracle is a
    // recursive-CTE transitive closure generated from the same constants.
    "q150_copurchase_components" -> ((s, d) =>
      graft.ops.Graph.componentsFromPairs(
        graft.ops.GraphEdges.pairs(s, d)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport),
        graft.ops.GraphEdges.nodes(s, d))),
    // Subgraph-restricted twins of q149/q150: the SAME operators over the
    // l_partkey % SubgraphModulus == 0 restriction (a predicate the scale
    // corpora's copy offsets preserve), so the full unrolled-fold
    // / recursive-closure oracle SQL stays DuckDB-feasible at EVERY scale
    // — the sf10-checkable face of the graph family (the full-graph
    // oracles exhaust the oracle box's RAM above sf3).
    "q151_pagerank_subgraph" -> ((s, d) =>
      graft.ops.Graph.pageRankFromStack(
        graft.ops.GraphEdges.degStack(s, d, subgraph = true))),
    "q152_components_subgraph" -> ((s, d) =>
      graft.ops.Graph.componentsFromPairs(
        graft.ops.GraphEdges.pairs(s, d, subgraph = true)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport),
        graft.ops.GraphEdges.nodes(s, d, subgraph = true))),
    // Local-structure graph queries completing the X10 family's axes
    // (q149/q151 global centrality, q150/q152 connectivity, q153/q154
    // local clustering): both run on the SAME support-thresholded edge
    // set as q150, with degree-ordered wedge enumeration so a power-law
    // hub cannot square the join intermediate.
    "q153_copurchase_triangles" -> ((s, d) =>
      graft.ops.Graph.trianglesFromPairs(
        graft.ops.GraphEdges.pairs(s, d)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport))),
    "q154_link_prediction" -> ((s, d) =>
      graft.ops.Graph.linkPredictionFromPairs(
        graft.ops.GraphEdges.pairs(s, d)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport))),
    // The CONVERGED PageRank mode, oracled (round-9 ask #6): iterate on the
    // subgraph until no rank moves by more than ConvergedEpsUniform of the
    // uniform rank 1/n, then present like q149. The oracle is the same
    // unrolled-fold SQL pinned at the measured stopping round — exact
    // because a converged run's ranks after K rounds are bit-identical to
    // a fixed-K run's (same step arithmetic, same fold order), and the
    // uniform-relative threshold makes K scale-invariant on the replicated
    // corpora (ranks and deltas both scale 1/copies).
    "q155_pagerank_converged_subgraph" -> ((s, d) =>
      graft.ops.Graph.convergedSubgraphTopKFromStack(
        graft.ops.GraphEdges.degStack(s, d, subgraph = true))),
    // Local clustering coefficient — q153's wedge core with a coefficient
    // finalize (2·T/d(d−1) over the same thresholded edge set): the
    // density of each node's neighborhood rather than its raw triangle
    // participation. Integer-exact numerator, one IEEE division, rounded
    // on both engines.
    "q156_clustering_coefficient" -> ((s, d) =>
      graft.ops.Graph.clusteringCoefficientFromPairs(
        graft.ops.GraphEdges.pairs(s, d)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport))),
    // k-core by iterative degree peel on the same thresholded edge set —
    // the cyclic skeleton under the centrality/clustering queries. The
    // oracle is the peel unrolled to the KCoreMaxRounds pin (idempotent
    // past the fixpoint, q155's padding trick on an integer set); the
    // engine refuses a corpus that does not settle within the pin.
    "q157_kcore" -> ((s, d) =>
      graft.ops.Graph.kCoreFromPairs(
        graft.ops.GraphEdges.pairs(s, d)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport))),
    // Corpus-wide TF-IDF keyword extraction — the query-free dual of q53's
    // BM25 retrieval: every document labeled with its TfIdfTopK most
    // corpus-distinctive terms. Exact multiplicity-weighted content
    // collapse on duplicated corpora (df/N are corpus stats, so the
    // collapse weights distinct texts by member count — not the
    // content-pure perDistinctContent path); probe-routed like its text
    // siblings.
    "q158_tfidf_keywords" -> ((s, d) =>
      graft.text.Search.tfIdfTopTerms(Tables.documents(s, d))),
    // Degree assortativity — the graph family's one-scalar structural
    // summary (Pearson correlation of endpoint degrees over the directed
    // edge list of the thresholded graph): exact integer moment sums, one
    // mirrored double expression. Full-graph oracle is DuckDB-feasible at
    // every scale (the thresholded pair base is corpus-shape-sized, like
    // q153/q154's).
    "q159_assortativity" -> ((s, d) =>
      graft.ops.Graph.degreeAssortativityFromPairs(
        graft.ops.GraphEdges.pairs(s, d)
          .filter(col("n_orders") >= graft.ops.Graph.ComponentsMinSupport))),
    // Support-WEIGHTED PageRank on the subgraph: rank splits across
    // neighbors in proportion to co-purchase strength (c = rank·w/wsum,
    // both integers off the edge artifact) instead of uniformly. Same
    // sliced-fold float contract as q149/q151/q155, so the oracle is the
    // identical unroll with the weighted contribution — subgraph-restricted
    // like its siblings so the unrolled SQL stays feasible at sf10.
    "q160_weighted_pagerank_subgraph" -> ((s, d) =>
      graft.ops.Graph.weightedPageRankFromStack(
        graft.ops.GraphEdges.wStack(s, d, subgraph = true))),
    // Personalized PageRank (random walk with restart) around a
    // DATA-DERIVED seed (the subgraph's smallest part id — both engines
    // compute MIN over the symmetrized edges, so the oracle stays static
    // at every scale): the "parts related to THIS part" recommendation
    // kernel. Same sliced-fold contract; only the teleport term differs.
    "q161_ppr_subgraph" -> ((s, d) =>
      graft.ops.Graph.personalizedPageRankFromStack(
        graft.ops.GraphEdges.degStack(s, d, subgraph = true))),
    // Incremental ANN index maintenance (round-10 ask #3): admit the 10%
    // "new" slice of the corpus (vec_id % 10 == 0) into the persisted
    // base index as an O(batch) delta segment — same codegen'd cell
    // assignment as the build, NO quantizer refit or corpus re-scan —
    // then serve a knn probe over base+delta as one index. The base index
    // is the per-corpus artifact warmIndexes builds off the clock, so the
    // timed run measures admission + probe, unlike the full rebuild the
    // family previously paid on any corpus append. Rows-only check
    // (approximate family); SimilaritySpec pins admission == one-shot
    // assignment of the full corpus under the same quantizer, and the
    // recall floor vs exact brute force.
    "q162_ivf_admit" -> ((s, d) => {
      val base = ivfAdmitBasePath(s, d)
      Similarity.ivfAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        segment = "b0")
      Similarity.ivfKnnJoin(Similarity.loadIvfWithDeltas(s, base),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), 10)
    }),
    // Delta compaction — q162's off-peak twin: rewrite base + admitted
    // deltas into a FRESH single-base generation (one pass over the index
    // files, never the corpus; quantizer untouched), then probe the
    // compacted index. Non-destructive (the source generation keeps
    // serving while the new one writes — the ArtifactMemo discipline), so
    // reruns are idempotent. The b0 admission below writes byte-identical
    // content to q162's (same deterministic assignment), so the two
    // queries compose in any order. Rows-only; SimilaritySpec pins
    // compacted == base+deltas and delta-freeness.
    "q163_ivf_compact" -> ((s, d) => {
      val base = ivfAdmitBasePath(s, d)
      Similarity.ivfAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        segment = "b0")
      val out = WorkDirs.fresh("q163_ivf_compact")
      Similarity.ivfCompactTo(s, base, out)
      Similarity.ivfKnnJoin(Similarity.loadIvf(s, out),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), 10)
    }),
    // STREAMING ANN admission (round-11 ask #2) — the q146→q148
    // progression applied to X3: the same "new" slice arrives as an
    // unbounded stream and each micro-batch lands as its own atomic
    // delta segment (one O(batch) cell-assignment pass per trigger; the
    // persisted base's quantizer is fixed capital). Segments go to an
    // EXTERNAL delta root so the shared base generation stays immutable
    // and the lifecycle queries compose in any order; the probe then
    // serves base + stream segments as one index. Rows-only
    // (approximate family); SimilaritySpec pins the settled index ==
    // one-shot admission under any file carving, and the recall floor
    // holds by the shared cellColumn (same assignment as q162's).
    "q164_stream_ivf_admit" -> ((s, d) => {
      val base = ivfAdmitBasePath(s, d)
      val deltaRoot = WorkDirs.fresh("q164_stream_admit")
      // The "new arrivals" slice is the operator's parameter now (the
      // q162 framing passed explicitly, not hardcoded in the stream).
      graft.streaming.EmbeddingStreams.ivfAdmissionStream(s, d, base, deltaRoot,
        newSlice = pmod(col("vec_id"), lit(10)) === 0)
      Similarity.ivfKnnJoin(
        Similarity.loadIvfWithDeltas(s, base, deltaRoots = Some(Seq(deltaRoot))),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), 10)
    }),
    // ANN deletion (round-11 ask #3) — the index lifecycle's third verb:
    // a delete batch lands as an O(batch) TOMBSTONE segment, the load
    // path anti-joins it at serve time (deleted vectors vanish from
    // probes immediately, no index rewrite), and compaction physically
    // reclaims (q163's spec extends to tombstone-freeness). The admitted
    // delta + tombstone both live in an external root — base immutable,
    // order-independent. The deleted set is data-derived and
    // deterministic (vec_id % 7 == 3: hits base AND delta rows). Rows
    // only; SimilaritySpec pins probe-over-deleted == probe-over-
    // rebuilt-without-deleted under the same quantizer.
    "q165_ivf_delete" -> ((s, d) => {
      val base = ivfAdmitBasePath(s, d)
      val deltaRoot = WorkDirs.fresh("q165_ivf_delete")
      Similarity.ivfAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        "b0", deltaRoot = Some(deltaRoot))
      Similarity.ivfDelete(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")),
        "t0", deltaRoot = Some(deltaRoot))
      Similarity.ivfKnnJoin(
        Similarity.loadIvfWithDeltas(s, base, deltaRoots = Some(Seq(deltaRoot))),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), 10)
    }),
    // PQ admission parity (round-11 ask #4): the IVF O(batch) admission
    // contract on the PQ index — encode the append batch under the
    // EXISTING persisted codebooks (pqEncode, the exact expression the
    // base build ran, so the two paths cannot encode differently), land
    // it as an atomic delta segment in an external root, then probe the
    // two-stage PQ search over base + delta as one encoded relation.
    // Rows-only; SimilaritySpec pins admitted codes == one-shot encode.
    "q166_pq_admit" -> ((s, d) => {
      val base = pqAdmitBasePath(s, d)
      val deltaRoot = WorkDirs.fresh("q166_pq_admit")
      Similarity.pqAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        "b0", deltaRoot = Some(deltaRoot))
      val (cb, enc) = Similarity.loadPqWithDeltas(s, base,
        deltaRoots = Some(Seq(deltaRoot)))
      Similarity.pqTopK(enc, cb, 0, 20)
    }),
    // PQ deletion parity (round-12 ask #3) — q165's lifecycle verb on
    // the PQ index: admit the new slice under the persisted codebooks,
    // land a data-derived delete batch as an O(batch) tombstone segment
    // (same format and writer as IVF — only vec_ids), and probe the
    // two-stage search over the masked encoded relation. The deleted
    // set (vec_id % 7 == 3) hits base AND delta rows; the probe id 0 is
    // not deleted. Rows-only; SimilaritySpec pins probe-over-tombstones
    // == probe-over-physical-rebuild, compaction reclaim, and tombstone
    // dominance over later re-admission.
    "q167_pq_delete" -> ((s, d) => {
      val base = pqAdmitBasePath(s, d)
      val deltaRoot = WorkDirs.fresh("q167_pq_delete")
      Similarity.pqAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        "b0", deltaRoot = Some(deltaRoot))
      Similarity.pqDelete(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")),
        "t0", deltaRoot = Some(deltaRoot))
      val (cb, enc) = Similarity.loadPqWithDeltas(s, base,
        deltaRoots = Some(Seq(deltaRoot)))
      Similarity.pqTopK(enc, cb, 0, 20)
    }),
    // Cell-imbalance drift monitor (round-12 ask #4): ivfAdmit's doc
    // promises the quantizer ages only via cell IMBALANCE — this is the
    // query that measures it, over exactly the production layout the
    // lifecycle queries maintain (persisted base + admitted delta). One
    // map-side-combined count per cell, window arithmetic over
    // nlist rows. Rows-only (cell ids are quantizer-derived);
    // SimilaritySpec pins that the metric detects a deliberately skewed
    // admission batch and that occupancy sums to the corpus.
    "q168_ivf_imbalance" -> ((s, d) => {
      val base = ivfAdmitBasePath(s, d)
      Similarity.ivfAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        segment = "b0")
      Similarity.ivfCellStats(Similarity.loadIvfWithDeltas(s, base))
    }),
    // External-root compaction (round-12 ask #2): the q164/q165
    // streaming/deletion layout — segments accumulating in a root APART
    // from the immutable base generation — folded into a fresh
    // single-base generation: admit + delete into the external root,
    // compact THAT layout (deltaRoots passed through to the load), then
    // probe the compacted index. Closes the lifecycle loop the
    // streaming layout was missing: without it the external root grew
    // forever and its tombstones were never physically reclaimed.
    // Rows-only; SimilaritySpec pins compacted == masked content,
    // delta- and tomb-free, source untouched.
    "q169_external_compact" -> ((s, d) => {
      val base = ivfAdmitBasePath(s, d)
      val deltaRoot = WorkDirs.fresh("q169_external_compact")
      Similarity.ivfAdmit(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(10)) === 0),
        "b0", deltaRoot = Some(deltaRoot))
      Similarity.ivfDelete(base,
        Tables.embeddings(s, d).filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id")),
        "t0", deltaRoot = Some(deltaRoot))
      val out = WorkDirs.fresh("q169_external_compact_out")
      Similarity.ivfCompactTo(s, base, out, deltaRoots = Some(Seq(deltaRoot)))
      Similarity.ivfKnnJoin(Similarity.loadIvf(s, out),
        Tables.embeddings(s, d).filter(col("vec_id") < 5), 10)
    }))

  /** q140's history/batch split point (strictly-before vs at-or-after, so
    * no change event can tie across the boundary). */
  val Scd2SplitDate = "1999-01-01"

  /** Query terms for q53 (fixed order — the BM25 sum folds left-to-right
    * over exactly this sequence in both engines). */
  val Bm25Terms: Seq[String] = Seq("spark", "scan", "merge")

  /** q111's single source of truth: ONE ANSI string both engines run —
    * Spark over `prefix`-ed temp views, DuckDB over the bare table views
    * the driver registers. TPC-H Q5 shape (local-supplier revenue by
    * nation for one region-year), decimal-exact money arithmetic per the
    * [[oracleSql]] convention. */
  def RevenueByNationSql(prefix: String): String =
    s"""SELECT n_name,
       |  CAST(round(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |    (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_lineitems
       |FROM ${prefix}region
       |JOIN ${prefix}nation ON n_regionkey = r_regionkey
       |JOIN ${prefix}customer ON c_nationkey = n_nationkey
       |JOIN ${prefix}orders ON o_custkey = c_custkey
       |JOIN ${prefix}lineitem ON l_orderkey = o_orderkey
       |JOIN ${prefix}supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** q124's single source of truth (and q01's oracle): the TPC-H Q1
    * pricing summary as ONE ANSI string both engines run — Spark over the
    * `prefix`-ed temp view, DuckDB over the bare table view. */
  def PricingSummarySql(prefix: String): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(${dec("l_quantity")}) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(${dec("l_extendedprice")}) AS DOUBLE) AS sum_base_price,
       |  CAST(round(SUM($discPrice), 2) AS DOUBLE) AS sum_disc_price,
       |  CAST(round(SUM(CAST($discPrice * (1 + ${dec("l_tax")}) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       |  COUNT(*) AS count_order,
       |  CAST(SUM(${dec("l_quantity")}) AS DOUBLE) / COUNT(*) AS avg_qty,
       |  CAST(SUM(${dec("l_extendedprice")}) AS DOUBLE) / COUNT(*) AS avg_price
       |FROM ${prefix}lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q125's single source of truth (and q03's oracle): the top-revenue
    * building-segment join, one ANSI string for both engines. */
  def TopRevenueSql(prefix: String): String =
    s"""SELECT l_orderkey, o_orderdate,
       |  CAST(SUM($discPrice) AS DOUBLE) AS revenue
       |FROM ${prefix}customer
       |JOIN ${prefix}orders ON c_custkey = o_custkey
       |JOIN ${prefix}lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Per-source sampling rates (percent) for q55. */
  val MixtureRates: Map[String, Int] = Map("src0" -> 250, "src1" -> 50, "src2" -> 0)

  /** q126's token budget — interpolated into the oracle SQL so the Scala
    * call and the DuckDB quota arithmetic cannot drift (the q122 shared-
    * constant convention). */
  val MixtureBudgetTokens = 1000000L

  /** Columns profiled by q66 (shared with its generated oracle SQL). */
  val ProfileColumns: Seq[String] = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  /** Expectation suite for q72 — the ingestion contract of the orders
    * table (mirrored line-for-line by the oracle SQL's CASE counts). */
  val OrdersExpectations: Seq[Validation.Expectation] = Seq(
    Validation.Expectation("key_not_null", col("o_orderkey").isNotNull),
    Validation.Expectation("positive_price", col("o_totalprice") > 0),
    Validation.Expectation("status_in_domain",
      col("o_orderstatus").isin("O", "F", "P")),
    Validation.Expectation("date_in_range",
      col("o_orderdate").between("1992-01-01", "1998-12-31")))

  /** exact decimal view of a 2-decimal money column (DuckDB fragment) */
  private def dec(c: String) = s"CAST($c AS DECIMAL(18,2))"
  private val discPrice =
    s"CAST(${dec("l_extendedprice")} * (1 - ${dec("l_discount")}) AS DECIMAL(18,4))"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    // One shared text: the native q01 and the SQL-front-door q124 are both
    // checked against (and q124 also EXECUTES) PricingSummarySql.
    "q01_pricing_summary" -> PricingSummarySql(""),
    "q02_filter_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 45
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount""".stripMargin,
    "q03_top_revenue" -> TopRevenueSql(""),
    "q04_training_set" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  p_brand, p_retailprice, s_name, s_acctbal
        |FROM lineitem
        |LEFT JOIN part ON l_partkey = p_partkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |  p_brand NULLS FIRST, p_retailprice NULLS FIRST,
        |  s_name NULLS FIRST, s_acctbal NULLS FIRST""".stripMargin,
    "q05_customer_order_stats" ->
      s"""SELECT c_custkey, c_name, c_mktsegment, n_orders, total_spent
         |FROM customer
         |LEFT JOIN (
         |  SELECT o_custkey AS c_custkey, COUNT(*) AS n_orders,
         |    CAST(SUM(${dec("o_totalprice")}) AS DOUBLE) AS total_spent
         |  FROM orders GROUP BY o_custkey) o USING (c_custkey)
         |ORDER BY c_custkey""".stripMargin,
    "q06_selective_agg" ->
      s"""SELECT
         |  CAST(round(SUM(CAST(${dec("l_extendedprice")} * ${dec("l_discount")} AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q07_semi_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c.c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q08_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "q09_distinct_agg" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         |  COUNT(DISTINCT c_nationkey) AS n_nations,
         |  CAST(SUM(${dec("c_acctbal")}) AS DOUBLE) AS sum_acctbal,
         |  CAST(SUM(${dec("c_acctbal")}) AS DOUBLE) / COUNT(*) AS avg_acctbal
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q10_rollup" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_orders,
         |  CAST(SUM(${dec("o_totalprice")}) AS DOUBLE) AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)
         |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q11_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, rn, prev_price FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
        |    LAG(o_totalprice, 1) OVER w AS prev_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q12_window_moving" ->
      s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
         |  CAST(SUM(${dec("l_quantity")}) OVER w AS DOUBLE) AS qty_3sum,
         |  CAST(SUM(${dec("l_quantity")}) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS qty_3avg
         |FROM lineitem
         |WINDOW w AS (PARTITION BY l_suppkey
         |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
         |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_quantity, qty_3sum, qty_3avg""".stripMargin,
    "q13_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q14_symdiff" ->
      """SELECT o_custkey FROM (
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |   EXCEPT
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |  UNION
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |   EXCEPT
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |ORDER BY o_custkey""".stripMargin,
    "q15_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "q16_scalar_funcs" ->
      s"""SELECT o_orderkey,
         |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
         |  CAST(month(o_orderdate) AS INTEGER) AS order_month,
         |  CAST(day(o_orderdate) AS INTEGER) AS order_day,
         |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         |  upper(o_orderpriority) AS priority_upper,
         |  substring(o_orderpriority, 1, 1) AS priority_code,
         |  o_orderstatus || '-' || o_orderpriority AS status_priority,
         |  CAST(length(o_orderpriority) AS INTEGER) AS priority_len,
         |  CAST(CAST(${dec("o_totalprice")} * CAST(1.1 AS DECIMAL(3,1)) AS DECIMAL(18,3)) AS DOUBLE) AS price_with_tax,
         |  CAST(ABS(${dec("o_totalprice")} - 200000) AS DOUBLE) AS price_dev
         |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q17_bigjoin_agg" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_lines,
         |  CAST(round(SUM($discPrice), 2) AS DOUBLE) AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q18_event_tumbling" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) / COUNT(*) AS avg_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_event_sliding" ->
      """SELECT window_start, COUNT(*) AS n_events FROM (
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
        |           - k.k * INTERVAL '30 minutes' AS window_start
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS k(k))
        |GROUP BY window_start ORDER BY window_start""".stripMargin,
    "q20_event_sessions" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, value, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    "q21_event_histogram" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q22_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
        |  COUNT(k) AS n_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q23_exact_dedup" ->
      """SELECT MIN(doc_id) AS doc_id, sha256(text) AS content_hash,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY doc_id""".stripMargin,
    "q24_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q25_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
        |  CAST(list_max(list_transform(string_split(text, ' '), x -> length(x))) AS INTEGER) AS max_token_len,
        |  CAST(length(text) AS INTEGER) AS text_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_quality_score" ->
      """SELECT doc_id, lang, n_words, n_stopwords,
        |  CAST(n_stopwords AS DOUBLE) / n_words AS stopword_ratio,
        |  n_words >= 10 AND n_words <= 10000 AS length_ok
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the','a','an','and','of','to','in','is','it','for'], t))) AS INTEGER) AS n_stopwords
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q27_fingerprints" ->
      """SELECT doc_id, sha256(text) AS sha256_hex,
        |  sha256(substring(text, 1, 64)) AS prefix_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q28_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 3 THEN [text]
        |         ELSE list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS sh
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
        |df AS (SELECT sh AS s, COUNT(*) AS df FROM sh GROUP BY sh),
        |total AS (SELECT COUNT(*) AS n FROM documents),
        |filtered AS (
        |  SELECT sh.doc_id, sh.sh FROM sh
        |  JOIN df ON sh.sh = df.s CROSS JOIN total
        |  WHERE df.df <= CAST(floor(total.n * 0.5) AS BIGINT)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |  FROM filtered a JOIN filtered b ON a.sh = b.sh
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common,
        |  CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        |FROM inter
        |JOIN sizes sa ON inter.doc_a = sa.doc_id
        |JOIN sizes sb ON inter.doc_b = sb.doc_id
        |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q29_cosine_topk" ->
      """SELECT vec_id, label,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine_sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin,
    "q35_embedding_neardup" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q36_lang_id" ->
      """WITH tok_df AS (
        |  SELECT lang, tok, COUNT(*) AS df FROM (
        |    SELECT lang, unnest(list_distinct(string_split(text, ' '))) AS tok
        |    FROM documents)
        |  GROUP BY lang, tok),
        |profile AS (
        |  SELECT lang AS profile_lang, tok, CAST(51 - rank AS BIGINT) AS weight
        |  FROM (SELECT lang, tok,
        |          row_number() OVER (PARTITION BY lang ORDER BY df DESC, tok) AS rank
        |        FROM tok_df)
        |  WHERE rank <= 50),
        |doc_toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |scored AS (
        |  SELECT doc_id, lang, profile_lang, CAST(SUM(weight) AS BIGINT) AS score
        |  FROM doc_toks JOIN profile USING (tok)
        |  GROUP BY doc_id, lang, profile_lang)
        |SELECT doc_id, lang AS actual_lang, profile_lang AS predicted_lang,
        |  lang = profile_lang AS correct
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, profile_lang) AS rn FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q38_stream_tumbling" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q39_null_audit" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map(c =>
          s"SELECT '$c' AS column_name, COUNT(*) - COUNT($c) AS n_nulls, COUNT(*) AS n_rows FROM orders")
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    "q40_label_histogram" ->
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q41_catalog_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q42_stream_stateful" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q43_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+', 0)) AS INTEGER)
         |    AS n_bpe_tokens,
         |  round(CAST(len(regexp_extract_all(text,
         |    '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+', 0)) AS DOUBLE)
         |    / len(string_split(text, ' ')), 6) AS bpe_per_word
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q44_knn_join" ->
      """SELECT q_vec_id, vec_id, label, cosine_sim, CAST(rn AS INTEGER) AS knn_rank FROM (
        |  SELECT q.vec_id AS q_vec_id, e.vec_id AS vec_id, e.label AS label,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])), 6) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rn
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rn <= 10
        |ORDER BY q_vec_id, knn_rank""".stripMargin,
    // Cast TIMESTAMP_NS -> TIMESTAMP (truncation) BEFORE the ASOF compare so
    // the inequality runs at the same microsecond precision Spark uses.
    "q46_asof_enrich" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value,
        |  feat.last_purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |        event_type, value FROM events) e
        |ASOF LEFT JOIN (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    MAX(value) AS last_purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, CAST(ts AS TIMESTAMP)) feat
        |ON e.user_id = feat.user_id AND e.ts >= feat.ts
        |ORDER BY event_id""".stripMargin,
    "q47_stream_dedup" ->
      """SELECT DISTINCT sha256(text) AS content_hash FROM documents
        |ORDER BY content_hash""".stripMargin,
    "q48_token_budget" ->
      """SELECT doc_id, source, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |    CAST(SUM(CAST(len(string_split(text, ' ')) AS INTEGER))
        |      OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens <= 1000
        |ORDER BY doc_id""".stripMargin,
    "q51_percentiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // stride = chunkSize - overlap = 24; chunk i covers tokens
    // [i*24+1, i*24+32] (1-based inclusive list_slice).
    "q52_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    greatest(1, CAST(ceil((len(string_split(text, ' ')) - 8) / 24.0) AS BIGINT)) AS n_chunks
        |  FROM documents),
        |c AS (SELECT doc_id, w, unnest(range(0, n_chunks)) AS chunk_id FROM t),
        |c2 AS (
        |  SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |    array_to_string(list_slice(w, chunk_id*24 + 1, chunk_id*24 + 32), ' ') AS chunk_text
        |  FROM c)
        |SELECT doc_id, chunk_id, chunk_text,
        |  CAST(len(string_split(chunk_text, ' ')) AS INTEGER) AS n_chunk_tokens
        |FROM c2 ORDER BY doc_id, chunk_id""".stripMargin,
    // Arithmetic mirrors Search.bm25TopK exactly (same literals, same
    // association, same fixed left-to-right term-sum order).
    "q53_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS dl FROM documents),
        |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM docs),
        |toks AS (SELECT doc_id, dl, unnest(w) AS tok FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'scan', 'merge') GROUP BY 1, 2, 3),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT doc_id, tok,
        |    ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1))
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))) AS term_score
        |  FROM tf JOIN df USING (tok) CROSS JOIN corpus),
        |piv AS (
        |  SELECT doc_id, COUNT(*) AS n_matched_terms,
        |    max(CASE WHEN tok = 'spark' THEN term_score END) AS s1,
        |    max(CASE WHEN tok = 'scan' THEN term_score END) AS s2,
        |    max(CASE WHEN tok = 'merge' THEN term_score END) AS s3
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, round(coalesce(s1, 0) + coalesce(s2, 0) + coalesce(s3, 0), 6) AS bm25,
        |  n_matched_terms
        |FROM piv ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    "q54_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 8 THEN [text]
        |         ELSE list_transform(range(1, len(w) - 6),
        |                i -> array_to_string(list_slice(w, i, i + 7), ' ')) END)) AS sh
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
        |bench AS (SELECT doc_id AS bench_doc, sh FROM sh WHERE doc_id % 20 = 0),
        |train AS (SELECT doc_id AS train_doc, sh FROM sh WHERE doc_id % 20 <> 0),
        |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM train GROUP BY sh)
        |         WHERE df <= 1000),
        |bsizes AS (SELECT bench_doc, COUNT(*) AS n_bench_grams FROM bench GROUP BY bench_doc),
        |pairs AS (
        |  SELECT train_doc, bench_doc, COUNT(*) AS n_shared
        |  FROM train JOIN rare USING (sh) JOIN bench USING (sh)
        |  GROUP BY 1, 2)
        |SELECT train_doc, bench_doc, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / n_bench_grams, 6) AS contaminated_frac
        |FROM pairs JOIN bsizes USING (bench_doc)
        |WHERE n_shared >= 1
        |ORDER BY train_doc, bench_doc""".stripMargin,
    "q55_mixture_sample" ->
      """SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch FROM (
        |  SELECT doc_id, source, unnest(range(1, copies + 1)) AS epoch FROM (
        |    SELECT doc_id, source,
        |      rate // 100 + CASE WHEN doc_id % 100 < rate % 100 THEN 1 ELSE 0 END AS copies
        |    FROM (SELECT doc_id, source,
        |            CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 50
        |                        WHEN 'src2' THEN 0 ELSE 100 END AS rate
        |          FROM documents)))
        |ORDER BY doc_id, epoch""".stripMargin,
    "q57_range_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
         |  CAST(round(SUM($discPrice), 2) AS DOUBLE) AS revenue
         |FROM orders JOIN lineitem
         |  ON o_orderkey = l_orderkey
         |  AND l_shipdate >= o_orderdate
         |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q58_normalized_dedup" ->
      """SELECT MIN(doc_id) AS doc_id, norm_hash, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT exact_hash) AS n_exact_variants
        |FROM (SELECT doc_id,
        |        sha256(trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g'))) AS norm_hash,
        |        sha256(text) AS exact_hash
        |      FROM documents)
        |GROUP BY norm_hash ORDER BY doc_id""".stripMargin,
    "q59_stream_enrich" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Deliberately the UNSALTED join: q60's salted plan must hash-match it.
    "q60_salted_join" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_lines,
         |  CAST(round(SUM($discPrice), 2) AS DOUBLE) AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q61_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q62_cube" ->
      s"""SELECT c_mktsegment, n_name, COUNT(*) AS n_customers,
         |  CAST(SUM(${dec("c_acctbal")}) AS DOUBLE) AS sum_acctbal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY CUBE(c_mktsegment, n_name)
         |ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    // The plain (unbucketed) join — bucketing must not change the answer.
    "q63_bucketed_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  CAST(SUM(${dec("o_totalprice")}) AS DOUBLE) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // Partition layout must not change the answer either.
    "q64_partition_pruning" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin,
    "q65_stream_sliding" ->
      """SELECT window_start, COUNT(*) AS n_events FROM (
        |  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
        |           - k.k * INTERVAL '30 minutes' AS window_start
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS k(k))
        |GROUP BY window_start ORDER BY window_start""".stripMargin,
    // max_token_run / top_ngram_count are gaps-and-islands in SQL; the
    // Spark side computes them as array max-runs (map-only) — same values.
    "q68_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (
        |  SELECT doc_id, w, len(w) AS n_tokens,
        |    CASE WHEN len(w) >= 2
        |         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |         ELSE [] END AS g
        |  FROM t),
        |big AS (SELECT doc_id, unnest(g) AS bg FROM base),
        |topb AS (SELECT doc_id, MAX(c) AS top_ngram_count FROM (
        |    SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY 1, 2) GROUP BY doc_id),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |          unnest(range(1, len(w) + 1)) AS pos FROM t),
        |runs AS (SELECT doc_id, tok,
        |           pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
        |         FROM tok),
        |mr AS (SELECT doc_id, MAX(c) AS max_token_run FROM (
        |    SELECT doc_id, COUNT(*) AS c FROM runs GROUP BY doc_id, tok, grp) GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(n_tokens AS INTEGER) AS n_tokens,
        |  round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
        |  CAST(coalesce(mr.max_token_run, 0) AS INTEGER) AS max_token_run,
        |  CAST(coalesce(topb.top_ngram_count, 0) AS INTEGER) AS top_ngram_count,
        |  round(CASE WHEN len(g) > 0
        |        THEN CAST(coalesce(topb.top_ngram_count, 0) AS DOUBLE) / len(g)
        |        ELSE 0 END, 6) AS top_ngram_frac
        |FROM base b LEFT JOIN topb USING (doc_id) LEFT JOIN mr USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Connected components of the cosine >= 0.4 pair graph via recursive
    // transitive closure; cluster_id = min vec_id reachable. Same unrounded
    // threshold as the q35 pair generation.
    "q69_embedding_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) >= 0.4),
        |undirected AS (
        |  SELECT va AS u, vb AS v FROM pairs
        |  UNION SELECT vb, va FROM pairs),
        |closure(u, v) AS (
        |  SELECT u, v FROM undirected
        |  UNION
        |  SELECT c.u, d.v FROM closure c JOIN undirected d ON c.v = d.u),
        |comp AS (
        |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
        |  FROM closure GROUP BY u)
        |SELECT e.vec_id,
        |  coalesce(comp.cluster_id, e.vec_id) AS cluster_id,
        |  coalesce(comp.cluster_id, e.vec_id) = e.vec_id AS is_representative
        |FROM embeddings e LEFT JOIN comp USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin,
    "q66_profile" -> ProfileColumns.map(c =>
        s"""SELECT '$c' AS column_name, COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value,
           |  COUNT(*) AS n_rows FROM orders""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),
    // md5 of the decimal doc_id string is identical across engines, so the
    // per-source permutation (and therefore the sample) matches exactly.
    "q70_group_sample" ->
      """SELECT doc_id, source, sample_rank FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 20
        |ORDER BY doc_id""".stripMargin,
    "q71_top_tokens" ->
      """SELECT source, token, n, token_rank FROM (
        |  SELECT source, token, n,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, token) AS INTEGER) AS token_rank
        |  FROM (
        |    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |      SELECT source, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |    GROUP BY source, token))
        |WHERE token_rank <= 5
        |ORDER BY source, token_rank""".stripMargin,
    // Mirrors OrdersExpectations rule-for-rule: violation = predicate false
    // OR NULL (the pessimistic three-valued resolution).
    "q72_expectations" ->
      """WITH agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS key_not_null,
        |  CAST(SUM(CASE WHEN coalesce(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS positive_price,
        |  CAST(SUM(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS status_in_domain,
        |  CAST(SUM(CASE WHEN coalesce(o_orderdate BETWEEN TIMESTAMP '1992-01-01' AND TIMESTAMP '1998-12-31', FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS date_in_range
        |  FROM orders)
        |SELECT check_name, n_rows, n_violations, n_violations = 0 AS passed FROM (
        |  SELECT 'key_not_null' AS check_name, n_rows, key_not_null AS n_violations FROM agg
        |  UNION ALL SELECT 'positive_price', n_rows, positive_price FROM agg
        |  UNION ALL SELECT 'status_in_domain', n_rows, status_in_domain FROM agg
        |  UNION ALL SELECT 'date_in_range', n_rows, date_in_range FROM agg)
        |ORDER BY check_name""".stripMargin,
    "q73_label_centroids" ->
      """SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(pos AS INTEGER) AS pos, round(AVG(v), 4) AS centroid
        |FROM (SELECT label, unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin,
    // The sketch path is exact while unsaturated (see the q74 query note),
    // so the oracle is the same exact top-k SQL as q71.
    "q74_approx_top_tokens" ->
      """SELECT source, token, n, token_rank FROM (
        |  SELECT source, token, n,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, token) AS INTEGER) AS token_rank
        |  FROM (
        |    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |      SELECT source, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |    GROUP BY source, token))
        |WHERE token_rank <= 5
        |ORDER BY source, token_rank""".stripMargin,
    // Batch form of the stream-stream interval join; TIMESTAMP_NS is cast
    // to microsecond TIMESTAMP first — the same truncation the Spark side
    // applies reading the nanos fixture (see Tables.events).
    "q75_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id AS user_id,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))
        |    AS micros_to_purchase
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        |  AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,
    // Integer-only packing arithmetic: // and % on the cumulative token
    // count mirror Spark's div/pmod exactly.
    "q76_sequence_pack" ->
      """SELECT doc_id, source, n_tokens,
        |  cum_before // 512 AS start_seq,
        |  cum_before % 512 AS start_offset,
        |  (cum_before + n_tokens - 1) // 512 AS end_seq
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |      OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q77_incremental_dedup" ->
      """SELECT MIN(doc_id) AS doc_id, content_hash,
        |  COUNT(*) AS n_copies_in_batch
        |FROM (SELECT doc_id, sha256(text) AS content_hash
        |      FROM documents WHERE doc_id % 2 = 1)
        |WHERE content_hash NOT IN
        |  (SELECT sha256(text) FROM documents WHERE doc_id % 2 = 0)
        |GROUP BY content_hash
        |ORDER BY doc_id""".stripMargin,
    // Bin probabilities divide BIGINT counts into DOUBLE in both engines;
    // psi terms are rounded at 6 digits after an identical-operand ln.
    "q78_feature_drift" ->
      """WITH counts AS (
        |  SELECT CAST(LEAST(GREATEST(FLOOR(o_totalprice / 50000.0), 0), 9) AS INTEGER) AS bin,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
        |               CAST(SUM(n_cur) AS BIGINT) AS tc FROM counts)
        |SELECT bin, n_ref, n_cur,
        |  round(CAST(n_ref AS DOUBLE) / tr, 6) AS p_ref,
        |  round(CAST(n_cur AS DOUBLE) / tc, 6) AS p_cur,
        |  CASE WHEN n_ref > 0 AND n_cur > 0
        |    THEN round((CAST(n_ref AS DOUBLE) / tr - CAST(n_cur AS DOUBLE) / tc)
        |      * ln((CAST(n_ref AS DOUBLE) / tr) / (CAST(n_cur AS DOUBLE) / tc)), 6)
        |    ELSE 0.0 END AS psi_term
        |FROM counts, tot ORDER BY bin""".stripMargin,
    // Exact top-k SQL (same as q29): see the q79 query note for why the
    // two-stage plan provably returns it.
    "q79_quantized_topk" ->
      """SELECT vec_id, label,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine_sim
        |FROM embeddings WHERE vec_id <> 0
        |ORDER BY cosine_sim DESC, vec_id LIMIT 20""".stripMargin,
    // Same gaps-and-islands SQL as q20 — the streaming path must settle to
    // the identical session table.
    "q80_stream_sessions" ->
      s"""WITH marked AS (
         |  SELECT user_id, ts, value, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT user_id, ts, value,
         |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                           ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked)
         |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM sessions GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    // Same rounding + tie-break discipline as q29 (proven hash-stable):
    // rank by the ROUNDED score in both engines so float tails can't
    // reorder ties differently.
    "q81_sql_label_topk" ->
      """WITH scored AS (
        |  SELECT label, vec_id,
        |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine_sim
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT label, vec_id, cosine_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine_sim DESC, vec_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 5
        |ORDER BY label, cosine_sim DESC, vec_id""".stripMargin,
    // The materialized streaming table must equal the batch GROUP BY.
    "q82_stream_materialize" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // floor(log2 c) via binary-string length — exact in both engines.
    "q83_bigram_quality" ->
      """WITH bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 2),
        |classed AS (
        |  SELECT doc_id,
        |    CAST(length(bin(COUNT(*) OVER (PARTITION BY bigram))) - 1 AS INTEGER) AS freq_class
        |  FROM bi)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(freq_class) AS BIGINT) AS sum_freq_class,
        |  MIN(freq_class) AS min_freq_class
        |FROM classed GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q84_vocab_overlap" ->
      """WITH vocab AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
        |  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, shared,
        |  round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON source_a = sa.source
        |JOIN sizes sb ON source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // Oracle reads the ORIGINAL table: the clustered rewrite must be
    // value-identical, layout being the only difference.
    "q85_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 100 AND l_suppkey BETWEEN 1 AND 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // Plain join — the bloom prune must be invisible in the result.
    "q86_bloom_join" ->
      s"""SELECT s_suppkey, s_name, COUNT(*) AS n_lineitems,
         |  CAST(SUM(${dec("l_quantity")}) AS DOUBLE) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |WHERE s_acctbal > 5000
         |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin,
    // The pre-mutation snapshot IS the original source table.
    "q87_time_travel" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey""".stripMargin,
    // Reconstruct the change feed from the source + the known mutation:
    // keys <= 100 with a nonzero balance were updated to 0.0 (a balance
    // already 0.0 is row-identical after the upsert -> unchanged ->
    // absent), plus one synthetic insert.
    "q88_change_feed" ->
      """WITH changed AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey <= 100 AND c_acctbal <> 0.0)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal,
        |    'update_preimage' AS _change_type FROM changed
        |  UNION ALL
        |  SELECT c_custkey, c_name, 0.0 AS c_acctbal,
        |    'update_postimage' AS _change_type FROM changed
        |  UNION ALL
        |  SELECT CAST(999999 AS BIGINT) AS c_custkey, 'new customer' AS c_name,
        |    1.5 AS c_acctbal, 'insert' AS _change_type)
        |ORDER BY c_custkey, _change_type""".stripMargin,
    // The replica after CDC apply == the mutated source, reconstructed.
    "q89_cdc_replica" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey <= 100 THEN 0.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer
        |  WHERE c_custkey NOT BETWEEN 200 AND 210
        |  UNION ALL
        |  SELECT CAST(999999 AS BIGINT), 'new customer', 1.5)
        |ORDER BY c_custkey""".stripMargin,
    // Skipping must be invisible in the result: plain filter on the source.
    "q90_skipping_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 60 AND l_suppkey BETWEEN 1 AND 3
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // DuckDB 1-based inclusive slices: t[i : i+7] is the 8-token span.
    "q91_dup_spans" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      i -> array_to_string(t[i : i + 7], ' '))) AS span
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 8),
        |counted AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY span) AS c FROM sh)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  round(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
        |    AS dup_fraction
        |FROM counted GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mirrors the Spark scrub exactly: same 8-token spans as q91 (1-based
    // DuckDB list slices vs 0-based Spark sequence — positions align via
    // the +1), coverage expanded with a constant 0..7 series, tokens kept
    // by anti-join, text rebuilt position-ordered. Fully-scrubbed docs
    // rebuild as '' on both sides (COALESCE vs concat_ws-of-empty).
    "q121_exact_substr_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |spans AS (
        |  SELECT doc_id, u.pos AS pos, u.span AS span
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(range(1, len(l) - 6),
        |        i -> {'pos': i, 'span': array_to_string(l[i : i + 7], ' ')})) AS u
        |    FROM t WHERE len(l) >= 8)),
        |dup AS (SELECT span FROM spans GROUP BY span HAVING COUNT(*) > 1),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, s.pos + g.j AS cpos
        |  FROM spans s JOIN dup USING (span), generate_series(0, 7) AS g(j)),
        |toks AS (
        |  SELECT doc_id, u.pos AS pos, u.tok AS tok
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(range(1, len(l) + 1),
        |        i -> {'pos': i, 'tok': l[i]})) AS u
        |    FROM t)),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.tok
        |  FROM toks k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.cpos = k.pos
        |  WHERE c.doc_id IS NULL),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(t.l) AS BIGINT) AS n_tokens,
        |  CAST(len(t.l) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(r.cleaned, '') AS cleaned_text
        |FROM documents d JOIN t USING (doc_id) LEFT JOIN reb r ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Same exact-integer moments, then the identical double expressions —
    // no float aggregation order for the engines to disagree on.
    "q123_zscore" ->
      """WITH st AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
        |    SUM(CAST(round(c_acctbal * 100) AS BIGINT) *
        |        CAST(round(c_acctbal * 100) AS BIGINT)) AS ss
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
        |  round((c.c_acctbal - s / 100.0 / n) /
        |    sqrt((ss / 10000.0 - (s / 100.0) * (s / 100.0) / n) / (n - 1)), 6)
        |    AS z_score
        |FROM customer c JOIN st USING (c_mktsegment)
        |ORDER BY c.c_custkey""".stripMargin,
    "q122_copurchase" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
        |  COUNT(*) AS n_orders
        |FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
        |  AND a.l_partkey < c.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b
        |LIMIT ${Relational.CoPurchaseTopK}""".stripMargin,
    // The incrementally maintained table must equal the full GROUP BY.
    "q93_incremental_agg" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q96_correlated_subquery" ->
      """SELECT l_partkey, COUNT(*) AS n_small,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
        |FROM lineitem l1
        |WHERE CAST(round(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT) * 2 *
        |    (SELECT COUNT(*) FROM lineitem l2
        |     WHERE l2.l_partkey = l1.l_partkey)
        |  < (SELECT SUM(CAST(round(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT))
        |     FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin,
    "q97_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q98_rank_distributions" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q99_value_windows" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  first_value(o_totalprice) OVER w AS cheapest,
        |  last_value(o_totalprice) OVER w AS priciest,
        |  nth_value(o_totalprice, 2) OVER w AS second_cheapest
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "q100_lateral_topn" ->
      """SELECT r_name, n_name, n_customers
        |FROM region, LATERAL (
        |  SELECT n_name, COUNT(*) AS n_customers
        |  FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  WHERE n_regionkey = r_regionkey
        |  GROUP BY n_name
        |  ORDER BY n_customers DESC, n_name
        |  LIMIT 2)
        |ORDER BY r_name, n_customers DESC, n_name""".stripMargin,
    // Oracle reads the ORIGINAL table: the N-d clustered rewrite must be
    // value-identical, layout being the only difference (q85's contract,
    // one more dimension).
    "q103_zorder_nd_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 100 AND l_suppkey BETWEEN 1 AND 5
        |  AND l_quantity BETWEEN 1 AND 25
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin,
    // Same token convention as q48 (single-space split); DuckDB lists are
    // 1-based, so range(1, len) pairs ts[i] with ts[i+1].
    "q105_pmi_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
        |uni AS (SELECT unnest(ts) AS w FROM toks),
        |uc AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
        |tot AS (SELECT COUNT(*) AS n_tokens FROM uni),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |    i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS p
        |  FROM toks WHERE len(ts) >= 2),
        |pc AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS n_pair
        |       FROM pairs GROUP BY 1, 2),
        |ptot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bigrams FROM pc)
        |SELECT w1, w2, n_pair,
        |  round(ln(CAST(n_pair AS DOUBLE) * n_tokens * n_tokens
        |        / (CAST(n_bigrams AS DOUBLE) * u1.n_w * u2.n_w)), 6) AS pmi
        |FROM pc CROSS JOIN tot CROSS JOIN ptot
        |JOIN uc u1 ON w1 = u1.w
        |JOIN uc u2 ON w2 = u2.w
        |WHERE n_pair >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    // The batch key set: which row of each duplicate group the stream
    // keeps is arrival-order-dependent, the key set is not.
    "q106_stream_wm_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour
        |FROM events
        |ORDER BY user_id, event_type, hour""".stripMargin,
    "q107_forward_fill" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, value
         |  FROM events WHERE user_id < 100),
         |hourly AS (
         |  SELECT user_id, hour, COUNT(*) AS n_events,
         |    SUM(${dec("value")}) AS sum_value
         |  FROM ev GROUP BY 1, 2),
         |spans AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM ev GROUP BY 1),
         |grid AS (
         |  SELECT user_id, CAST(unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS TIMESTAMP) AS hour
         |  FROM spans)
         |SELECT g.user_id, g.hour,
         |  COALESCE(n_events, 0) AS n_events,
         |  round(CAST(LAST_VALUE(sum_value IGNORE NULLS) OVER (
         |    PARTITION BY g.user_id ORDER BY g.hour
         |    ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS filled_value
         |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
         |ORDER BY g.user_id, g.hour""".stripMargin,
    // Identical contract to q42: the settled stream equals the batch totals.
    "q108_stream_tws" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(${dec("value")}) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // One template, two engines: the oracle IS the Spark SQL text with the
    // view prefix stripped (q111's whole point — the SQL front door).
    "q111_sql_revenue_by_nation" -> RevenueByNationSql(""),
    "q124_sql_pricing_summary" -> PricingSummarySql(""),
    "q125_sql_top_revenue" -> TopRevenueSql(""),
    // First-touch funnel chaining via nested min-aggregations: each stage's
    // time is the earliest qualifying event strictly after (and within 24h
    // of) the previous stage's time — same strict bounds as Events.funnel.
    "q112_funnel" ->
      """WITH base AS (SELECT user_id, ts, event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |v AS (SELECT user_id, MIN(ts) AS t0 FROM base
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT b.user_id, MIN(b.ts) AS t1 FROM base b JOIN v USING (user_id)
        |  WHERE b.event_type = 'click' AND b.ts > v.t0
        |    AND b.ts <= v.t0 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT b.user_id, MIN(b.ts) AS t2 FROM base b JOIN c USING (user_id)
        |  WHERE b.event_type = 'purchase' AND b.ts > c.t1
        |    AND b.ts <= c.t1 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT 1 AS stage_idx, 'view' AS stage, (SELECT COUNT(*) FROM v) AS users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
        |ORDER BY stage_idx""".stripMargin,
    // DuckDB's date_trunc('day') yields DATE; cast to TIMESTAMP to match
    // Spark's date_trunc. day_offset by day-difference (both sides are
    // day-truncated, so the integer division is exact).
    "q113_cohort_retention" ->
      """WITH pur AS (SELECT user_id, date_trunc('day', ts) AS d FROM events
        |  WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, MIN(d) AS cd FROM pur GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, d FROM pur)
        |SELECT CAST(f.cd AS TIMESTAMP) AS cohort_day,
        |  CAST(date_diff('day', f.cd, a.d) AS INTEGER) AS day_offset,
        |  COUNT(*) AS active_users
        |FROM f JOIN a USING (user_id)
        |WHERE date_diff('day', f.cd, a.d) < 14
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // DuckDB ntile returns BIGINT (Spark: INT) — cast; same total order as
    // the Spark side's two-level assignment.
    "q114_price_bins" ->
      s"""WITH t AS (SELECT l_extendedprice,
         |  CAST(ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
         |    l_linenumber) AS INTEGER) AS bin
         |FROM lineitem)
         |SELECT bin, COUNT(*) AS n_rows,
         |  CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
         |  CAST(MAX(l_extendedprice) AS DOUBLE) AS hi,
         |  CAST(SUM(${dec("l_extendedprice")}) AS DOUBLE) AS sum_price
         |FROM t GROUP BY bin ORDER BY bin""".stripMargin,
    // Same A-ES key as the Spark side: u from the first 13 md5 hex digits
    // (52 bits — exact in a double in both engines), key = ln(u)/n_chars.
    // 4503599627370496 = 2^52. One libm ln per row; rank flips would need
    // two keys within an ulp (q78's ln precedent).
    "q115_weighted_sample" ->
      """SELECT doc_id, source, n_chars, sample_rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)
        |          AS BIGINT) + 1) / 4503599627370496.0) / n_chars DESC,
        |        doc_id) AS INTEGER) AS sample_rank
        |  FROM documents WHERE n_chars > 0)
        |WHERE sample_rank <= 25
        |ORDER BY doc_id""".stripMargin,
    // Recomputes q117's synthetic PCM from its generating formula (the
    // Spark side decodes the same signal from the binary payload) and
    // mirrors the framing arithmetic: each sample lands in candidate
    // frames i//256 and i//256 - 1 (hop 256, width 512 ⇒ every sample is
    // in exactly those ≤2), filtered to valid frame ids. Integer-only, so
    // the hash match is exact. generate_series can't take a lateral bound
    // here — fixed 0..3071 (the max clip length) filtered by i < n.
    "q117_audio_features" ->
      """WITH docs AS (SELECT doc_id, CAST(2048 + doc_id % 1024 AS BIGINT) AS n
        |  FROM documents),
        |samp AS (
        |  SELECT d.doc_id, d.n, g.i,
        |    ((d.doc_id*31 + g.i*g.i*7) % 65536) - 32768 AS s
        |  FROM docs d, generate_series(0, 3071) AS g(i) WHERE g.i < d.n),
        |zcq AS (
        |  SELECT doc_id, CAST(COALESCE(SUM(CASE WHEN s * ns < 0 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_zero_cross
        |  FROM (SELECT doc_id, i, s,
        |      lead(s) OVER (PARTITION BY doc_id ORDER BY i) AS ns FROM samp)
        |  GROUP BY doc_id),
        |fr AS (
        |  SELECT doc_id, f, CAST(SUM(s * s) AS BIGINT) AS e
        |  FROM (
        |    SELECT doc_id, n, i, s, i // 256 AS f FROM samp
        |    UNION ALL
        |    SELECT doc_id, n, i, s, i // 256 - 1 AS f FROM samp)
        |  WHERE f >= 0 AND f <= (n - 512) // 256
        |  GROUP BY doc_id, f),
        |agg AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS total_energy
        |  FROM fr GROUP BY doc_id),
        |pk AS (SELECT doc_id, f AS peak_frame, e AS peak_energy FROM (
        |   SELECT doc_id, f, e, row_number() OVER (PARTITION BY doc_id
        |     ORDER BY e DESC, f) AS rn FROM fr) WHERE rn = 1)
        |SELECT d.doc_id AS media_id, d.n AS n_samples,
        |  (d.n - 512) // 256 + 1 AS n_frames, a.total_energy,
        |  p.peak_frame, p.peak_energy, z.n_zero_cross
        |FROM docs d JOIN agg a USING (doc_id) JOIN pk p USING (doc_id)
        |  JOIN zcq z ON z.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,
    // Same md5-derived shard/rank as the Spark side: first 8 md5 hex
    // digits → 32-bit bucket mod 8; position ranks the full digest within
    // the shard (q70/q115's md5-permutation precedent).
    "q118_training_shards" ->
      """WITH t AS (SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |s AS (SELECT doc_id, source, h,
        |    CAST(CAST('0x' || substring(h, 1, 8) AS BIGINT) % 8 AS INTEGER) AS shard
        |  FROM t)
        |SELECT doc_id, source, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) - 1 AS position
        |FROM s ORDER BY doc_id""".stripMargin,
    // Anchored regexes are RE2-safe, so java.util.regex and DuckDB RE2
    // agree on every match; masking captures the suffix of the FULL-id
    // detector pattern (Spark `$1` == DuckDB `\1` backreference), so only
    // detected identifiers are ever masked.
    "q119_pii_mask" ->
      """WITH m AS (SELECT c_mktsegment,
        |    regexp_matches(c_name, '^Customer#[0-9]{9}$') AS hit,
        |    regexp_replace(c_name,
        |      '^Customer#[0-9]{5}([0-9]{4})$', 'Customer#*****\1') AS masked
        |  FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_id_detected,
        |  MIN(masked) AS min_masked, MAX(masked) AS max_masked
        |FROM m GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // The streaming funnel settles to the batch funnel's answer exactly,
    // so it shares q112's oracle verbatim.
    "q116_stream_funnel" ->
      """WITH base AS (SELECT user_id, ts, event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |v AS (SELECT user_id, MIN(ts) AS t0 FROM base
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT b.user_id, MIN(b.ts) AS t1 FROM base b JOIN v USING (user_id)
        |  WHERE b.event_type = 'click' AND b.ts > v.t0
        |    AND b.ts <= v.t0 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT b.user_id, MIN(b.ts) AS t2 FROM base b JOIN c USING (user_id)
        |  WHERE b.event_type = 'purchase' AND b.ts > c.t1
        |    AND b.ts <= c.t1 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT 1 AS stage_idx, 'view' AS stage, (SELECT COUNT(*) FROM v) AS users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
        |ORDER BY stage_idx""".stripMargin,
    // Same whitespace token counts (q25 convention), same sqrt weights,
    // and the SAME fixed-order fold for the normalizer: list(wt ORDER BY
    // source) folded left equals Spark's aggregate() over the
    // source-sorted struct array, addition for addition.
    "q126_mixture_weights" ->
      s"""WITH per AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS wt FROM per),
         |t AS (SELECT list_reduce(list(wt ORDER BY source), (a, b) -> a + b) AS tw FROM w)
         |SELECT source, n_docs, n_tokens, round(wt, 6) AS weight,
         |  round(wt / t.tw, 6) AS p_sample,
         |  CAST(round($MixtureBudgetTokens * round(wt / t.tw, 6)) AS BIGINT) AS quota_tokens
         |FROM w CROSS JOIN t ORDER BY source""".stripMargin,
    // q28's pair SQL (same shingling, df-guard, Jaccard cut) extended by
    // the q69 recursive-closure convention, then a window-ranked keep
    // policy (longest n_chars, tie to min doc_id). Docs whose every
    // shingle is stop-filtered never pair — they stay singletons.
    "q127_cluster_canonical" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) < 3 THEN [text]
        |         ELSE list_transform(range(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS sh
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
        |df AS (SELECT sh AS s, COUNT(*) AS df FROM sh GROUP BY sh),
        |total AS (SELECT COUNT(*) AS n FROM documents),
        |filtered AS (
        |  SELECT sh.doc_id, sh.sh FROM sh
        |  JOIN df ON sh.sh = df.s CROSS JOIN total
        |  WHERE df.df <= CAST(floor(total.n * 0.5) AS BIGINT)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |  FROM filtered a JOIN filtered b ON a.sh = b.sh
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |prs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON inter.doc_a = sa.doc_id
        |  JOIN sizes sb ON inter.doc_b = sb.doc_id
        |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2),
        |undirected AS (
        |  SELECT doc_a AS u, doc_b AS v FROM prs
        |  UNION SELECT doc_b, doc_a FROM prs),
        |closure(u, v) AS (
        |  SELECT u, v FROM undirected
        |  UNION
        |  SELECT c.u, d.v FROM closure c JOIN undirected d ON c.v = d.u),
        |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
        |  FROM closure GROUP BY u),
        |lab AS (SELECT d.doc_id, COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
        |    d.n_chars
        |  FROM documents d LEFT JOIN comp USING (doc_id)),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id) AS rn FROM lab),
        |agg AS (SELECT cluster_id, COUNT(*) AS n_members,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM lab GROUP BY cluster_id)
        |SELECT a.cluster_id, r.doc_id AS kept_doc_id, a.n_members,
        |  r.n_chars AS kept_chars, a.total_chars - r.n_chars AS chars_dropped
        |FROM agg a JOIN ranked r ON r.cluster_id = a.cluster_id AND r.rn = 1
        |ORDER BY a.cluster_id""".stripMargin,
    // Pure window SQL both sides; the (o_orderdate, o_orderkey) tiebreak
    // totalizes change order so same-instant changes resolve identically.
    // Shared with q140: the incremental apply must equal this full rebuild.
    "q128_scd2" -> Scd2Sql,
    // DuckDB's temporal RANGE frame over the order DATE covers the same
    // rows as Spark's [-29, 0] day-number range frame; same-day peers are
    // included by both (RANGE semantics).
    "q129_trailing_window" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  COUNT(*) OVER w AS n_orders_30d,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS sum_cents_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
        |  RANGE BETWEEN INTERVAL 29 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    // quantile_cont over exact BIGINT cents == Spark's interpolating
    // percentile (the q51 parity); MAD = 0 groups flag nothing.
    "q130_mad_outliers" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |med AS (SELECT event_type, quantile_cont(c, 0.5) AS m
        |  FROM base GROUP BY event_type),
        |dev AS (SELECT b.*, abs(b.c - med.m) AS ad
        |  FROM base b JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS md
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, d.event_id, d.value,
        |  round(d.ad / (1.4826 * mad.md), 6) AS robust_z
        |FROM dev d JOIN mad USING (event_type)
        |WHERE mad.md > 0 AND d.ad > 3.5 * 1.4826 * mad.md
        |ORDER BY d.event_type, d.event_id""".stripMargin,
    // Same month-number arithmetic (year*12 + month - 1), same
    // rank-difference island labeling, same (len DESC, start) keep order.
    "q131_order_streaks" ->
      """WITH months AS (
        |  SELECT DISTINCT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
        |  FROM orders),
        |streaks AS (
        |  SELECT o_custkey, COUNT(*) AS len, MIN(m) AS start_m
        |  FROM (SELECT o_custkey, m,
        |          m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS isl
        |        FROM months)
        |  GROUP BY o_custkey, isl),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY len DESC, start_m) AS rn FROM streaks)
        |SELECT o_custkey,
        |  CAST(SUM(len) AS BIGINT) AS n_active_months,
        |  COUNT(*) AS n_streaks,
        |  CAST(MAX(len) AS INTEGER) AS longest_streak,
        |  CAST(make_date(
        |    CAST(MIN(CASE WHEN rn = 1 THEN start_m END) // 12 AS INTEGER),
        |    CAST(MIN(CASE WHEN rn = 1 THEN start_m END) % 12 + 1 AS INTEGER),
        |    1) AS TIMESTAMP) AS longest_start
        |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // Same blocking key (last whitespace token), same distance cut; the
    // quadratic stage runs over distinct names in both engines.
    "q132_fuzzy_match" ->
      """WITH names AS (
        |  SELECT p_name AS name, COUNT(*) AS n_parts FROM part GROUP BY p_name),
        |b AS (
        |  SELECT name, n_parts,
        |    list_extract(string_split(name, ' '),
        |      len(string_split(name, ' '))) AS block
        |  FROM names)
        |SELECT a.name AS name_a, c.name AS name_b,
        |  levenshtein(a.name, c.name) AS dist,
        |  a.n_parts AS n_parts_a, c.n_parts AS n_parts_b,
        |  a.n_parts * c.n_parts AS n_row_pairs
        |FROM b a JOIN b c ON a.block = c.block AND a.name < c.name
        |WHERE levenshtein(a.name, c.name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    // Same (ts, event_id) total order; probability is one double division
    // per row in both engines. Shared with q138: the settled stream must
    // equal the same matrix.
    "q133_event_transitions" -> TransitionsSql,
    // The three IGNORE-NULLS last_value calls are null exactly on purchase
    // rows, so they agree on which prior row they pick; the micros delta
    // is exact integer epoch arithmetic.
    "q134_last_touch" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END
        |      IGNORE NULLS) OVER w AS t_ts,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
        |      IGNORE NULLS) OVER w AS t_id,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS t_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |k AS (SELECT *,
        |    t_ts IS NOT NULL AND t_ts >= ts - INTERVAL 7 DAY AS ok FROM e)
        |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |  CASE WHEN ok THEN t_type END AS touch_type,
        |  CASE WHEN ok THEN t_id END AS touch_id,
        |  CASE WHEN ok THEN epoch_us(ts) - epoch_us(t_ts) END
        |    AS micros_since_touch
        |FROM k WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    // The q53 lexical arm (LIMIT 50) and the q29 dense arm (LIMIT 50),
    // fused in RANK space — the score scales never mix, so the only
    // doubles are two reciprocals of small integers.
    "q135_rrf_hybrid" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS dl FROM documents),
        |corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM docs),
        |toks AS (SELECT doc_id, dl, unnest(w) AS tok FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'scan', 'merge') GROUP BY 1, 2, 3),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT doc_id, tok,
        |    ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1))
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (CAST(total_dl AS DOUBLE) / n_docs))) AS term_score
        |  FROM tf JOIN df USING (tok) CROSS JOIN corpus),
        |piv AS (
        |  SELECT doc_id,
        |    max(CASE WHEN tok = 'spark' THEN term_score END) AS s1,
        |    max(CASE WHEN tok = 'scan' THEN term_score END) AS s2,
        |    max(CASE WHEN tok = 'merge' THEN term_score END) AS s3
        |  FROM scored GROUP BY doc_id),
        |lexall AS (
        |  SELECT doc_id,
        |    round(coalesce(s1, 0) + coalesce(s2, 0) + coalesce(s3, 0), 6) AS bm25
        |  FROM piv ORDER BY bm25 DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id AS id,
        |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
        |      AS lex_rank FROM lexall),
        |denseall AS (
        |  SELECT vec_id,
        |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |       WHERE vec_id = 0)), 6) AS cosine_sim
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY cosine_sim DESC, vec_id LIMIT 50),
        |dense AS (SELECT vec_id AS id,
        |    CAST(row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS INTEGER)
        |      AS dense_rank FROM denseall),
        |f AS (SELECT COALESCE(lex.id, dense.id) AS id, lex_rank, dense_rank
        |  FROM lex FULL OUTER JOIN dense ON lex.id = dense.id)
        |SELECT id, lex_rank, dense_rank,
        |  round(COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), 0) +
        |        COALESCE(CAST(1 AS DOUBLE) / (60 + dense_rank), 0), 6)
        |    AS rrf_score
        |FROM f ORDER BY rrf_score DESC, id LIMIT 20""".stripMargin,
    // quantile_cont over exact BIGINT cents (q51/q130 parity), then the
    // clamp and single division are the same IEEE ops both sides.
    "q136_winsorize" ->
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS c FROM customer),
        |st AS (SELECT c_mktsegment,
        |    quantile_cont(c, 0.05) AS lo, quantile_cont(c, 0.95) AS hi
        |  FROM base GROUP BY 1)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |  round(greatest(least(CAST(c AS DOUBLE), hi), lo)
        |    / CAST(100 AS DOUBLE), 6) AS acctbal_w,
        |  c < lo AS clipped_low, c > hi AS clipped_high
        |FROM base JOIN st USING (c_mktsegment) ORDER BY c_custkey""".stripMargin,
    // The oracle is the quadratic dominance NOT EXISTS — the semantics,
    // stated directly; the Spark plan replaces it with the sliced
    // prefix-max. Price comparisons on the raw 2-decimal doubles are
    // exact, so cents vs raw agree.
    "q137_pareto_parts" ->
      """SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    // The settled stream and the batch operator share ONE truth.
    "q138_stream_transitions" -> TransitionsSql,
    // Same cumulative-crossing definition: smallest value whose cumulative
    // BIGINT-cents weight reaches half the group total.
    "q139_weighted_median" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        |  FROM lineitem),
        |c AS (SELECT l_returnflag, l_quantity,
        |    SUM(w) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM base)
        |SELECT l_returnflag,
        |  MIN(l_quantity) AS weighted_median_qty,
        |  CAST(MIN(tot) AS BIGINT) AS total_weight_cents
        |FROM c WHERE 2 * cum >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The incremental apply is correct iff it equals the full rebuild.
    "q140_scd2_apply" -> Scd2Sql,
    // Same change detection + same-instant dedup (max_by over the
    // (date, orderkey) order), then DuckDB's native ASOF LEFT JOIN —
    // inclusive >= on both sides, matching the union+running-last plan.
    "q141_scd2_lookup" -> Scd2LookupSql,
    // The plain join IS the oracle for the delta-join partition.
    "q142_incremental_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q80's sessionization convention (new session at gap >= 5 min, the
    // session_window half-open-interval semantics), then an ordered
    // string_agg walk per session and a top-k histogram.
    "q143_session_paths" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        |paths AS (
        |  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sessions GROUP BY user_id, sid)
        |SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // Incremental streamed maintenance == the full rebuild.
    "q144_stream_scd2" -> Scd2Sql,
    // The composed maintain+enrich stream must settle to the BATCH
    // point-in-time lookup — one oracle, two execution shapes.
    "q145_stream_scd2_enrich" -> Scd2LookupSql,
    "q146_incremental_neardup" -> IncrementalNearDupSql,
    "q148_stream_neardup" -> IncrementalNearDupSql,
    "q149_copurchase_pagerank" -> graft.ops.Graph.pageRankSql(),
    "q150_copurchase_components" -> graft.ops.Graph.coPurchaseComponentsSql(),
    "q151_pagerank_subgraph" ->
      graft.ops.Graph.pageRankSql(where = graft.ops.Graph.subgraphWhere),
    "q152_components_subgraph" ->
      graft.ops.Graph.coPurchaseComponentsSql(where = graft.ops.Graph.subgraphWhere),
    "q153_copurchase_triangles" -> graft.ops.Graph.trianglesSql(),
    "q154_link_prediction" -> graft.ops.Graph.linkPredictionSql(),
    "q155_pagerank_converged_subgraph" -> graft.ops.Graph.pageRankSql(
      iterations = graft.ops.Graph.ConvergedSubgraphIters,
      where = graft.ops.Graph.subgraphWhere),
    "q156_clustering_coefficient" -> graft.ops.Graph.clusteringCoefficientSql(),
    "q157_kcore" -> graft.ops.Graph.kCoreSql(),
    "q158_tfidf_keywords" -> graft.text.Search.tfIdfSql(),
    "q159_assortativity" -> graft.ops.Graph.assortativitySql(),
    "q160_weighted_pagerank_subgraph" ->
      graft.ops.Graph.weightedPageRankSql(where = graft.ops.Graph.subgraphWhere),
    "q161_ppr_subgraph" ->
      graft.ops.Graph.personalizedPageRankSql(where = graft.ops.Graph.subgraphWhere),
    "q147_filter_funnel" ->
      """WITH f AS (SELECT lang, text, string_split(text, ' ') AS w,
        |    len(text) AS nc FROM documents),
        |g AS (SELECT lang, len(w) AS nw, nc, len(list_distinct(w)) AS nd,
        |    list_max(list_transform(list_distinct(w),
        |      t -> len(list_filter(w, x -> x = t)))) AS topc FROM f),
        |s AS (SELECT CASE WHEN lang <> 'en' THEN 1 WHEN nw < 30 THEN 2
        |    WHEN NOT (3*nw <= nc AND 2*nc <= 11*nw) THEN 3
        |    WHEN 2*nd < nw THEN 4 WHEN 10*topc > nw THEN 5
        |    ELSE 0 END AS ff FROM g),
        |c AS (SELECT ff, COUNT(*) AS c FROM s GROUP BY ff),
        |stages(stage_idx, stage) AS (VALUES (1, 'lang_en'), (2, 'min_words'),
        |  (3, 'word_shape'), (4, 'dup_tokens'), (5, 'top_token')),
        |tot AS (SELECT SUM(c) AS n_total FROM c),
        |j AS (SELECT stage_idx, stage, COALESCE(c.c, 0) AS n_rejected
        |      FROM stages LEFT JOIN c ON c.ff = stages.stage_idx),
        |cum AS (SELECT stage_idx, stage, n_rejected,
        |    COALESCE(SUM(n_rejected) OVER (ORDER BY stage_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM j)
        |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
        |  CAST(n_total - prior AS BIGINT) AS n_in,
        |  CAST(n_rejected AS BIGINT) AS n_rejected,
        |  CAST(n_total - prior - n_rejected AS BIGINT) AS n_out
        |FROM cum CROSS JOIN tot ORDER BY stage_idx""".stripMargin)

  /** SCD2 full-rebuild SQL — q128's oracle AND q140's (the incremental
    * apply is checked against the very same rebuild). */
  /** SCD2 point-in-time lookup SQL — q141's oracle AND q145's (the
    * settled maintain+enrich stream must equal the batch lookup). */
  val Scd2LookupSql: String =
    """WITH ch AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |f AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      |  FROM ch WHERE prev IS NULL OR prev <> o_orderpriority),
      |dedup AS (
      |  SELECT o_custkey AS user_id, o_orderdate AS effective_from,
      |    max_by(o_orderpriority, o_orderkey) AS o_orderpriority
      |  FROM f GROUP BY 1, 2),
      |facts AS (SELECT event_id, user_id,
      |    CAST(DATE '1995-01-01' + CAST(event_id % 2400 AS INTEGER)
      |      AS TIMESTAMP) AS fact_ts
      |  FROM events)
      |SELECT f.event_id, f.user_id, f.fact_ts,
      |  d.o_orderpriority AS priority_at_fact
      |FROM facts f ASOF LEFT JOIN dedup d
      |  ON f.user_id = d.user_id AND f.fact_ts >= d.effective_from
      |ORDER BY f.event_id""".stripMargin

  /** Incremental near-dup screening SQL — q146's oracle AND q148's (the
    * settled per-micro-batch stream screening must equal the one-shot
    * batch screen; verdicts depend only on the persisted index). The
    * naive form over all documents: the engine's content collapse and
    * index split are plan optimizations, not semantics. */
  val IncrementalNearDupSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(w) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(w) - 1),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)),
      |ex AS (SELECT doc_id AS ex_doc, sh FROM sh WHERE doc_id % 2 = 0),
      |inc AS (SELECT doc_id AS inc_doc, sh FROM sh WHERE doc_id % 2 = 1),
      |nex AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 2 = 0),
      |stop AS (
      |  SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh)
      |  CROSS JOIN nex WHERE df > CAST(floor(n * 0.5) AS BIGINT)),
      |fex AS (SELECT ex_doc, sh FROM ex WHERE sh NOT IN (SELECT sh FROM stop)),
      |finc AS (SELECT inc_doc, sh FROM inc WHERE sh NOT IN (SELECT sh FROM stop)),
      |sex AS (SELECT ex_doc, COUNT(*) AS n_ex FROM fex GROUP BY 1),
      |sinc AS (SELECT inc_doc, COUNT(*) AS n_inc FROM finc GROUP BY 1),
      |cand AS (
      |  SELECT inc_doc, ex_doc, COUNT(*) AS n_common
      |  FROM finc JOIN fex USING (sh) GROUP BY 1, 2),
      |jac AS (
      |  SELECT inc_doc, ex_doc, n_common,
      |    round(CAST(n_common AS DOUBLE) / (n_inc + n_ex - n_common), 6) AS jaccard
      |  FROM cand JOIN sinc USING (inc_doc) JOIN sex USING (ex_doc)
      |  WHERE CAST(n_common AS DOUBLE) / (n_inc + n_ex - n_common) >= 0.8)
      |SELECT inc_doc AS doc_id, ex_doc AS matched_doc, n_common, jaccard
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY inc_doc ORDER BY jaccard DESC, ex_doc ASC) AS rn
      |      FROM jac)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  val Scd2Sql: String =
    """WITH ch AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
      |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |f AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> o_orderpriority)
      |SELECT o_custkey,
      |  CAST(row_number() OVER w AS INTEGER) AS version_n,
      |  o_orderpriority,
      |  o_orderdate AS effective_from,
      |  lead(o_orderdate) OVER w AS effective_to,
      |  lead(o_orderdate) OVER w IS NULL AS is_current
      |FROM f
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, version_n""".stripMargin

  /** Markov transition-matrix SQL — q133's oracle AND q138's (the settled
    * stream must equal the batch matrix). */
  val TransitionsSql: String =
    """WITH nx AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
      |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n_transitions,
      |  round(CAST(n_transitions AS DOUBLE) /
      |    SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS p_transition
      |FROM c ORDER BY from_type, to_type""".stripMargin
}
