package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative link analysis over relational co-occurrence graphs — the
  * Pregel-by-joins family (reference scope: none; build-target extension).
  *
  * PageRank here runs over the part co-purchase graph ([[Relational
  * .coPurchasePairs]]' edge definition, symmetrized, unweighted): nodes
  * are parts that share at least one order with another part, so the
  * graph has no dangling nodes (symmetry gives every node out-degree
  * ≥ 1) and the classic dangling-mass correction drops out.
  *
  * '''The shared edge base.''' All six graph queries (PageRank fixed +
  * converged, components, triangles, link prediction, and their subgraph
  * twins) derive from ONE relation: the support-annotated co-purchase
  * pair list `(src, dst, n_orders)` with `src < dst` ([[pairBase]]).
  * Through round 9 each operator rebuilt that distinct-basket self-join
  * inline — at sf10 it dominated every graph wall, three to six times
  * per bench run. It is now a PERSISTED PER-CORPUS ARTIFACT
  * ([[GraphEdges]]): built once per (corpus, JVM) like the near-dup
  * screening index, with every support threshold a pushed-down filter
  * over the artifact (`minSupport = k` ⇒ `n_orders >= k`; the raw graph
  * is `>= 1`). That is exactly how a 100 TB deployment runs link
  * analysis: the co-occurrence edge list is a derived table maintained
  * alongside the fact table, not a self-join re-run per query. The
  * inline `coPurchase*(lineitem)` forms remain for arbitrary frames and
  * tests, and produce identical results (spec-pinned).
  *
  * Scale shape: the edge list and per-node degrees are built once and
  * pinned via the DataFrame cache at MEMORY_AND_DISK — COMPRESSED
  * COLUMNAR batches (three long columns), spilling past the storage
  * pool, and unpersisted before the operator returns. This replaced the
  * round-7 localCheckpoint pin, which held the same sf10 ~240M-row
  * frame as DESERIALIZED row objects on the heap — the measured
  * 5.8×-per-decade memory wall. Each iteration is then one hash
  * equi-join
  * (edges ⋈ ranks on src) and two keyed aggregations — the standard
  * distributed PageRank step. Rank lineage is truncated only every
  * [[CheckpointEvery]] iterations (plan depth stays bounded without
  * paying a materialization per round); between checkpoints the
  * iterations fuse into one job whose shuffle stages each run once.
  *
  * Cross-engine exactness: per-node contribution sums fold in a
  * DETERMINISTIC two-level order — neighbors are bucketed into
  * [[FoldSlices]] slices by `src % FoldSlices`, each slice folds
  * left-to-right over neighbors sorted by source id, then slice sums
  * fold left-to-right by slice id — and the oracle SQL performs the
  * IDENTICAL two-level fold (`list_reduce(list(… ORDER BY …))` at both
  * levels), so ranks match bit-for-bit and the top-k cut (on the
  * ROUNDED rank, ties to min part id) cannot straddle an epsilon.
  * The slicing also bounds aggregation buffers: a hot node's neighbor
  * array never materializes whole — per-group arrays hold at most
  * max(FoldSlices, degree/FoldSlices) entries, so a power-law hub is a
  * set of medium groups instead of one straggler/OOM row (the
  * [[Partitioning.slicedRunningMax]] discipline applied to folds).
  */
object Graph {

  /** Damping, iteration count, and output size for q149 — the oracle SQL
    * is GENERATED from these same constants ([[pageRankSql]]), so the two
    * sides cannot drift. */
  val PageRankDamping = 0.85
  val PageRankIterations = 3
  val PageRankTopK = 20

  /** Per-node fold slice count: contribution sums fold within
    * `src % FoldSlices` buckets first, then across buckets. Mirrored
    * literally in the oracle SQL — changing it changes BOTH sides. */
  val FoldSlices = 64

  /** Rank lineage is localCheckpoint'ed every this-many iterations: deep
    * enough that a 3-iteration run never materializes intermediates, while
    * a convergence run's plan depth stays bounded. 4 is the MEASURED
    * optimum (round-14 cadence sweep on q155's 48 padded rounds, quiet
    * box, same adaptive pin): cadence 2 → 8.69 s, 4 → 6.80 s, 8 → 9.81 s —
    * shallower plans pay more checkpoint jobs, deeper ones pay
    * superlinear planning/AQE-replanning per materialization; and 2 also
    * costs the 3-iteration fixed mode an extra truncation (q149
    * 3.69 → 4.16 s). */
  val CheckpointEvery = 4

  /** Storage level for the edge+degree pin, parsed LAZILY from the
    * SPARK_GRAFT_GRAPH_PIN env (any [[StorageLevel.fromString]] name) so a
    * deployment whose edge frame dwarfs executor storage can move it to
    * DISK_ONLY without a rebuild — and so a typo'd name surfaces as a
    * clear per-call error naming the env var, not an
    * ExceptionInInitializerError on first touch of the object that then
    * poisons every graph query in the session. The default was settled by
    * a 2x2 fresh-JVM A/B at the LARGEST bench scale (sf10, ~240M edge
    * rows, round 9): with the pin released on return (below),
    * MEMORY_AND_DISK best 152.6 s vs DISK_ONLY best 149.7 s — a tie
    * inside the run-to-run spread (150-187 s across all samples) — while
    * at sf3 the columnar cache had measured ~1.6x faster (37 s vs 61 s,
    * round 8). Columnar MEMORY_AND_DISK therefore stays: it wins the mid
    * scale and costs nothing at the top one. (The round-8 237 s sf10 wall
    * under this same level was the LEAKED pin competing with shuffle
    * memory, not the level itself.) */
  private[graft] def edgePin: StorageLevel = parsePin(sys.env.get("SPARK_GRAFT_GRAPH_PIN"))

  private[graft] def parsePin(name: Option[String]): StorageLevel = name match {
    case None => StorageLevel.MEMORY_AND_DISK
    case Some(s) =>
      try StorageLevel.fromString(s)
      catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_GRAPH_PIN='$s' is not a Spark StorageLevel name — " +
              "use one of NONE, DISK_ONLY[_2|_3], MEMORY_ONLY[_2|_SER[_2]], " +
              "MEMORY_AND_DISK[_2|_SER[_2]], OFF_HEAP")
      }
  }

  /** The support-annotated co-purchase pair base: `(src, dst, n_orders)`
    * with `src < dst`, `n_orders` = distinct orders containing BOTH parts.
    * Every graph operator derives from this one relation — the raw graph
    * is `n_orders >= 1`, the affinity graph `n_orders >= minSupport`. */
  def pairBase(lineitem: DataFrame): DataFrame = {
    val baskets = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    baskets.as("a")
      .join(baskets.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** All parts present in lineitem — the node universe [[componentsFromPairs]]
    * left-joins labels onto (isolated parts are their own components). */
  def nodeBase(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_partkey").as("part")).distinct()

  /** The pinned edge+degree frame and node count shared by both PageRank
    * modes: the pair base symmetrized, degree-annotated, cached (columnar,
    * [[edgePin]]) and materialized exactly once. Callers MUST unpersist
    * the returned frame before returning — a forgotten pin is a
    * session-lifetime CacheManager entry (~GBs at sf10) that repeated
    * calls stack up. */
  /** The symmetrized, degree-annotated edge relation `(src, dst, outdeg)`
    * derived from a pair list — the lazy plan [[pinStack]] pins. Persisted
    * per-corpus by [[GraphEdges.warm]] as `edges_deg` (full and subgraph),
    * so the PageRank variants LOAD the stack instead of re-running
    * union+degree+join per query — through round 10 that rebuild was the
    * dominant pre-iteration cost at sf10, paid by q149/q151/q155/q160/q161
    * each (round-10 ask #2). */
  private[graft] def symmetrizedDeg(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("src"), col("dst"))
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(deg, Seq("src"))
  }

  /** The weighted analog `(src, dst, w, wsum)` — `w` the co-purchase
    * support, `wsum` the source's total outgoing weight. Persisted as
    * `edges_w` / `edges_w_sub` alongside [[symmetrizedDeg]]'s files. */
  private[graft] def symmetrizedW(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("src"), col("dst"), col("n_orders").as("w"))
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val ws = edges.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    edges.join(ws, Seq("src"))
  }

  /** Pin a stack frame and materialize it via the node-count action. The
    * stack is reused every iteration: pinned once via the DataFrame
    * cache — COMPRESSED COLUMNAR batches (three long columns compress to
    * a few bytes/row), spilling to disk only past the storage pool. This
    * is what the round-7 localCheckpoint pin was not: localCheckpoint
    * persists the raw RDD[InternalRow] DESERIALIZED (row objects on
    * heap — the measured 5.8×-per-decade sf10 memory wall); the columnar
    * pin holds the same sf10 frame in ~GBs. Callers MUST unpersist the
    * returned frame before returning — a forgotten pin is a
    * session-lifetime CacheManager entry that repeated calls stack up. */
  /** Target edge rows per pinned partition. The iteration join's map side
    * runs the partial fold, so pin parallelism IS the per-iteration CPU
    * parallelism — but a stack far smaller than (cores × target) gains
    * nothing from more tasks and pays scheduler fixed cost × iterations
    * for them (48 rounds × 32 single-digit-millisecond tasks dominated
    * q155/q151/q161 at bench scale). 64k rows ≈ a few MB of (long, long,
    * long) — small enough that a partition is never a straggler, large
    * enough that a task outweighs its scheduling. */
  private[graft] val PinTargetRowsPerPartition = 64000L

  /** Scale-adaptive pin partition count (guide §2: derive partitioning
    * from input size, not a session constant): one partition per
    * [[PinTargetRowsPerPartition]] edge rows, capped at the session's
    * core count. Tiny subgraph stacks pin to 1 partition; a 100 TB stack
    * saturates the cluster exactly as before. */
  private[graft] def pinPartitions(spark: SparkSession, rows: Long): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    math.max(1L, math.min(cores,
      (rows + PinTargetRowsPerPartition - 1) / PinTargetRowsPerPartition)).toInt
  }

  private[graft] def pinStack(stack: DataFrame): (DataFrame, Long) = {
    // Hash-partition the pin by `src` (round-11 ask #1): InMemoryRelation
    // preserves its child's outputPartitioning, so every iteration's
    // src-equi-join reads its clustered distribution STRAIGHT OFF THE
    // CACHE — only the (part, rank)-sized rank side exchanges. Without
    // this the cache carries file-split partitioning and the join
    // re-shuffles the big edge side EVERY iteration (×3 fixed mode, ×48
    // converged) in all five PageRank variants; one exchange at pin time
    // replaces all of them. PlanSpec pins the absence of a stack-side
    // Exchange on the iteration join.
    //
    // Partition COUNT is derived from the stack's row count (round 14,
    // guide §2): on the artifact path the count is a parquet-metadata
    // read; ranks are partitioning-independent by construction (the
    // sorted two-level fold fixes the summation order whatever the
    // layout), so this is pure execution shape.
    val rows = stack.count()
    val pinned = stack
      .repartition(pinPartitions(stack.sparkSession, rows), col("src"))
      .persist(edgePin)
    // Bounded driver scalar (one long) whose computation doubles as the
    // action that materializes the pin.
    val n = pinned.select(countDistinct(col("src"))).first().getLong(0)
    (pinned, n)
  }

  /** One PageRank iteration: contributions via ONE hash equi-join, then
    * the two-level sliced fold (see the object doc). Both aggregation
    * levels are keyed — no global or per-node unbounded buffer. */
  private[graft] def step(edgesDeg: DataFrame, ranks: DataFrame, n: Long,
      damping: Double): DataFrame = {
    val contribs = edgesDeg
      .join(ranks.withColumnRenamed("part", "src"), Seq("src"))
      .select(col("dst"), col("src"), (col("rank") / col("outdeg")).as("c"))
    foldContribs(contribs, n, damping)
  }

  /** The two-level sliced fold + damping finalize shared by the uniform
    * ([[step]]), weighted ([[stepWeighted]]), and personalized
    * ([[stepPersonalized]]) iterations: per-slice src-ordered folds inside
    * `src % FoldSlices` buckets, then a slice-ordered fold across buckets —
    * the exact reassociation the generated oracle SQL mirrors. `contribs`
    * must be (dst, src, c); `teleport(dst)` is the per-part restart term
    * ((1−d)/n uniform, (1−d)·[dst = seed] personalized). */
  private def foldContribs(contribs: DataFrame, n: Long,
      damping: Double): DataFrame =
    foldContribsWith(contribs, damping,
      lit(1.0 - damping) / lit(n.toDouble))

  private def foldContribsWith(contribs: DataFrame, damping: Double,
      teleport: Column): DataFrame = {
    val sliceSums = contribs
      .groupBy(col("dst"), pmod(col("src"), lit(FoldSlices.toLong)).as("__sl"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("src"), col("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("__ss"))
    sliceSums.groupBy(col("dst"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("__sl"), col("__ss")))),
        lit(0.0), (acc, x) => acc + x.getField("__ss")).as("__s"))
      .select(col("dst").as("part"),
        (teleport + lit(damping) * col("__s")).as("rank"))
  }

  private[graft] def initialRanks(edgesDeg: DataFrame, n: Long): DataFrame =
    edgesDeg.select(col("src").as("part")).distinct()
      .select(col("part"), lit(1.0 / n).as("rank"))

  /** Top-k parts by PageRank over the symmetrized co-purchase graph
    * (inline pair base; tests and arbitrary frames). */
  def coPurchasePageRank(lineitem: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame =
    pageRankFromPairs(pairBase(lineitem), iterations, damping, k)

  /** [[coPurchasePageRank]] over a pre-built pair base (src, dst[, …]) —
    * symmetrize+degree-annotate inline, then iterate. */
  def pageRankFromPairs(pairs: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame =
    pageRankFromStack(symmetrizedDeg(pairs), iterations, damping, k)

  /** [[pageRankFromPairs]] over a PRE-BUILT symmetrized degree stack
    * `(src, dst, outdeg)` — the artifact path ([[GraphEdges.degStack]]):
    * the persisted stack is loaded and pinned directly, skipping the
    * per-query union+degree+join rebuild (round-10 ask #2). Identical
    * results to the inline form (GraphSpec pins equality). */
  def pageRankFromStack(stack: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    val (edgesDeg, n) = pinStack(stack)
    try {
      var ranks = initialRanks(edgesDeg, n)
      var sinceCheckpoint = 0
      for (i <- 1 to iterations) {
        ranks = step(edgesDeg, ranks, n, damping)
        sinceCheckpoint += 1
        // Truncate lineage only at the cadence (and never after the final
        // iteration — the eager finalize below finishes the chain): bounded
        // plan depth without a forced materialization per round.
        if (sinceCheckpoint >= CheckpointEvery && i < iterations) {
          ranks = ranks.localCheckpoint(true)
          sinceCheckpoint = 0
        }
      }
      // Eagerly materialize the k-row answer so the edge pin can be
      // released HERE: returning a lazy plan over a persisted frame would
      // either leak the pin for the session (the round-8 defect — each
      // call stacked a permanent CacheManager entry) or force callers to
      // know about it. A ≤k-row localCheckpoint is driver-cheap.
      ranks
        .select(col("part"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("part"))
        .limit(k)
        .localCheckpoint(true)
    } finally edgesDeg.unpersist(false)
  }

  // -------------------------------------------------------------------
  // q160: support-weighted PageRank.
  // -------------------------------------------------------------------

  /** One WEIGHTED iteration: a node splits its rank across neighbors in
    * proportion to edge weight — `c = rank · w / wsum` instead of
    * `rank / outdeg` (both `w` and `wsum` exact integers, so the
    * contribution is one long-promoting multiply and one divide, mirrored
    * operator-for-operator in [[weightedPageRankSql]]). The fold is the
    * shared [[foldContribs]]. */
  private def stepWeighted(edgesW: DataFrame, ranks: DataFrame, n: Long,
      damping: Double): DataFrame = {
    val contribs = edgesW
      .join(ranks.withColumnRenamed("part", "src"), Seq("src"))
      .select(col("dst"), col("src"),
        (col("rank") * col("w") / col("wsum")).as("c"))
    foldContribs(contribs, n, damping)
  }

  /** q160: PageRank with co-purchase support as edge weight — rank flows
    * along STRONG affinities instead of splitting uniformly, so a part
    * with one heavily-co-sold partner routes its mass there rather than
    * diluting it across incidental pairings. The variant every production
    * link-analysis engine ships next to the uniform walk (the transition
    * matrix is row-normalized edge weight), and the co-purchase graph is
    * where it differs visibly: `n_orders` spans two orders of magnitude
    * while uniform PageRank treats a 50-order bundle like a one-off.
    *
    * Same iteration discipline as [[pageRankFromPairs]] — pinned
    * edge+weight stack released in the `finally`, checkpoint cadence,
    * eager ≤k-row finalize — and the same sliced-fold float contract, so
    * the oracle is the identical unroll with `w/wsum` in place of
    * `1/outdeg` ([[weightedPageRankSql]]). Weights ride the edge artifact
    * (`n_orders` is a column of [[GraphEdges.pairs]]), so the weighted
    * mode costs no extra base pass. */
  def weightedPageRankFromPairs(pairs: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame =
    weightedPageRankFromStack(symmetrizedW(pairs), iterations, damping, k)

  /** [[weightedPageRankFromPairs]] over a PRE-BUILT weighted stack
    * `(src, dst, w, wsum)` — the artifact path ([[GraphEdges.wStack]]). */
  def weightedPageRankFromStack(stack: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    val (edgesW, n) = pinStack(stack)
    try {
      var ranks = initialRanks(edgesW, n)
      var sinceCheckpoint = 0
      for (i <- 1 to iterations) {
        ranks = stepWeighted(edgesW, ranks, n, damping)
        sinceCheckpoint += 1
        if (sinceCheckpoint >= CheckpointEvery && i < iterations) {
          ranks = ranks.localCheckpoint(true)
          sinceCheckpoint = 0
        }
      }
      ranks
        .select(col("part"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("part"))
        .limit(k)
        .localCheckpoint(true)
    } finally edgesW.unpersist(false)
  }

  // -------------------------------------------------------------------
  // q161: personalized PageRank (random walk with restart).
  // -------------------------------------------------------------------

  /** One PERSONALIZED iteration: the restart mass (1−d) returns to the
    * SEED part alone instead of spreading uniformly — the random-walk-
    * with-restart kernel behind "parts related to THIS part"
    * recommendations. Contributions and the fold are [[step]]'s exactly;
    * only the teleport term differs, and (1−d) is COMPUTED (1 − d in IEEE,
    * matching the oracle's `CAST(1 AS DOUBLE) − d`), never a decimal
    * literal. */
  private def stepPersonalized(edgesDeg: DataFrame, ranks: DataFrame,
      seed: Long, damping: Double): DataFrame = {
    val contribs = edgesDeg
      .join(ranks.withColumnRenamed("part", "src"), Seq("src"))
      .select(col("dst"), col("src"), (col("rank") / col("outdeg")).as("c"))
    foldContribsWith(contribs, damping,
      when(col("dst") === lit(seed), lit(1.0) - lit(damping))
        .otherwise(lit(0.0)))
  }

  /** q161: personalized PageRank around the subgraph's SMALLEST part id —
    * a deterministic seed both engines compute from the data itself
    * (`MIN(src)` over the symmetrized edge list), so the oracle SQL stays
    * static at every scale and no fixture id is baked in. Walk mass
    * concentrates in the seed's co-purchase neighborhood; parts outside
    * its component decay to exactly d^iters·(1/n)-shaped residue of the
    * uniform start, so the top-k IS the seed's neighborhood ranked by
    * proximity. Same iteration discipline (pinned edge stack released in
    * `finally`, checkpoint cadence, eager ≤k finalize) and the same
    * sliced-fold float contract as every other mode. */
  def personalizedPageRankFromPairs(pairs: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame =
    personalizedPageRankFromStack(symmetrizedDeg(pairs), iterations, damping, k)

  /** [[personalizedPageRankFromPairs]] over a PRE-BUILT degree stack
    * ([[GraphEdges.degStack]]). */
  def personalizedPageRankFromStack(stack: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame = {
    require(iterations >= 1, s"need iterations >= 1, got $iterations")
    val (edgesDeg, n) = pinStack(stack)
    try {
      // Bounded driver scalar, like n: the seed is data-derived so the
      // generated oracle (which computes its own MIN) can never drift
      // from a hand-picked fixture id.
      val seed = edgesDeg.select(min(col("src"))).first().getLong(0)
      var ranks = initialRanks(edgesDeg, n)
      var sinceCheckpoint = 0
      for (i <- 1 to iterations) {
        ranks = stepPersonalized(edgesDeg, ranks, seed, damping)
        sinceCheckpoint += 1
        if (sinceCheckpoint >= CheckpointEvery && i < iterations) {
          ranks = ranks.localCheckpoint(true)
          sinceCheckpoint = 0
        }
      }
      ranks
        .select(col("part"), round(col("rank"), 9).as("rank"))
        .orderBy(col("rank").desc, col("part"))
        .limit(k)
        .localCheckpoint(true)
    } finally edgesDeg.unpersist(false)
  }

  /** [[personalizedPageRankFromPairs]] from raw lineitem. */
  def coPurchasePersonalizedPageRank(lineitem: DataFrame,
      iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK): DataFrame =
    personalizedPageRankFromPairs(pairBase(lineitem), iterations, damping, k)

  /** PageRank run to CONVERGENCE: iterate until `max |Δrank| < eps` or
    * `maxIterations`, whichever first — the shape a real centrality run
    * uses (fixed-iteration is the demo/oracle shape). Per iteration this
    * pays one eager checkpoint (the rank frame is read twice: once for
    * the delta, once by the next step), still constant plan depth.
    * Refuses to return unconverged ranks — partial centrality silently
    * misranks, exactly like unconverged components would. */
  def coPurchasePageRankConverged(lineitem: DataFrame,
      eps: Double = 1e-6,
      maxIterations: Int = 50,
      damping: Double = PageRankDamping): DataFrame =
    pageRankConvergedFromPairs(pairBase(lineitem), eps, maxIterations, damping)

  /** [[coPurchasePageRankConverged]] over a pre-built pair base. With
    * `epsRelativeToUniform` the threshold is `eps / n` — convergence
    * measured against the uniform rank `1/n` instead of in absolute rank
    * units. That makes the stopping ITERATION scale-invariant on the
    * replicated bench corpora (sfN's subgraph is N/0.1 disjoint copies of
    * sf0.1's, so every rank and every delta is exactly 1/copies of the
    * small graph's — an absolute eps stops earlier at larger scale, a
    * uniform-relative one stops at the same round), which is what lets
    * q155 oracle the converged mode against a fixed-iteration SQL unroll
    * pinned at [[ConvergedSubgraphIters]]. */
  def pageRankConvergedFromPairs(pairs: DataFrame,
      eps: Double = 1e-6,
      maxIterations: Int = 50,
      damping: Double = PageRankDamping,
      epsRelativeToUniform: Boolean = false): DataFrame =
    convergedWithIters(pairs, eps, maxIterations, damping, epsRelativeToUniform)._1

  /** [[pageRankConvergedFromPairs]] over a PRE-BUILT degree stack
    * ([[GraphEdges.degStack]]) — the bench extra's artifact path. */
  def pageRankConvergedFromStack(stack: DataFrame,
      eps: Double = 1e-6,
      maxIterations: Int = 50,
      damping: Double = PageRankDamping,
      epsRelativeToUniform: Boolean = false): DataFrame =
    convergedWithItersFromStack(stack, eps, maxIterations, damping,
      epsRelativeToUniform)._1

  /** Core of the converged mode, exposing the iteration count so specs can
    * pin [[ConvergedSubgraphIters]] to the measured stopping round. */
  private[graft] def convergedWithIters(pairs: DataFrame,
      eps: Double,
      maxIterations: Int,
      damping: Double,
      epsRelativeToUniform: Boolean = false): (DataFrame, Int) =
    convergedWithItersFromStack(symmetrizedDeg(pairs), eps, maxIterations,
      damping, epsRelativeToUniform)

  private[graft] def convergedWithItersFromStack(stack: DataFrame,
      eps: Double,
      maxIterations: Int,
      damping: Double,
      epsRelativeToUniform: Boolean = false): (DataFrame, Int) = {
    require(eps > 0, s"need eps > 0, got $eps")
    val (edgesDeg, n) = pinStack(stack)
    val effEps = if (epsRelativeToUniform) eps / n.toDouble else eps
    var delta = Double.MaxValue
    var iter = 0
    // Convergence detection is IN-ROUND here (each round's own delta is
    // what's tested), so unlike connectedComponents there is no extra
    // detection round to budget for: a run whose delta first drops below
    // eps at round maxIterations passes. The edge pin is released in the
    // finally — every iteration's checkpoint is eager, so by loop exit the
    // rank frame no longer reads through it. EVERY post-pin action runs
    // inside the try (including the initial-ranks checkpoint — round-9
    // advice: a failure there must not leak the pin for the session).
    var ranks: DataFrame = null
    try {
      ranks = initialRanks(edgesDeg, n).localCheckpoint(true)
      while (delta >= effEps && iter < maxIterations) {
        val next = step(edgesDeg, ranks, n, damping).localCheckpoint(true)
        // All nodes persist across iterations (symmetry ⇒ every node has an
        // incoming edge), so the inner join is total.
        delta = next
          .join(ranks.withColumnRenamed("rank", "__prev"), Seq("part"))
          .select(max(abs(col("rank") - col("__prev"))).as("d"))
          .first().getDouble(0)
        ranks = next
        iter += 1
      }
    } finally edgesDeg.unpersist(false)
    require(delta < effEps,
      s"pagerank: not converged after $maxIterations rounds (max delta $delta >= $effEps) " +
        "— raise maxIterations; unconverged ranks would silently misrank.")
    (ranks.orderBy(col("rank").desc, col("part")), iter)
  }

  /** Connected components by iterative hash-to-min propagation with
    * pointer jumping — the first-class face of the component pass inside
    * [[graft.dedup.Dedup.clusterPairs]], for arbitrary (src, dst) edge
    * frames. Returns (node, component) for every node incident to an
    * edge; component = the smallest node id in the component.
    *
    * Scale shape: the symmetrized edge list is pinned once; each round is
    * one equi-join + keyed min (adopt the smallest neighbor label) and one
    * label-keyed self-join (pointer jumping — each label is replaced by
    * its label's label, cutting round count from O(diameter) to
    * O(log diameter)); every generation is localCheckpoint'ed so plan
    * depth is constant ([[coPurchasePageRank]]'s discipline). REFUSES to
    * return unconverged labels — a partial propagation is wrong clusters,
    * not an approximation. */
  def connectedComponents(edgesIn: DataFrame, maxIter: Int = 50): DataFrame = {
    val cols = edgesIn.columns
    require(cols.length == 2, s"connectedComponents wants (src, dst), got ${cols.mkString(",")}")
    val directed = edgesIn.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    // The propagation join reads the edge pin by `dst` every round: pin it
    // hash-partitioned on dst (the pinStack discipline applied to
    // components — without this the cached distinct() layout is
    // (src, dst)-hash, which satisfies no join, so every one of the
    // O(log diameter) rounds re-exchanged the full edge relation), with
    // the partition count derived from the edge rows (guide §2; labels are
    // min-folds — integer-exact and partitioning-independent).
    val directedRows = directed.count()
    val edges = directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(pinPartitions(edgesIn.sparkSession, 2L * directedRows), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("component"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    // `maxIter` bounds PROPAGATION rounds; convergence is only observable
    // one round later (a full no-change round), so the loop allows exactly
    // one detection round beyond the cap — a graph whose labels settle at
    // round maxIter must not throw away correct labels (the extra round
    // costs nothing on already-converged labels: nothing changes, the
    // loop exits).
    try {
      while (!converged && iter < maxIter + 1) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("node", "dst")
            .withColumnRenamed("component", "__nbr"), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(min(col("__nbr")).as("__nbr_min"))
        val propagated = labels
          .join(neighborMin, Seq("node"))
          .select(col("node"),
            least(col("component"), col("__nbr_min")).as("component"),
            col("component").as("__old"))
        // Pointer jumping: labels are node ids, so the label-as-node join
        // always resolves; labels are monotone non-increasing.
        val parents = propagated.select(
          col("node").as("__p_id"), col("component").as("__p_label"))
        val next = propagated
          .join(parents, col("component") === col("__p_id"), "left")
          .select(col("node"),
            coalesce(col("__p_label"), col("component")).as("component"),
            (coalesce(col("__p_label"), col("component")) < col("__old")).as("__changed"))
          .localCheckpoint()
        converged = next.filter(col("__changed")).limit(1).count() == 0
        labels = next.drop("__changed")
        iter += 1
      }
    } finally edges.unpersist()
    require(converged,
      s"connectedComponents: not converged after $maxIter propagation rounds " +
        "(+1 detection round) — raise maxIter (partial labels would be WRONG " +
        "components). The loop exits on the first no-change round, so a " +
        "generous cap costs nothing.")
    labels
  }

  /** Support threshold and convergence cap for q150 — like the PageRank
    * constants, [[coPurchaseComponentsSql]] is generated from these. */
  val ComponentsMinSupport = 2
  val ComponentsMaxIter = 50

  /** q150: connected components of the SUPPORT-THRESHOLDED co-purchase
    * graph — parts are linked when they co-occur in at least `minSupport`
    * distinct orders (the thresholding that turns the near-complete raw
    * co-purchase graph into the sparse affinity graph a basket analysis
    * actually clusters). Every part appearing in lineitem gets a row;
    * parts with no qualifying edge are their own singleton component. */
  def coPurchaseComponents(lineitem: DataFrame,
      minSupport: Int = ComponentsMinSupport,
      maxIter: Int = ComponentsMaxIter): DataFrame = {
    require(minSupport >= 1, s"need minSupport >= 1, got $minSupport")
    componentsFromPairs(
      pairBase(lineitem).filter(col("n_orders") >= minSupport),
      nodeBase(lineitem), maxIter)
  }

  /** [[coPurchaseComponents]] over a pre-thresholded pair base plus the
    * node universe (isolated parts become singleton components). */
  def componentsFromPairs(pairs: DataFrame, nodes: DataFrame,
      maxIter: Int = ComponentsMaxIter): DataFrame = {
    val labels = connectedComponents(
        pairs.select(col("src"), col("dst")), maxIter)
      .withColumnRenamed("node", "part")
    nodes.select(col("part")).distinct()
      .join(labels, Seq("part"), "left")
      .select(col("part"),
        coalesce(col("component"), col("part")).as("component"))
      .withColumn("is_representative", col("component") === col("part"))
      .orderBy("part")
  }

  /** q153: per-node triangle participation over the support-thresholded
    * co-purchase graph. Edges are oriented LOW-DEGREE -> HIGH-DEGREE
    * (ties by id) before the wedge join — degree-ordered triangle
    * enumeration: every triangle is produced exactly once and the wedge
    * intermediate is O(m^1.5) regardless of hub skew, where an
    * id-oriented wedge join degrades to O(max_deg^2) on a power-law hub.
    * Integer-exact; [[trianglesSql]] mirrors the identical orientation
    * in DuckDB. */
  def coPurchaseTriangles(lineitem: DataFrame, k: Int = PageRankTopK,
      minSupport: Int = ComponentsMinSupport): DataFrame =
    trianglesFromPairs(
      pairBase(lineitem).filter(col("n_orders") >= minSupport), k)

  /** [[coPurchaseTriangles]] over a pre-thresholded pair base. The pair
    * list is localCheckpoint'ed FIRST (round-9 advice: it feeds the und
    * union and both degree lookups, so an unpinned plan recomputes the
    * upstream base once per leg — matching [[linkPredictionFromPairs]]
    * and the MATERIALIZED CTEs in [[trianglesSql]]); the oriented edge
    * list is then checkpointed once more and consumed by all three wedge
    * legs (blocks reclaimed by the ContextCleaner when the frames drop
    * out of scope). */
  def trianglesFromPairs(pairs: DataFrame, k: Int = PageRankTopK): DataFrame = {
    val (_, counts) = degreesAndTriangleCounts(pairs)
    counts
      .orderBy(col("triangles").desc, col("part"))
      .limit(k)
  }

  /** The degree-ordered wedge core shared by q153 and q156: per-node
    * degrees over the symmetrized pair base, and per-node triangle
    * participation counts (nodes in no triangle absent — consumers
    * left-join/coalesce). See [[trianglesFromPairs]] for the checkpoint
    * discipline. */
  private def degreesAndTriangleCounts(pairs: DataFrame): (DataFrame, DataFrame) = {
    val p = pairs.select(col("src"), col("dst")).localCheckpoint(true)
    val und = p.select(col("src").as("u"), col("dst").as("v"))
      .union(p.select(col("dst").as("u"), col("src").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val e = und
      .join(deg.select(col("u").as("__au"), col("d").as("__da")),
        col("u") === col("__au"))
      .join(deg.select(col("u").as("__bu"), col("d").as("__db")),
        col("v") === col("__bu"))
      .filter(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("u") < col("v")))
      .select(col("u").as("s"), col("v").as("t"))
      .localCheckpoint(true)
    val tri = e.as("a")
      .join(e.as("b"), col("a.t") === col("b.s"))
      .join(e.as("c"), col("c.s") === col("a.s") && col("c.t") === col("b.t"))
      .select(col("a.s").as("x"), col("a.t").as("y"), col("b.t").as("z"))
    val counts = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("triangles"))
    (deg, counts)
  }

  /** q156: local clustering coefficient over the support-thresholded
    * co-purchase graph — per node, the fraction of its neighbor pairs that
    * are themselves adjacent: `2·T(v) / (d(v)·(d(v)−1))` with T(v) the
    * node's triangle count and d(v) its degree. The third local-structure
    * axis after raw triangle participation (q153): a hub in many triangles
    * can still be loosely knit, and the coefficient is what distinguishes
    * "sold with everything" parts from genuine bundles.
    *
    * Reuses [[trianglesFromPairs]]' degree-ordered wedge enumeration
    * verbatim (same O(m^1.5) bound, same checkpoint discipline) — only the
    * finalize differs: full per-node counts joined to degrees instead of a
    * top-k cut on counts. Nodes with d < 2 have no neighbor pair and are
    * excluded (the oracle does the same). The ratio of two exact integers
    * is evaluated in IEEE double and rounded to 6 digits on both engines;
    * ties cut by part id, so the k-row answer is unique. */
  def coPurchaseClusteringCoefficient(lineitem: DataFrame,
      k: Int = PageRankTopK,
      minSupport: Int = ComponentsMinSupport): DataFrame =
    clusteringCoefficientFromPairs(
      pairBase(lineitem).filter(col("n_orders") >= minSupport), k)

  /** [[coPurchaseClusteringCoefficient]] over a pre-thresholded pair base. */
  def clusteringCoefficientFromPairs(pairs: DataFrame,
      k: Int = PageRankTopK): DataFrame = {
    val (deg, counts) = degreesAndTriangleCounts(pairs)
    deg.filter(col("d") >= 2)
      .select(col("u").as("part"), col("d"))
      .join(counts, Seq("part"), "left")
      .select(col("part"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        // Numerator 2·T stays an exact integer and is cast to double for
        // ONE division — mirrored literally in the oracle (a bare `2.0`
        // there would be a DuckDB DECIMAL and change the arithmetic).
        round((coalesce(col("triangles"), lit(0L)) * 2).cast("double") /
          (col("d") * (col("d") - 1)), 6).as("coefficient"))
      .orderBy(col("coefficient").desc, col("part"))
      .limit(k)
  }

  /** q156 oracle: the identical degree-ordered enumeration + coefficient
    * in DuckDB ([[trianglesSql]]'s CTE tree with the coefficient
    * finalize). */
  def clusteringCoefficientSql(k: Int = PageRankTopK,
      minSupport: Int = ComponentsMinSupport): String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
       |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
       |    AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |und AS (SELECT src AS u, dst AS v FROM p UNION ALL SELECT dst, src FROM p),
       |dg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
       |e AS MATERIALIZED (
       |  SELECT un.u AS s, un.v AS t FROM und un
       |  JOIN dg da ON un.u = da.u JOIN dg db ON un.v = db.u
       |  WHERE da.d < db.d OR (da.d = db.d AND un.u < un.v)),
       |tri AS (SELECT a.s AS x, a.t AS y, b.t AS z
       |  FROM e a JOIN e b ON a.t = b.s
       |  JOIN e c ON c.s = a.s AND c.t = b.t),
       |pn AS (SELECT x AS part FROM tri UNION ALL SELECT y FROM tri
       |       UNION ALL SELECT z FROM tri),
       |tc AS (SELECT part, COUNT(*) AS triangles FROM pn GROUP BY part)
       |SELECT dg.u AS part, dg.d AS degree,
       |  coalesce(tc.triangles, 0) AS triangles,
       |  round(CAST(2 * coalesce(tc.triangles, 0) AS DOUBLE)
       |      / (dg.d * (dg.d - 1)), 6) AS coefficient
       |FROM dg LEFT JOIN tc ON dg.u = tc.part
       |WHERE dg.d >= 2
       |ORDER BY coefficient DESC, part LIMIT $k""".stripMargin

  /** The core order of q157: the 2-core (strip pendant trees until every
    * surviving node keeps >= 2 in-core neighbors). Max degree of the
    * support-thresholded graph is single-digit at every fixture scale, so
    * higher cores are near-empty; the 2-core is the cyclic skeleton — the
    * structure PageRank mass and triangles actually live on. */
  val KCoreK = 2

  /** The FIXED peel-stage count of q157's oracle unroll — the q155
    * padding trick on an INTEGER fixpoint: the peel sequence is monotone
    * shrinking and idempotent at its fixpoint, so a fixed-N stage unroll
    * is exact for ANY corpus whose peel settles within N stages, and the
    * engine refuses loudly otherwise. Measured stopping stages: 1 at
    * sf0.001, 3 at sf0.01, 5 at sf0.1 — and the replicated scale corpora
    * peel in exactly sf0.1's 5 stages (disjoint key-offset copies peel
    * independently). 12 is >2x headroom. */
  val KCoreMaxRounds = 12

  /** q157: k-core decomposition of the support-thresholded co-purchase
    * graph by iterative degree peel — drop every node whose degree in the
    * CURRENT induced subgraph is below `k`, recompute, repeat to fixpoint.
    * Returns the surviving nodes with their in-core degree (>= k by
    * construction), ordered by part id. Integer-exact end to end.
    *
    * Scale shape: each peel round is one node-semi-join on both edge
    * endpoints plus a keyed count — hash equi-joins on a node list that
    * only SHRINKS, against an edge list pinned once (the expensive basket
    * self-join lives in the [[GraphEdges]] artifact, not here). Rounds to
    * fixpoint are bounded by the peel depth of the graph, not its size:
    * the replicated scale corpora peel in sf0.1's stage count because the
    * copies are disjoint. Convergence is detected by node COUNT equality,
    * which equals set equality because the peel sequence is monotone
    * shrinking. A corpus that does not settle within `maxRounds` fails
    * loudly ([[KCoreMaxRounds]]) rather than shipping a non-core. */
  def kCoreFromPairs(pairs: DataFrame, k: Int = KCoreK,
      maxRounds: Int = KCoreMaxRounds): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    require(maxRounds >= 1, s"kCore needs maxRounds >= 1, got $maxRounds")
    val p = pairs.select(col("src"), col("dst"))
    val und = p.select(col("src").as("u"), col("dst").as("v"))
      .union(p.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint(true)
    // Degree of every node within the subgraph induced by `nodes`: edges
    // kept iff BOTH endpoints survive (two semi-join legs on the pinned
    // edge list), then a keyed count.
    def inducedDeg(nodes: DataFrame): DataFrame =
      und.join(nodes.select(col("part").as("u")), Seq("u"), "left_semi")
        .join(nodes.select(col("part").as("v")), Seq("v"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
    var cur = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("u").as("part"))
      .localCheckpoint(true)
    var prev = cur.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val next = inducedDeg(cur).filter(col("d") >= k)
        .select(col("u").as("part")).localCheckpoint(true)
      val n = next.count()
      stable = n == prev
      prev = n
      cur = next
      rounds += 1
    }
    require(stable,
      s"kCore: peel not at fixpoint within the $maxRounds-round oracle pin " +
        "- raise KCoreMaxRounds and regenerate the oracle; a non-fixpoint " +
        "node set is not a core.")
    inducedDeg(cur)
      .select(col("u").as("part"), col("d").as("core_degree"))
      .orderBy(col("part"))
  }

  /** q157 oracle: the identical peel unrolled to exactly `rounds` stages
    * (idempotent past the fixpoint — see [[KCoreMaxRounds]]); the final
    * select recomputes each survivor's in-core degree. */
  def kCoreSql(k: Int = KCoreK, rounds: Int = KCoreMaxRounds,
      minSupport: Int = ComponentsMinSupport): String = {
    val head =
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |p AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
         |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
         |    AND a.l_partkey < b2.l_partkey
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
         |und AS MATERIALIZED (
         |  SELECT src AS u, dst AS v FROM p UNION ALL SELECT dst, src FROM p),
         |n0 AS MATERIALIZED (
         |  SELECT u FROM und GROUP BY u HAVING COUNT(*) >= $k)""".stripMargin
    val stages = (1 to rounds).map { i =>
      s""",
         |n$i AS MATERIALIZED (
         |  SELECT e.u FROM und e JOIN n${i - 1} a ON e.u = a.u
         |  JOIN n${i - 1} b2 ON e.v = b2.u
         |  GROUP BY e.u HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString
    head + stages +
      s"""
         |SELECT e.u AS part, COUNT(*) AS core_degree
         |FROM und e JOIN n$rounds a ON e.u = a.u JOIN n$rounds b2 ON e.v = b2.u
         |GROUP BY e.u ORDER BY part""".stripMargin
  }

  /** q154: common-neighbor link prediction (Jaccard over neighbor sets)
    * on the thresholded co-purchase graph: for every NON-adjacent pair
    * with at least one shared neighbor, score |N(a)∩N(b)| / |N(a)∪N(b)|,
    * top-k with ties cut by (a, b) id order so the k-row answer is
    * unique. Wedge enumeration is inherently Σdeg²-shaped; the support
    * threshold is what keeps that sum bounded (the RAW co-purchase graph
    * would square a hub's fan-out — 240M edges at sf10 — which is why
    * the operator refuses to run unthresholded). Scores are integer
    * ratios evaluated in IEEE double and rounded to 6 digits on both
    * engines, so the comparison is exact. */
  def coPurchaseLinkPrediction(lineitem: DataFrame, k: Int = PageRankTopK,
      minSupport: Int = ComponentsMinSupport): DataFrame = {
    require(minSupport >= 2,
      s"linkPrediction needs the support threshold (got $minSupport): the " +
        "raw co-purchase graph's wedge join squares hub fan-outs")
    linkPredictionFromPairs(
      pairBase(lineitem).filter(col("n_orders") >= minSupport), k)
  }

  /** [[coPurchaseLinkPrediction]] over a pre-thresholded pair base. */
  def linkPredictionFromPairs(pairs: DataFrame, k: Int = PageRankTopK): DataFrame = {
    val p = pairs.select(col("src"), col("dst")).localCheckpoint(true)
    val und = p.select(col("src").as("u"), col("dst").as("v"))
      .union(p.select(col("dst").as("u"), col("src").as("v")))
    val w = und.as("x")
      .join(und.as("y"), col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(count(lit(1)).as("common"))
    val cand = w.join(p,
      w("a") === p("src") && w("b") === p("dst"), "left_anti")
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    cand
      .join(deg.select(col("u").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("__db")), Seq("b"))
      .select(col("a"), col("b"),
        round(col("common").cast("double") /
          (col("__da") + col("__db") - col("common")), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  // -------------------------------------------------------------------
  // q155: the converged mode, oracled on the subgraph.
  // -------------------------------------------------------------------

  /** Uniform-relative convergence threshold for q155: converged once no
    * rank moves by more than this fraction of the uniform rank 1/n across
    * a [[CheckpointEvery]]-round window (windowed deltas are checked at
    * the cadence the rank lineage is truncated anyway, so convergence
    * monitoring costs one extra join+agg action per WINDOW, not per
    * round — the standard check-every-k discipline). */
  val ConvergedEpsUniform = 1e-3

  /** The FIXED total round count of q155 — the oracle is [[pageRankSql]]
    * unrolled to exactly this many stages (the oracle SQL must be static
    * per query). The engine run CONVERGES first (windowed uniform-relative
    * delta below [[ConvergedEpsUniform]]: measured stopping rounds 20 at
    * sf0.001, 28 at sf0.01, 40 at sf0.1 AND at its replicated scale
    * copies — ranks and deltas scale exactly 1/copies there, so the
    * stopping round is scale-stable) and then PADS with plain iterations
    * to this pinned round. The padding is what squares the circle: a
    * convergence-driven stop is corpus-dependent, but post-stop steps are
    * pure extra contraction (damping 0.85 shrinks the L1 error ≥ 0.85×
    * per round — two full windows of slack here), and the padded result
    * is bit-identical to a fixed-K run (same step arithmetic, same fold
    * order) — so ONE static oracle is exact on ANY corpus that converges
    * within the pin. A corpus that does not fails loudly
    * ([[convergedPaddedRanks]]'s require) rather than shipping misranks. */
  val ConvergedSubgraphIters = 48

  /** Converge (windowed check at the checkpoint cadence), then pad to
    * exactly `padToIters` rounds — see [[ConvergedSubgraphIters]]. Returns
    * the padded rank frame plus the round at which convergence was first
    * OBSERVED (a multiple of [[CheckpointEvery]]). */
  private[graft] def convergedPaddedRanks(pairs: DataFrame, eps: Double,
      padToIters: Int, damping: Double): (DataFrame, Int) =
    convergedPaddedRanksFromStack(symmetrizedDeg(pairs), eps, padToIters, damping)

  private[graft] def convergedPaddedRanksFromStack(stack: DataFrame, eps: Double,
      padToIters: Int, damping: Double): (DataFrame, Int) = {
    require(eps > 0, s"need eps > 0, got $eps")
    val (edgesDeg, n) = pinStack(stack)
    val effEps = eps / n.toDouble
    try {
      var ranks = initialRanks(edgesDeg, n).localCheckpoint(true)
      var prev = ranks
      var stoppedAt = -1
      var iter = 0
      while (iter < padToIters) {
        ranks = step(edgesDeg, ranks, n, damping)
        iter += 1
        // Lineage truncation at the cadence keeps plan depth bounded during
        // padding too; the delta action only runs while still unconverged.
        if (iter % CheckpointEvery == 0 || iter == padToIters) {
          ranks = ranks.localCheckpoint(true)
          if (stoppedAt < 0) {
            val delta = ranks
              .join(prev.withColumnRenamed("rank", "__prev"), Seq("part"))
              .select(max(abs(col("rank") - col("__prev"))).as("d"))
              .first().getDouble(0)
            if (delta < effEps) stoppedAt = iter
            prev = ranks
          }
        }
      }
      require(stoppedAt >= 0,
        s"pagerank: not converged within the $padToIters-round oracle pin " +
          s"(uniform-relative eps $eps) — raise ConvergedSubgraphIters and " +
          "regenerate the oracle; unconverged ranks would silently misrank.")
      (ranks, stoppedAt)
    } finally edgesDeg.unpersist(false)
  }

  /** q155: PageRank run to CONVERGENCE on the [[SubgraphModulus]]-restricted
    * co-purchase graph, presented like q149 (round to 6, top-k by rank then
    * part id). The one X10 mode with no oracle row through round 9 —
    * bench-only, spec-backed — now full-oracle via converge-then-pad
    * ([[ConvergedSubgraphIters]]). */
  def convergedSubgraphTopK(pairs: DataFrame,
      k: Int = PageRankTopK): DataFrame =
    convergedSubgraphTopKFromStack(symmetrizedDeg(pairs), k)

  /** [[convergedSubgraphTopK]] over a PRE-BUILT degree stack
    * ([[GraphEdges.degStack]] with `subgraph = true`). */
  def convergedSubgraphTopKFromStack(stack: DataFrame,
      k: Int = PageRankTopK): DataFrame = {
    // The rank frame convergedPaddedRanks returns is already checkpointed
    // (every window boundary is) and the edge pin already released — the
    // presentation below is a lazy plan over materialized blocks.
    val (ranks, _) = convergedPaddedRanksFromStack(stack, ConvergedEpsUniform,
      ConvergedSubgraphIters, PageRankDamping)
    ranks
      .select(col("part"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(k)
  }

  /** Deterministic part-id restriction for the SUBGRAPH-oracle variants
    * (q151/q152/q155): `l_partkey % SubgraphModulus == 0`. The scale
    * corpora offset part keys by multiples of 10M per copy (10M % 50 == 0),
    * so the predicate classifies every copy identically and the restricted
    * graph at sfN is N/0.1 disjoint copies of the sf0.1 subgraph — small
    * enough (~45k edges at sf10) that the full recursive-closure /
    * unrolled-fold oracle SQL runs in DuckDB at EVERY scale, closing the
    * sf10 unchecked-oracle gap the full graph's oracle hits (it exhausts
    * the oracle box's RAM above sf3 — an oracle-infrastructure limit, not
    * an engine one). The engine side runs the IDENTICAL operators on the
    * filtered lineitem, so the subgraph queries exercise the same code
    * path q149/q150 bench on the full graph. */
  val SubgraphModulus = 50

  /** SQL predicate string mirrored on both engine and oracle sides of the
    * subgraph variants; empty string = unrestricted. */
  def subgraphWhere: String = s"WHERE l_partkey % $SubgraphModulus = 0"

  /** The q150 DuckDB oracle: the same thresholded edge set, components via
    * a recursive-CTE transitive closure (q69's oracle pattern), LEFT JOIN
    * back onto all parts. MATERIALIZED CTEs keep DuckDB from re-evaluating
    * the basket self-join per closure step. `where` (a raw SQL predicate,
    * e.g. [[subgraphWhere]]) restricts BOTH lineitem references — the edge
    * base AND the all-parts node set — for the q152 subgraph variant. */
  def coPurchaseComponentsSql(minSupport: Int = ComponentsMinSupport,
      where: String = ""): String =
    s"""WITH RECURSIVE b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem $where),
       |p AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
       |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
       |    AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |undirected AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM p UNION SELECT dst, src FROM p),
       |closure(u, v) AS (
       |  SELECT u, v FROM undirected
       |  UNION
       |  SELECT c.u, d.v FROM closure c JOIN undirected d ON c.v = d.u),
       |comp AS (SELECT u AS part, LEAST(u, MIN(v)) AS component
       |         FROM closure GROUP BY u),
       |nodes AS (SELECT DISTINCT l_partkey AS part FROM lineitem $where)
       |SELECT n.part, coalesce(comp.component, n.part) AS component,
       |  coalesce(comp.component, n.part) = n.part AS is_representative
       |FROM nodes n LEFT JOIN comp USING (part)
       |ORDER BY n.part""".stripMargin

  /** q153 oracle: the identical degree-ordered enumeration in DuckDB. */
  def trianglesSql(k: Int = PageRankTopK,
      minSupport: Int = ComponentsMinSupport): String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
       |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
       |    AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |und AS (SELECT src AS u, dst AS v FROM p UNION ALL SELECT dst, src FROM p),
       |dg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
       |e AS MATERIALIZED (
       |  SELECT un.u AS s, un.v AS t FROM und un
       |  JOIN dg da ON un.u = da.u JOIN dg db ON un.v = db.u
       |  WHERE da.d < db.d OR (da.d = db.d AND un.u < un.v)),
       |tri AS (SELECT a.s AS x, a.t AS y, b.t AS z
       |  FROM e a JOIN e b ON a.t = b.s
       |  JOIN e c ON c.s = a.s AND c.t = b.t),
       |pn AS (SELECT x AS part FROM tri UNION ALL SELECT y FROM tri
       |       UNION ALL SELECT z FROM tri)
       |SELECT part, COUNT(*) AS triangles FROM pn GROUP BY part
       |ORDER BY triangles DESC, part LIMIT $k""".stripMargin

  /** q154 oracle: the identical wedge count + Jaccard in DuckDB. */
  def linkPredictionSql(k: Int = PageRankTopK,
      minSupport: Int = ComponentsMinSupport): String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
       |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
       |    AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |und AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM p UNION ALL SELECT dst, src FROM p),
       |dg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
       |w AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS common
       |      FROM und x JOIN und y ON x.u = y.u AND x.v < y.v
       |      GROUP BY 1, 2),
       |cand AS (SELECT w.a, w.b, w.common FROM w
       |         LEFT JOIN p ON w.a = p.src AND w.b = p.dst
       |         WHERE p.src IS NULL)
       |SELECT cand.a, cand.b,
       |  round(CAST(common AS DOUBLE) / (da.d + db.d - common), 6) AS jaccard
       |FROM cand JOIN dg da ON cand.a = da.u JOIN dg db ON cand.b = db.u
       |ORDER BY jaccard DESC, cand.a, cand.b LIMIT $k""".stripMargin

  /** The q149 DuckDB oracle, unrolled to [[PageRankIterations]] stages
    * from the SAME constants the engine runs with. Every float step
    * mirrors the engine: CAST-to-DOUBLE literals (DuckDB decimals would
    * otherwise change the arithmetic), the two-level sliced fold
    * (per-slice `list_reduce(list(c ORDER BY src))` inside
    * `src % FoldSlices` buckets, then `list_reduce(list(ss ORDER BY sl))`
    * across buckets — the IDENTICAL reassociation the engine performs),
    * and the cut on the rounded rank. The multiply-referenced CTEs are
    * MATERIALIZED: the naive inlined form re-evaluates the basket
    * self-join once per closure/iteration reference, which overflowed
    * DuckDB's spill disk above sf1 (the round-7 unchecked-oracle gap).
    * q155's oracle is this same unroll at [[ConvergedSubgraphIters]]
    * stages — the engine's converged ranks after its K stopping rounds
    * are bit-identical to a fixed-K run's. */
  def pageRankSql(iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK,
      where: String = ""): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val head =
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem $where),
         |p AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
         |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
         |    AND a.l_partkey < b2.l_partkey
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (
         |  SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |dg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM dg),
         |r0 AS (SELECT dg.src AS part, CAST(1 AS DOUBLE) / nn.n AS rank
         |       FROM dg CROSS JOIN nn)""".stripMargin
    // Every per-iteration CTE is MATERIALIZED: each is referenced once, but
    // DuckDB INLINES single-reference CTEs, and at q155's 48-stage unroll
    // the optimizer then faces one 144-CTE-deep expression tree — measured
    // >300 s of planning at sf0.01, vs 1.5 s with per-stage pipeline
    // breakers. (Results are identical; MATERIALIZED is evaluation
    // strategy only. The 3-stage q149/q151 forms work either way.)
    val iters = (1 to iterations).map { i =>
      s""",
         |c$i AS MATERIALIZED (
         |  SELECT e.dst, e.src, e.src % $FoldSlices AS sl,
         |    r.rank / dg.outdeg AS c
         |  FROM e JOIN r${i - 1} r ON e.src = r.part JOIN dg ON e.src = dg.src),
         |s$i AS MATERIALIZED (
         |  SELECT dst, sl, list_reduce(list(c ORDER BY src), (a, b) -> a + b) AS ss
         |  FROM c$i GROUP BY dst, sl),
         |r$i AS MATERIALIZED (
         |  SELECT s$i.dst AS part,
         |    (CAST(1 AS DOUBLE) - $d) / nn.n
         |      + $d * list_reduce(list(ss ORDER BY sl), (a, b) -> a + b) AS rank
         |  FROM s$i CROSS JOIN nn GROUP BY s$i.dst, nn.n)""".stripMargin
    }.mkString
    head + iters +
      s"""
         |SELECT part, round(rank, 6) AS rank FROM r$iterations
         |ORDER BY rank DESC, part LIMIT $k""".stripMargin
  }

  /** The q161 DuckDB oracle: [[pageRankSql]]'s unroll with the restart
    * mass returned to the data-derived seed (`MIN(src)` over the
    * symmetrized edge list — the same scalar the engine computes) instead
    * of spread uniformly. The teleport is `CAST(1 AS DOUBLE) − d` AT the
    * seed and `CAST(0 AS DOUBLE)` elsewhere — the engine constant-folds
    * the identical 1−d — and the final rank rounds to 9 digits (the
    * off-neighborhood residue is d^iters/n-sized; 6 digits would flatten
    * it to ties, which both engines would still order identically, but 9
    * keeps the output informative). */
  def personalizedPageRankSql(iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK,
      where: String = ""): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val head =
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem $where),
         |p AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
         |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
         |    AND a.l_partkey < b2.l_partkey
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (
         |  SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
         |dg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM dg),
         |sd AS (SELECT MIN(src) AS seed FROM e),
         |r0 AS (SELECT dg.src AS part, CAST(1 AS DOUBLE) / nn.n AS rank
         |       FROM dg CROSS JOIN nn)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
         |c$i AS MATERIALIZED (
         |  SELECT e.dst, e.src, e.src % $FoldSlices AS sl,
         |    r.rank / dg.outdeg AS c
         |  FROM e JOIN r${i - 1} r ON e.src = r.part JOIN dg ON e.src = dg.src),
         |s$i AS MATERIALIZED (
         |  SELECT dst, sl, list_reduce(list(c ORDER BY src), (a, b) -> a + b) AS ss
         |  FROM c$i GROUP BY dst, sl),
         |r$i AS MATERIALIZED (
         |  SELECT s$i.dst AS part,
         |    (CASE WHEN s$i.dst = sd.seed THEN CAST(1 AS DOUBLE) - $d
         |          ELSE CAST(0 AS DOUBLE) END)
         |      + $d * list_reduce(list(ss ORDER BY sl), (a, b) -> a + b) AS rank
         |  FROM s$i CROSS JOIN sd GROUP BY s$i.dst, sd.seed)""".stripMargin
    }.mkString
    head + iters +
      s"""
         |SELECT part, round(rank, 9) AS rank FROM r$iterations
         |ORDER BY rank DESC, part LIMIT $k""".stripMargin
  }

  /** The q160 DuckDB oracle: [[pageRankSql]]'s unroll with support-weighted
    * contributions — `p` keeps the pair's order count as `w`, `ws` is the
    * weighted out-degree, and each contribution is `r.rank * e.w / ws.wsum`
    * (DOUBLE·BIGINT then ÷BIGINT — the same promotions Spark performs).
    * Slicing, fold order, damping finalize, and the rounded cut are
    * byte-for-byte [[pageRankSql]]'s. */
  def weightedPageRankSql(iterations: Int = PageRankIterations,
      damping: Double = PageRankDamping,
      k: Int = PageRankTopK,
      where: String = ""): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val head =
      s"""WITH b AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem $where),
         |p AS MATERIALIZED (
         |  SELECT a.l_partkey AS src, b2.l_partkey AS dst, COUNT(*) AS w
         |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
         |    AND a.l_partkey < b2.l_partkey
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (
         |  SELECT src, dst, w FROM p UNION ALL SELECT dst, src, w FROM p),
         |ws AS MATERIALIZED (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM ws),
         |r0 AS (SELECT ws.src AS part, CAST(1 AS DOUBLE) / nn.n AS rank
         |       FROM ws CROSS JOIN nn)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
         |c$i AS MATERIALIZED (
         |  SELECT e.dst, e.src, e.src % $FoldSlices AS sl,
         |    r.rank * e.w / ws.wsum AS c
         |  FROM e JOIN r${i - 1} r ON e.src = r.part JOIN ws ON e.src = ws.src),
         |s$i AS MATERIALIZED (
         |  SELECT dst, sl, list_reduce(list(c ORDER BY src), (a, b) -> a + b) AS ss
         |  FROM c$i GROUP BY dst, sl),
         |r$i AS MATERIALIZED (
         |  SELECT s$i.dst AS part,
         |    (CAST(1 AS DOUBLE) - $d) / nn.n
         |      + $d * list_reduce(list(ss ORDER BY sl), (a, b) -> a + b) AS rank
         |  FROM s$i CROSS JOIN nn GROUP BY s$i.dst, nn.n)""".stripMargin
    }.mkString
    head + iters +
      s"""
         |SELECT part, round(rank, 6) AS rank FROM r$iterations
         |ORDER BY rank DESC, part LIMIT $k""".stripMargin
  }

  // -------------------------------------------------------------------
  // q159: degree assortativity.
  // -------------------------------------------------------------------

  /** q159: degree assortativity of the support-thresholded co-purchase
    * graph — the Pearson correlation of endpoint degrees over the DIRECTED
    * edge list (each undirected edge contributes both orientations: the
    * standard undirected estimator). One scalar answers "do
    * well-connected parts co-sell with each other or with accessories?":
    * positive = hubs pair with hubs, negative = hub–leaf structure.
    *
    * All five moment sums are EXACT integers (degrees are counts; the
    * thresholded graph's degrees are corpus-shape, not corpus-size, so the
    * sums sit far inside long range at every bench scale); the coefficient
    * is then ONE double expression over those integers, rounded to 6
    * digits on both engines, with a NULLIF guard so the degenerate
    * regular graph (zero degree variance) yields NULL rather than an
    * engine-dependent NaN.
    *
    * Scale shape: two hash equi-joins (degree lookups — the degree table
    * is nodes-sized and broadcastable) and one global aggregate over the
    * edge artifact. A single scan; nothing quadratic anywhere. */
  def degreeAssortativityFromPairs(pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("src"), col("dst"))
    val und = p.select(col("src").as("u"), col("dst").as("v"))
      .union(p.select(col("dst").as("u"), col("src").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val xy = und
      .join(deg.select(col("u").as("__au"), col("d").as("x")),
        col("u") === col("__au"))
      .join(deg.select(col("u").as("__bu"), col("d").as("y")),
        col("v") === col("__bu"))
    val stats = xy.agg(
      count(lit(1)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      max(greatest(col("x"), col("y"))).as("__mx"))
    val md = col("m").cast("double")
    // Loud-overflow symmetry with the oracle: DuckDB's SUM is HUGEINT and
    // its CAST(... AS BIGINT) ERRORS past 2^63, while Spark's non-ANSI
    // long sum would WRAP silently — an asymmetric failure mode on a
    // corpus whose thresholded degrees ever dwarf the documented shape
    // bound. m·maxdeg² bounds every moment sum (|sxy|,sxx,syy ≤ m·mx²;
    // |sx|,|sy| ≤ m·mx), checked in DOUBLE with a 2^62 margin so the
    // guard itself cannot overflow. Engine-side raise_error ⇒ both
    // engines now degrade loudly and identically.
    val mxd = col("__mx").cast("double")
    val momentsSafe = md * mxd * mxd < lit(math.pow(2, 62))
    val num = md * col("sxy") - col("sx").cast("double") * col("sy")
    // greatest(·, 0) mirror-guards both variance terms: they are ≥ 0 by
    // Cauchy–Schwarz over exact integers, but once the products exceed
    // 2^53 the two roundings could differ and a true zero could land
    // epsilon-negative — where DuckDB's sqrt ERRORS rather than NaNs.
    val den =
      sqrt(greatest(md * col("sxx") - col("sx").cast("double") * col("sx"),
        lit(0.0))) *
      sqrt(greatest(md * col("syy") - col("sy").cast("double") * col("sy"),
        lit(0.0)))
    stats.select(
      col("m").as("edges_directed"),
      when(!momentsSafe, raise_error(concat(
        lit("assortativity: degree moment sums may exceed 2^62 (m="),
        col("m").cast("string"), lit(", max degree="), col("__mx").cast("string"),
        lit(") — long sums would wrap silently; use a higher minSupport"))))
        .otherwise(
          round(num / when(den === 0.0, lit(null)).otherwise(den), 6))
        .as("assortativity"))
  }

  /** q159 oracle: identical moment sums (CAST to BIGINT — DuckDB's
    * SUM(BIGINT) is HUGEINT) and the identical one-expression coefficient. */
  def assortativitySql(minSupport: Int = ComponentsMinSupport): String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b2.l_partkey AS dst
       |  FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey
       |    AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |und AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM p UNION ALL SELECT dst, src FROM p),
       |dg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
       |st AS (
       |  SELECT COUNT(*) AS m,
       |    CAST(SUM(da.d) AS BIGINT) AS sx, CAST(SUM(db.d) AS BIGINT) AS sy,
       |    CAST(SUM(da.d * db.d) AS BIGINT) AS sxy,
       |    CAST(SUM(da.d * da.d) AS BIGINT) AS sxx,
       |    CAST(SUM(db.d * db.d) AS BIGINT) AS syy
       |  FROM und e JOIN dg da ON e.u = da.u JOIN dg db ON e.v = db.u)
       |SELECT m AS edges_directed,
       |  round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / NULLIF(
       |        sqrt(greatest(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx,
       |                      CAST(0 AS DOUBLE)))
       |      * sqrt(greatest(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy,
       |                      CAST(0 AS DOUBLE))), 0),
       |    6) AS assortativity
       |FROM st""".stripMargin
}

/** The persisted per-corpus co-purchase edge artifact: [[Graph.pairBase]]
  * (support-annotated pairs) plus [[Graph.nodeBase]] (the part universe),
  * written once per (corpus, JVM) and LOADED by every graph query — one
  * distinct-basket self-join per corpus per bench run instead of one per
  * operator (round-9 verdict ask #1). Same memo discipline as the
  * near-dup screening index: corpus-unique paths, per-corpus build lock,
  * lineitem-file fingerprint staleness ([[graft.ArtifactMemo]]).
  *
  * At 100 TB this is the co-occurrence edge table a deployment maintains
  * as a derived dataset next to the fact table; support thresholds become
  * pushed-down `n_orders >= k` scans of the artifact (PlanSpec asserts the
  * filter reaches the parquet scan). */
object GraphEdges {

  private val memo = new graft.ArtifactMemo("graph_edges")

  /** Ensure the edge artifact for `sfDir` exists and return its root.
    * Called by [[graft.SparkEntry.warmIndexes]] off the bench clock —
    * build-once/query-many, measured like the other index artifacts. */
  def warm(spark: SparkSession, sfDir: String): String = {
    val fp = graft.ArtifactMemo.tableFingerprint(spark, sfDir, Some("lineitem*.parquet"))
    memo.getOrBuild(sfDir, fp) { root =>
      val lineitem = graft.Tables.parquet(spark, sfDir, Some("lineitem*.parquet"))
      // One self-join, materialized once, feeding every file: pairs is the
      // expensive relation (the basket self-join), nodes a cheap distinct.
      Graph.pairBase(lineitem).write.mode("overwrite").parquet(s"$root/pairs")
      Graph.nodeBase(lineitem).write.mode("overwrite").parquet(s"$root/nodes")
      // The symmetrized degree/weight-annotated stacks, full and subgraph
      // (round-10 ask #2): every PageRank variant previously re-ran
      // union+degree+join from the pair list PER QUERY — at sf10 the
      // dominant pre-iteration cost, paid five times per bench run. Derived
      // from the WRITTEN pairs file (one disk scan each, not four more
      // self-joins); the raw graph only — thresholded consumers
      // (components/triangles/k-core) keep their pushed-down `n_orders`
      // scans of `pairs`, since a stack's degrees are threshold-specific.
      // Persisted: full degree stack (q149, the converged extra), subgraph
      // degree stack (q151/q155/q161), subgraph weighted stack (q160).
      // The FULL weighted stack is deliberately NOT materialized — no
      // query loads it, and at sf10 it is a ~240M-row write every fresh
      // JVM would pay for nothing; [[wStack]] serves that case lazily.
      val pairs = graft.Tables.parquet(spark, s"$root/pairs")
      Graph.symmetrizedDeg(pairs).write.mode("overwrite")
        .parquet(s"$root/edges_deg")
      val sub = pairs.filter(
        pmod(col("src"), lit(Graph.SubgraphModulus)) === 0 &&
          pmod(col("dst"), lit(Graph.SubgraphModulus)) === 0)
      Graph.symmetrizedDeg(sub).write.mode("overwrite")
        .parquet(s"$root/edges_deg_sub")
      Graph.symmetrizedW(sub).write.mode("overwrite")
        .parquet(s"$root/edges_w_sub")
    }
  }

  /** The support-annotated pair list for `sfDir`, optionally restricted to
    * the [[Graph.SubgraphModulus]] subgraph. Restriction on BOTH endpoints
    * is exact: a pair survives the lineitem-level filter iff both its
    * parts do, and `n_orders` (orders containing both parts) is unchanged
    * by dropping rows of OTHER parts. */
  def pairs(spark: SparkSession, sfDir: String, subgraph: Boolean = false): DataFrame = {
    val p = graft.Tables.parquet(spark, s"${warm(spark, sfDir)}/pairs")
    if (!subgraph) p
    else p.filter(pmod(col("src"), lit(Graph.SubgraphModulus)) === 0 &&
      pmod(col("dst"), lit(Graph.SubgraphModulus)) === 0)
  }

  /** The part universe for `sfDir` (optionally subgraph-restricted). */
  def nodes(spark: SparkSession, sfDir: String, subgraph: Boolean = false): DataFrame = {
    val nd = graft.Tables.parquet(spark, s"${warm(spark, sfDir)}/nodes")
    if (!subgraph) nd
    else nd.filter(pmod(col("part"), lit(Graph.SubgraphModulus)) === 0)
  }

  /** The PERSISTED symmetrized degree stack `(src, dst, outdeg)` for the
    * raw (unthresholded) graph — full or subgraph. Unlike [[pairs]], the
    * subgraph variant is its own FILE (degrees are computed over the
    * restricted edge set; filtering the full stack's rows would keep
    * full-graph degrees, which is wrong), both written by [[warm]]. */
  def degStack(spark: SparkSession, sfDir: String, subgraph: Boolean = false): DataFrame =
    graft.Tables.parquet(spark,
      s"${warm(spark, sfDir)}/${if (subgraph) "edges_deg_sub" else "edges_deg"}")

  /** The weighted stack `(src, dst, w, wsum)`. The subgraph variant is a
    * PERSISTED file (q160's load path); the full variant is served as the
    * lazy plan over the pair artifact — no query loads it, so
    * materializing it at [[warm]] time would be a ~240M-row sf10 write
    * per fresh JVM for nothing. */
  def wStack(spark: SparkSession, sfDir: String, subgraph: Boolean = false): DataFrame =
    if (subgraph) graft.Tables.parquet(spark, s"${warm(spark, sfDir)}/edges_w_sub")
    else Graph.symmetrizedW(pairs(spark, sfDir))
}
