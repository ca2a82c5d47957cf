package graft.sim

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (SURVEY.md §2.11 X3/X4 +
  * build-target extensions): exact brute-force cosine top-k as the
  * correctness baseline, LSH-bucketed approximate search, IVF (inverted
  * file) partition-pruned search, and cosine near-duplicate pairs.
  *
  * The per-row hot paths (cosine, dot product) are native codegen'd
  * Catalyst expressions ([[graft.functions.CosineSimilarity]],
  * [[graft.functions.DotProduct]]) — one fused loop per row, inside
  * whole-stage codegen. Embeddings stay columnar `array<float>` at rest
  * (X4) and are widened to double only inside the expressions.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a Column — codegen'd single-pass loop. */
  def dot(a: Column, b: Column): Column = VectorFunctions.dot_product(a, b)

  /** ‖a‖₂ as a Column. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two array columns — a native Catalyst expression:
    * one fused loop (dot product and both norms), stays inside whole-stage
    * codegen (zip_with/aggregate are CodegenFallback and drop every row out
    * of the generated pipeline). Left-to-right double accumulation — same
    * numerics as any sequential-fold engine. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine_similarity(a, b)

  /** Exact top-k by cosine against the embedding of `queryVecId`: the single
    * query row is broadcast, the scan streams once, and orderBy+limit plans
    * as TakeOrderedAndProject (per-partition top-k, merge of k·P rows — no
    * global sort). This is the O(N) baseline the ANN variants approximate.
    */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      roundDigits: Int = 6): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("query_embedding"))
    graft.ops.Partitioning.spread(embeddings)
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(
        col("vec_id"),
        col("label"),
        // Rounded before ordering: similarity values are exact only to the
        // accumulation order of the dot product, so cross-engine comparisons
        // (and stable top-k boundaries) need a fixed precision + id tiebreak.
        round(cosine(col("embedding"), col("query_embedding")), roundDigits).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), col("vec_id"))
      .limit(k)
  }

  /** L2-normalized copy of the embedding column (unit vectors make euclidean
    * distance a monotone proxy for cosine: d² = 2 − 2·cos). The norm is
    * materialized once per row first — inlining it in the transform lambda
    * would re-run the d-element aggregate for every element (O(d²)/row). */
  private def normalized(embeddings: DataFrame): DataFrame =
    graft.ops.Partitioning.spread(embeddings)
      .withColumn("__nrm", l2norm(col("embedding")))
      .withColumn("norm_vec",
        array_to_vector(
          transform(col("embedding").cast("array<double>"), x => x / col("__nrm"))
            .cast("array<float>")))
      .drop("__nrm")

  /** Approximate NN via random-hyperplane bucketing
    * (BucketedRandomProjectionLSH over unit vectors): candidates come from
    * matching hash buckets only — sublinear probe cost at scale. */
  def lshTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      bucketLength: Double = 0.5, numHashTables: Int = 4): DataFrame = {
    val normed = normalized(embeddings)
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("norm_vec").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42)
    val model = lsh.fit(normed)
    val queryVec = model.transform(normed).filter(col("vec_id") === queryVecId)
      .select("norm_vec").head().getAs[org.apache.spark.ml.linalg.Vector]("norm_vec")
    model
      .approxNearestNeighbors(normed.filter(col("vec_id") =!= queryVecId), queryVec, k, "dist")
      .select(
        col("vec_id"),
        col("label"),
        (lit(1.0) - col("dist") * col("dist") / 2).as("cosine_sim_approx"))
      .orderBy(desc("cosine_sim_approx"), col("vec_id"))
  }

  /** Batch exact k-NN join: the top-k cosine neighbors for EVERY row of a
    * bounded `queries` set in one plan (the multi-query generalization of
    * [[bruteForceTopK]] — retrieval for a batch of probes, dedup seeding,
    * eval-set mining). Queries are broadcast; the corpus streams ONCE for
    * all of them; ranking uses `row_number` over (rounded sim desc, vec_id)
    * so boundaries are deterministic and cross-engine comparable.
    *
    * Scale shape: Spark's rank-limit pushdown (WindowGroupLimit) keeps only
    * k rows per query per partition BEFORE the shuffle, so the exchange
    * carries O(k·Q·partitions), not the N·Q scored rows. For corpora where
    * even one streaming pass per batch is too much, probe an [[IvfIndex]]
    * per query instead. */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      roundDigits: Int = 6): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")))
    val scored = graft.ops.Partitioning.spread(corpus)
      .crossJoin(q)
      .filter(col("vec_id") =!= col("q_vec_id"))
      .select(col("q_vec_id"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_embedding")), roundDigits).as("cosine_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_vec_id").orderBy(desc("cosine_sim"), col("vec_id"))
    scored
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .orderBy("q_vec_id", "knn_rank")
  }

  // ---- IVF ------------------------------------------------------------------

  /** IVF (inverted-file) index: a k-means coarse quantizer partitions the
    * corpus into `nlist` cells; a query probes only the `nprobe` nearest
    * cells and brute-forces within them — the classic FAISS-style recall/
    * cost dial.
    *
    * Index-build cost is kept OUT of the query path (the 100 TB posture):
    *  - the quantizer is fit driver-side on a bounded uniform sample
    *    (`maxFitRows`, standard IVF practice — FAISS trains coarse
    *    quantizers on a few-thousand-point sample), NOT by running
    *    distributed k-means over the full corpus per query;
    *  - cell assignment is ONE narrow codegen'd pass (argmin over broadcast
    *    centroid literals via [[graft.functions.DotProduct]] — for centroid
    *    c, ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², and ‖x‖² is constant per row, so
    *    argmin_c (‖c‖² − 2x·c) suffices);
    *  - `assigned` is persisted, so repeated [[ivfTopK]] probes against the
    *    same index never re-scan the corpus. At production scale you would
    *    write `assigned` out partitioned by `cell` and get partition-pruned
    *    probes for free.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[(Int, Array[Double])]) {
    def persist(): IvfIndex = { assigned.persist(StorageLevel.MEMORY_AND_DISK); this }
    def unpersist(): IvfIndex = { assigned.unpersist(); this }
  }

  /** Persist an IVF index: cell assignments as parquet PARTITIONED BY
    * `cell` (a probe filtering on nprobe cells becomes a partition-pruned
    * scan — the production shape alluded to in the [[IvfIndex]] docs),
    * centroids as a JSON sidecar. Build once, query across sessions —
    * the index contract the in-memory memoization only approximates. */
  def saveIvf(index: IvfIndex, path: String): Unit = {
    // Cluster by cell before the partitioned write (the Iceberg
    // hash-distribution-mode discipline, guide §6): a straight map-side
    // partitionBy writes one file per (task × cell) — 32 tasks × nlist
    // cells = hundreds of tiny files whose open/list overhead dominates
    // cold probes; the narrow shuffle makes it ~one file per cell, and at
    // 100 TB keeps probe-side file counts proportional to cells, not to
    // writer parallelism.
    index.assigned.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/assigned")
    val spark = index.assigned.sparkSession
    val json = index.centroids.map { case (i, c) =>
      s"""{"i":$i,"c":[${c.mkString(",")}]}"""
    }.mkString("[", ",", "]")
    writeSidecarAtomic(spark, s"$path/centroids.json", json)
  }

  /** Write a small JSON sidecar via staged rename (round-12 advice: the
    * bare `create(path, overwrite = true)` truncates in place, so a
    * crash mid-write left a torn sidecar that failed the next load —
    * the one non-atomic publish remaining in the family). Bytes land in
    * a dot-prefixed temp file first; `FileContext.rename(OVERWRITE)`
    * swaps it in on rename-atomic stores (local FS, HDFS). Publication
    * of a whole GENERATION stays the caller's pointer swap (the
    * ArtifactMemo discipline) — this only removes the torn-file state
    * within a generation dir. */
  private def writeSidecarAtomic(spark: org.apache.spark.sql.SparkSession,
      pathStr: String, json: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p0 = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p0.getFileSystem(conf)
    val p = fs.makeQualified(p0)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".staging_${p.getName}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Load a persisted IVF index. The assignment frame stays disk-backed
    * (partition-pruned probes, no cache warm-up needed). */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(graft.Tables.parquet(spark, s"$path/assigned"), loadCentroids(spark, path))

  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Double])] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no centroids sidecar at $p")
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = DefaultFormats
    JsonMethods.parse(raw).extract[Seq[Map[String, Any]]].map { m =>
      (m("i").asInstanceOf[Number].intValue(),
        m("c").asInstanceOf[Seq[Number]].map(_.doubleValue()).toArray)
    }.toArray.sortBy(_._1)
  }

  /** O(batch) IVF admission (round-10 ask #3): assign NEW vectors to the
    * EXISTING quantizer's cells with the same codegen'd argmin the build
    * used, and land them as a named DELTA SEGMENT next to the base
    * assignment — no quantizer refit, no corpus re-scan; the cost is one
    * narrow pass over the batch (the q146 near-dup admission discipline
    * applied to X3, closing the family's only whole-rebuild-on-append
    * path). Named segments make re-admission idempotent (same segment ⇒
    * overwrite); [[loadIvfWithDeltas]] serves base + deltas as one index.
    * At 100 TB this is how an ANN index tracks an appending corpus:
    * per-batch delta segments land next to the base and compact
    * periodically; the quantizer ages only via cell IMBALANCE (visible,
    * monitorable), never via silently stale assignments. */
  def ivfAdmit(path: String, batch: DataFrame, segment: String,
      deltaRoot: Option[String] = None): Unit = {
    requireSegment(segment)
    val centroids = loadCentroids(batch.sparkSession, path)
    publishSegment(batch.sparkSession, deltaRoot.getOrElse(path),
      s"delta_$segment") { tmp =>
      graft.ops.Partitioning.spread(batch)
        .withColumn("cell", cellColumn(centroids))
        // Narrow post-assignment shuffle -> ~one file per cell per
        // segment (see saveIvf): keeps the per-segment file count flat
        // as admission batches accumulate.
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$tmp/assigned")
    }
  }

  /** ANN deletion (round-11 ask #3): land a batch of `vec_id`s as a named
    * TOMBSTONE segment — O(batch), no index rewrite. [[loadIvfWithDeltas]]
    * anti-joins tombstones at serve time, so deleted vectors vanish from
    * probes immediately; [[ivfCompactTo]] physically reclaims them (the
    * compacted generation carries neither deltas nor tombstones).
    * Tombstones DOMINATE admissions regardless of segment order —
    * re-admitting a tombstoned id requires compacting first (the contract
    * a set-union of segments can support without ordering metadata).
    * Same atomic publish and idempotent re-delete as [[ivfAdmit]]. */
  def ivfDelete(path: String, ids: DataFrame, segment: String,
      deltaRoot: Option[String] = None): Unit = {
    requireSegment(segment)
    publishSegment(ids.sparkSession, deltaRoot.getOrElse(path),
      s"tomb_$segment") { tmp =>
      ids.select(col("vec_id")).write.mode("overwrite").parquet(s"$tmp/ids")
    }
  }

  private def requireSegment(segment: String): Unit =
    require(segment.nonEmpty && segment.forall(c => c.isLetterOrDigit || c == '-'),
      s"segment must be alphanumeric/dash, got '$segment'")

  /** Published segment dirs with `prefix` under each root, sorted per
    * root by segment name for deterministic union order.
    *
    * Crash-recovery fallback (round-12 advice): a re-publication that
    * died between [[publishSegment]]'s two renames leaves the OLD
    * segment parked at `.old_<name>` and nothing at `<name>`. Serving
    * the parked copy keeps "old complete" true even inside that window
    * — read-only, no repair writes, so a load can never race an
    * in-flight publish's rename. This matters most for `tomb_`
    * segments, where serving "none" would resurrect deleted vectors
    * until the re-publication completed. A published name always wins
    * over its parked copy (the crash-after-swap state has both). */
  private def listSegments(conf: org.apache.hadoop.conf.Configuration,
      roots: Seq[String], prefix: String): Seq[String] = roots.flatMap { r =>
    val p = new org.apache.hadoop.fs.Path(r)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty[String]
    else {
      val dirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
      val published = dirs.filter(_.getName.startsWith(prefix))
      val pubNames = published.map(_.getName).toSet
      val parked = dirs.filter { d =>
        d.getName.startsWith(s".old_$prefix") &&
          !pubNames.contains(d.getName.stripPrefix(".old_"))
      }
      (published.map(d => (d.getName, d.toString)) ++
        parked.map(d => (d.getName.stripPrefix(".old_"), d.toString)))
        .sortBy(_._1).map(_._2)
    }
  }

  /** Publish `<root>/<dirName>` ATOMICALLY (round-11 ask #5): `write`
    * lands in a dot-prefixed staging dir — hidden from parquet discovery
    * AND from [[loadIvfWithDeltas]]' `delta_`/`tomb_` listing — then ONE
    * rename makes it visible. Parquet's own overwrite is
    * delete-then-write, so a crash mid-admission used to leave a torn
    * segment that served garbage until the next run healed it; with the
    * staging rename a concurrent or crash-interrupted load sees either
    * the old complete segment or none (SimilaritySpec pins both). A crash
    * can strand only the hidden staging dir, which the next publish of
    * that segment wipes. This also closes the listStatus race flagged in
    * round 11: an in-flight admission is invisible to a concurrent
    * [[loadIvfWithDeltas]] until the rename. */
  private def publishSegment(spark: org.apache.spark.sql.SparkSession,
      root: String, dirName: String)(write: String => Unit): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(rootP, s".staging_$dirName")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(rootP, dirName)
    val old = new org.apache.hadoop.fs.Path(rootP, s".old_$dirName")
    // Re-publication swaps old for new via rename-aside (round-12
    // advice): the previous delete-then-rename left a window — and a
    // crash state — with NO segment, which for tomb_ segments meant
    // previously deleted vectors were served again until the tombstone
    // was re-published. Now the old segment is parked at `.old_<name>`
    // (two metadata renames, no recursive delete in between), and
    // [[listSegments]] serves the parked copy whenever the published
    // name is absent — so a crash at ANY point leaves readers on the
    // old complete segment, never on none and never on torn bytes.
    if (fs.exists(dst)) {
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(dst, old), s"segment park rename failed: $dst -> $old")
    }
    require(fs.rename(tmp, dst), s"segment publish rename failed: $tmp -> $dst")
    // Retire the parked copy only AFTER the new segment is visible; a
    // leftover (crash-after-swap) is shadowed by the published name.
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Compact a delta'd IVF index into a FRESH generation at `outPath`:
    * one pass over the INDEX files (cells are already assigned — the
    * corpus is never re-scanned, the quantizer never refit), producing a
    * single cell-partitioned base with no deltas, plus the centroid
    * sidecar copied verbatim. Non-destructive by design: the source
    * generation keeps serving probes while the compaction writes, and the
    * caller swaps pointers after — the [[graft.ArtifactMemo]] generation
    * discipline. This is the off-peak maintenance that keeps probe fan-in
    * (segments per cell) constant as admission batches accumulate.
    * Tombstoned rows are PHYSICALLY RECLAIMED here (the read path already
    * anti-joins them), and the compacted generation carries neither
    * `delta_` nor `tomb_` dirs — SimilaritySpec pins both freedoms.
    *
    * `deltaRoots` has [[loadIvfWithDeltas]]' semantics (round-12 ask
    * #2): `None` folds the segments co-located with the base; `Some`
    * folds an EXTERNAL root's segments — the layout a streaming
    * admission (q164) or deletion queue (q165) accumulates, which
    * previously had no compaction entry point and so grew forever. */
  def ivfCompactTo(spark: org.apache.spark.sql.SparkSession, path: String,
      outPath: String, deltaRoots: Option[Seq[String]] = None): Unit = {
    loadIvfWithDeltas(spark, path, deltaRoots).assigned
      // Compaction exists to restore file hygiene — cluster by cell so the
      // fresh generation lands ~one file per cell (see saveIvf).
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$outPath/assigned")
    copySidecar(spark, s"$path/centroids.json", s"$outPath/centroids.json")
  }

  private def copySidecar(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
      dst.getFileSystem(conf), dst, false, true, conf)
    ()
  }

  /** Load base + every admitted delta segment as ONE index: the
    * assignment relation is a union of cell-partitioned parquet roots, so
    * a probe's cell filter partition-prunes across all segments alike.
    * Deterministic segment order (sorted names). */
  def loadIvfWithDeltas(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaRoots: Option[Seq[String]] = None): IvfIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    // `deltaRoots = None`: segments co-located with the base (the default
    // layout q162/q163 admit into). `Some(roots)`: segments read ONLY
    // from `roots` — the layout an EXTERNAL admission stream or deletion
    // queue writes (q164/q165), which keeps the shared base generation
    // immutable and the board's queries order-independent: a probe never
    // sees another query's co-located segments by accident.
    val roots = deltaRoots.getOrElse(Seq(path))
    def segments(prefix: String): Seq[String] = listSegments(conf, roots, prefix)
    // One read PER segment root, unioned: a multi-path read would make
    // Spark hunt for a common partition-discovery base across
    // `assigned/cell=N` and `delta_x/assigned/cell=N` and reject the
    // layout as conflicting. Each scan keeps its own cell-partition
    // pruning; the union of pruned scans is still pruned (a probe's cell
    // filter pushes through the union AND through the anti-join's left
    // side alike).
    val assignedAll = (s"$path/assigned" +: segments("delta_").map(d => s"$d/assigned"))
      .map(graft.Tables.parquet(spark, _))
      .reduce(_ unionByName _)
    val tombs = segments("tomb_").map(t => s"$t/ids")
    val assigned =
      if (tombs.isEmpty) assignedAll
      else {
        // Tombstones are deletion batches — tiny next to the corpus, so
        // Catalyst broadcasts the anti-join's right side off its file
        // stats; at a scale where tombstones rival the base, compaction
        // is overdue and [[ivfCompactTo]] resets them to zero.
        val ids = tombs.map(graft.Tables.parquet(spark, _)).reduce(_ unionByName _).distinct()
        assignedAll.join(ids, Seq("vec_id"), "left_anti")
      }
    IvfIndex(assigned, loadCentroids(spark, path))
  }

  /** Build the IVF index. One bounded sample job + driver-local Lloyd
    * iterations + one narrow assignment pass — no ML-pipeline fit in sight.
    * Deterministic: the sample is hash-ordered (`xxhash64(vec_id, seed)`),
    * initialization and iteration are seeded and data-order-independent. */
  def buildIvf(embeddings: DataFrame, nlist: Int = 16, maxFitRows: Int = 4096,
      seed: Long = 42L, lloydIters: Int = 20): IvfIndex = {
    // Bounded uniform sample: hash order is random order, TakeOrdered keeps
    // only maxFitRows — a single column-pruned scan, never a full collect.
    val sample = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .orderBy(pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000007L)), col("vec_id"))
      .limit(maxFitRows)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "buildIvf: empty corpus")
    val centroids = Lloyd.fit(sample, nlist, lloydIters)
    val assigned = graft.ops.Partitioning.spread(embeddings)
      .withColumn("cell", cellColumn(centroids))
    IvfIndex(assigned, centroids).persist()
  }

  /** The codegen'd cell-assignment expression for a FIXED quantizer:
    * argmin_c ‖x−c‖² = argmin_c (‖c‖² − 2x·c) via least() over
    * (score, cell) structs — centroids ride as broadcast literals in the
    * plan, ‖x‖² drops out as constant per row. Shared by the initial
    * build ([[buildIvf]]) and O(batch) admission ([[ivfAdmit]]), so the
    * two paths can never assign differently. */
  private def cellColumn(centroids: Array[(Int, Array[Double])]): Column = {
    val scored = centroids.map { case (i, c) =>
      val cNorm2 = c.map(x => x * x).sum
      struct(
        (lit(cNorm2) - lit(2.0) * dot(col("embedding"), typedLit(c.toSeq))).as("s"),
        lit(i).as("i"))
    }
    if (scored.length == 1) lit(0)
    else least(scored.toIndexedSeq: _*).getField("i")
  }

  def ivfTopK(index: IvfIndex, queryVecId: Long, k: Int, nprobe: Int = 4): DataFrame = {
    val q = index.assigned.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    def cos(c: Array[Double]): Double = {
      val d = c.zip(q).map { case (x, y) => x * y }.sum
      val n1 = math.sqrt(c.map(x => x * x).sum); val n2 = math.sqrt(q.map(x => x * x).sum)
      if (n1 == 0 || n2 == 0) 0 else d / (n1 * n2)
    }
    val probeCells = index.centroids.sortBy { case (i, c) => (-cos(c), i) }.take(nprobe).map(_._1)
    val qLit = typedLit(q)
    index.assigned
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*) && col("vec_id") =!= queryVecId)
      .select(
        col("vec_id"),
        col("label"),
        col("cell"),
        cosine(col("embedding"), qLit).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), col("vec_id"))
      .limit(k)
  }

  /** Batch ANN join through the IVF index — the retrieval workload at
    * corpus scale: top-k approximate neighbors for EVERY query in a bounded
    * probe batch, touching only each query's `nprobe` nearest cells instead
    * of streaming the whole corpus per batch (the cost [[knnJoin]] pays for
    * exactness). Probe selection is itself a tiny plan (queries × nlist
    * centroid literals, window top-nprobe); candidate generation is an
    * EQUI-join on the cell id — with `assigned` written out partitioned by
    * cell, that join partition-prunes to the probed cells for free.
    * nprobe = nlist degenerates to exact (verified by SimilaritySpec). */
  def ivfKnnJoin(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
      roundDigits: Int = 6): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val cents = index.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("cell", "__centroid")
    val q = queries.select(col("vec_id").as("q_vec_id"),
      col("embedding").cast("array<double>").as("q_embedding"))
    val cellRank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_vec_id").orderBy(desc("__c_sim"), col("cell"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("__c_sim", cosine(col("q_embedding"), col("__centroid")))
      .withColumn("__c_rank", row_number().over(cellRank))
      .filter(col("__c_rank") <= nprobe)
      .select(col("q_vec_id"), col("q_embedding"), col("cell"))
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_vec_id").orderBy(desc("cosine_sim"), col("vec_id"))
    index.assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .select(col("q_vec_id"), col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_embedding")), roundDigits).as("cosine_sim"))
      .withColumn("knn_rank", row_number().over(rank))
      .filter(col("knn_rank") <= k)
      .orderBy("q_vec_id", "knn_rank")
  }

  /** Cell-imbalance drift monitor (round-12 ask #4): per-cell occupancy
    * of an IVF index — base + admitted deltas — plus the aggregate skew
    * signal that tells an operator when compaction-WITH-REFIT is due.
    * [[ivfAdmit]]'s contract is that the fixed quantizer ages ONLY via
    * cell imbalance (assignments are never silently stale); this is the
    * query that makes that aging visible, the q110-recall discipline
    * applied to index health.
    *
    * Output: one row per quantizer cell (EMPTY cells included — a cell
    * the corpus has drifted away from is as much a signal as an
    * overfull one), with `n_vectors`, `share` of the corpus,
    * `cell_skew` = n / (total/nlist) (1.0 = perfectly balanced), and
    * the global `imbalance_ratio` = max-cell skew repeated on every row
    * (the single number a monitor alerts on; nprobe-probe cost scales
    * with the fattest probed cell, so max-over-mean IS the probe-cost
    * regression).
    *
    * Scale shape: one map-side-combined count per cell over the
    * assigned relation (partition-pruned parquet scans at rest), then
    * window arithmetic over nlist rows — the post-aggregation frame is
    * quantizer-sized, never corpus-sized. */
  def ivfCellStats(index: IvfIndex, roundDigits: Int = 6): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val nlist = index.centroids.length
    val cells = index.centroids.map(_._1).toSeq.toDF("cell")
    val counts = index.assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    cells.join(counts, Seq("cell"), "left")
      .na.fill(0L, Seq("n_vectors"))
      .withColumn("__tot", sum(col("n_vectors")).over(w))
      .withColumn("__max", max(col("n_vectors")).over(w))
      .select(col("cell"), col("n_vectors"),
        round(col("n_vectors") / col("__tot"), roundDigits).as("share"),
        round(col("n_vectors") * lit(nlist) / col("__tot"), roundDigits).as("cell_skew"),
        round(col("__max") * lit(nlist) / col("__tot"), roundDigits).as("imbalance_ratio"))
      .orderBy("cell")
  }

  /** Driver-local Lloyd k-means over a bounded sample — the coarse-quantizer
    * fit. A few thousand points × a few dozen iterations is microseconds of
    * driver CPU; running this distributed (as a per-query ml.KMeans fit did)
    * costs 20+ scheduler round-trips for the same arithmetic. */
  private object Lloyd {
    def fit(points: Array[Array[Double]], k: Int, iters: Int): Array[(Int, Array[Double])] = {
      val kk = math.min(k, points.length)
      var centroids = points.take(kk).map(_.clone)
      val assign = new Array[Int](points.length)
      for (_ <- 0 until iters) {
        var p = 0
        while (p < points.length) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < kk) {
            var d = 0.0; var j = 0
            val ce = centroids(c); val pe = points(p)
            while (j < pe.length) { val t = pe(j) - ce(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assign(p) = best
          p += 1
        }
        val sums = Array.fill(kk)(new Array[Double](points(0).length))
        val counts = new Array[Long](kk)
        p = 0
        while (p < points.length) {
          val a = assign(p); counts(a) += 1
          var j = 0
          while (j < points(p).length) { sums(a)(j) += points(p)(j); j += 1 }
          p += 1
        }
        centroids = Array.tabulate(kk) { c =>
          if (counts(c) == 0) centroids(c) // empty cell: keep previous centroid
          else sums(c).map(_ / counts(c))
        }
      }
      centroids.zipWithIndex.map { case (c, i) => (i, c) }
    }
  }

  // ---- Product quantization (the FAISS IVFPQ family's code path) --------

  /** Per-subspace codebooks: `books(sub)(code)` is a dsub-dimensional
    * centroid. M codes of K values compress a d-float vector to M small
    * ints — 16× beyond the int8 scalar quantization of [[quantize]], the
    * regime where 100 TB of raw embeddings become ~6 TB of codes that fit
    * hot storage. */
  final case class PqCodebooks(m: Int, k: Int, dsub: Int,
      books: Array[Array[Array[Double]]])

  /** Train PQ codebooks: one bounded sample scan (the [[buildIvf]]
    * pattern), then M independent driver-local Lloyd fits — one per
    * subspace. Deterministic: hash-ordered sample, seeded init. */
  def pqTrain(embeddings: DataFrame, m: Int = 8, k: Int = 16,
      maxFitRows: Int = 4096, seed: Long = 42L, lloydIters: Int = 20): PqCodebooks = {
    val sample = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .orderBy(pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000007L)), col("vec_id"))
      .limit(maxFitRows)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"pqTrain: dimension $d not divisible by m=$m")
    val dsub = d / m
    val books = Array.tabulate(m) { s =>
      val sub = sample.map(v => v.slice(s * dsub, (s + 1) * dsub))
      Lloyd.fit(sub, k, lloydIters).map(_._2)
    }
    // Lloyd.fit caps centroids at the sample size, so record the ACTUAL
    // per-subspace codebook size: with requested k > |sample|, keeping the
    // requested k would send pqEncode's argmin and pqTopK's LUT loop past
    // the end of the books.
    PqCodebooks(m, books.head.length, dsub, books)
  }

  /** Attach a `codes` column (array of M small ints): per subspace,
    * argmin-distance code via the same codegen'd least-over-structs trick
    * as IVF cell assignment — ‖x−c‖² = ‖c‖² − 2x·c (+‖x‖², constant per
    * row and subspace). One narrow map pass, codebooks ride as broadcast
    * literals. */
  def pqEncode(embeddings: DataFrame, cb: PqCodebooks): DataFrame = {
    val codeCols = (0 until cb.m).map { s =>
      val subCol = expr(s"slice(embedding, ${s * cb.dsub + 1}, ${cb.dsub})")
      val scored = (0 until cb.k).map { code =>
        val c = cb.books(s)(code)
        val cNorm2 = c.map(x => x * x).sum
        struct(
          (lit(cNorm2) - lit(2.0) * dot(subCol, typedLit(c.toSeq))).as("s"),
          lit(code).as("i"))
      }
      (if (scored.length == 1) lit(0) else least(scored: _*).getField("i")).cast("int")
    }
    embeddings.withColumn("codes", array(codeCols: _*))
  }

  /** Persist a PQ index: the encoded corpus as parquet, the codebooks as
    * a JSON sidecar — the [[saveIvf]] contract for the PQ family (build
    * once, probe across sessions; the admission path loads the SAME
    * codebooks the build wrote, so the two can never encode
    * differently). */
  def savePq(encoded: DataFrame, cb: PqCodebooks, path: String): Unit = {
    encoded.write.mode("overwrite").parquet(s"$path/encoded")
    val books = cb.books.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val json = s"""{"m":${cb.m},"k":${cb.k},"dsub":${cb.dsub},"books":$books}"""
    writeSidecarAtomic(encoded.sparkSession, s"$path/codebooks.json", json)
  }

  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): PqCodebooks = {
    val p = new org.apache.hadoop.fs.Path(s"$path/codebooks.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no codebooks sidecar at $p")
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = DefaultFormats
    val parsed = JsonMethods.parse(raw)
    PqCodebooks(
      (parsed \ "m").extract[Int], (parsed \ "k").extract[Int],
      (parsed \ "dsub").extract[Int],
      (parsed \ "books").extract[List[List[List[Double]]]]
        .map(_.map(_.toArray).toArray).toArray)
  }

  /** O(batch) PQ admission (round-11 ask #4): encode an append batch
    * under the EXISTING persisted codebooks — [[pqEncode]], the exact
    * function the build ran, so admitted codes can never diverge from a
    * one-shot encode (SimilaritySpec pins equality) — and publish it as
    * an atomic delta segment next to (or, with `deltaRoot`, apart from)
    * the base. No codebook refit, no corpus re-scan: the IVF admission
    * contract applied to the PQ index. */
  def pqAdmit(path: String, batch: DataFrame, segment: String,
      deltaRoot: Option[String] = None): Unit = {
    requireSegment(segment)
    val cb = loadPqCodebooks(batch.sparkSession, path)
    publishSegment(batch.sparkSession, deltaRoot.getOrElse(path),
      s"delta_$segment") { tmp =>
      pqEncode(graft.ops.Partitioning.spread(batch), cb)
        .write.mode("overwrite").parquet(s"$tmp/encoded")
    }
  }

  /** ANN deletion for the PQ index (round-12 ask #3): the tombstone
    * segment format carries only `vec_id`s — independent of the index
    * family — so this IS [[ivfDelete]]'s writer; what differs is the
    * serve path ([[loadPqWithDeltas]] anti-joins `tomb_` segments over
    * the encoded relation) and the physical reclaim ([[pqCompactTo]]).
    * Tombstones dominate later [[pqAdmit]]s of the same id — the same
    * set-union contract, SimilaritySpec-pinned. */
  def pqDelete(path: String, ids: DataFrame, segment: String,
      deltaRoot: Option[String] = None): Unit =
    ivfDelete(path, ids, segment, deltaRoot)

  /** Load a persisted PQ index plus its delta segments as ONE encoded
    * relation, minus any tombstoned ids ([[loadIvfWithDeltas]]' root and
    * tombstone semantics: `None` = segments co-located with the base;
    * `Some(roots)` = segments ONLY from `roots`, base generation
    * immutable; `tomb_` segments anti-joined at serve time with the tiny
    * deletion side broadcast off file stats). */
  def loadPqWithDeltas(spark: org.apache.spark.sql.SparkSession,
      path: String, deltaRoots: Option[Seq[String]] = None): (PqCodebooks, DataFrame) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val roots = deltaRoots.getOrElse(Seq(path))
    val encodedAll = (s"$path/encoded" +:
      listSegments(conf, roots, "delta_").map(d => s"$d/encoded"))
      .map(graft.Tables.parquet(spark, _))
      .reduce(_ unionByName _)
    val tombs = listSegments(conf, roots, "tomb_").map(t => s"$t/ids")
    val encoded =
      if (tombs.isEmpty) encodedAll
      else {
        val ids = tombs.map(graft.Tables.parquet(spark, _)).reduce(_ unionByName _).distinct()
        encodedAll.join(ids, Seq("vec_id"), "left_anti")
      }
    (loadPqCodebooks(spark, path), encoded)
  }

  /** Compact a delta'd/tombstoned PQ index into a FRESH generation at
    * `outPath` — [[ivfCompactTo]]'s contract on the encoded relation:
    * one pass over the INDEX files (codes are already assigned, the
    * codebooks never refit — the sidecar is copied verbatim), tombstoned
    * rows physically reclaimed, no `delta_`/`tomb_` dirs in the output.
    * Non-destructive: the source generation keeps serving while this
    * writes; the caller swaps pointers after. `deltaRoots` as in
    * [[loadPqWithDeltas]]. */
  def pqCompactTo(spark: org.apache.spark.sql.SparkSession, path: String,
      outPath: String, deltaRoots: Option[Seq[String]] = None): Unit = {
    loadPqWithDeltas(spark, path, deltaRoots)._2
      .write.mode("overwrite").parquet(s"$outPath/encoded")
    copySidecar(spark, s"$path/codebooks.json", s"$outPath/codebooks.json")
  }

  /** Two-stage PQ search (asymmetric distance computation): the coarse
    * pass scores every row as Σₛ LUT[s][codeₛ] — M `element_at` probes
    * into one flat literal lookup table of query·centroid dot products,
    * no vector arithmetic per row at all — keeps the best `candidates`
    * (TakeOrderedAndProject), and the exact cosine rerank runs only on
    * those. At `candidates >= corpus` the result provably equals the
    * exact brute-force top-k (SimilaritySpec); at realistic candidate
    * budgets recall is measured, not assumed. */
  def pqTopK(encoded: DataFrame, cb: PqCodebooks, queryVecId: Long, k: Int,
      candidates: Int = 64, roundDigits: Int = 6): DataFrame = {
    val q = encoded.filter(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val lut: Seq[Double] = for {
      s <- 0 until cb.m
      code <- 0 until cb.k
    } yield {
      val c = cb.books(s)(code)
      var acc = 0.0
      var j = 0
      while (j < cb.dsub) { acc += q(s * cb.dsub + j) * c(j); j += 1 }
      acc
    }
    val lutLit = typedLit(lut)
    val approxDot = (0 until cb.m)
      .map(s => element_at(lutLit, lit(s * cb.k + 1) + col("codes").getItem(s)))
      .reduce(_ + _)
    encoded.filter(col("vec_id") =!= queryVecId)
      .withColumn("approx_dot", approxDot)
      .orderBy(desc("approx_dot"), col("vec_id"))
      .limit(candidates)
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), typedLit(q.toSeq)), roundDigits).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), col("vec_id"))
      .limit(k)
      .orderBy(desc("cosine_sim"), col("vec_id"))
  }

  /** Per-label embedding centroids, unpivoted to (label, n_vectors, pos,
    * centroid) rows with 1-based positions — class prototypes for
    * centroid-based classification, drift monitoring, or IVF-style cell
    * seeding per label.
    *
    * The aggregation is `Summarizer.mean` — Spark ML's vector aggregator
    * with map-side partial summaries, so the exchange carries one
    * d-dimensional partial per (partition × label), NOT the d×N exploded
    * element rows a posexplode-then-groupBy formulation would shuffle. The
    * unpivot happens AFTER aggregation, on the labels×d-sized result. */
  def labelCentroids(embeddings: DataFrame, roundDigits: Int = 4): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.ml.stat.Summarizer
    graft.ops.Partitioning.spread(embeddings)
      .select(col("label"), array_to_vector(col("embedding")).as("__v"))
      .groupBy(col("label"))
      .agg(Summarizer.mean(col("__v")).as("__mean"), count(lit(1)).as("n_vectors"))
      .select(col("label"), col("n_vectors"),
        posexplode(vector_to_array(col("__mean"))).as(Seq("pos", "centroid")))
      .select(col("label"), col("n_vectors"), (col("pos") + 1).as("pos"),
        round(col("centroid"), roundDigits).as("centroid"))
      .orderBy("label", "pos")
  }

  // ---- storage quantization -------------------------------------------------

  /** Symmetric int8 scalar quantization of the embedding column: per-vector
    * scale = max|xᵢ|/127, components rounded to `tinyint`. Cuts embedding
    * storage (and scan bytes) 4× — at 100 TB the difference between an ANN
    * index that fits hot storage and one that doesn't. Quantization error
    * is bounded by scale/2 per component; cosine distortion for 64-dim unit
    * vectors is ≈1e-4, far below any near-dup threshold. Zero vectors get
    * scale 0 and all-zero codes. All array HOFs — one narrow pass. */
  def quantize(embeddings: DataFrame): DataFrame = {
    val scale =
      (aggregate(col("embedding").cast("array<double>"), lit(0.0),
        (acc, x) => greatest(acc, abs(x))) / lit(127.0)).as("q_scale")
    graft.ops.Partitioning.spread(embeddings)
      .withColumn("q_scale", scale)
      .withColumn("q_embedding",
        when(col("q_scale") === 0.0,
          transform(col("embedding"), _ => lit(0).cast("byte")))
          .otherwise(transform(col("embedding").cast("array<double>"),
            x => round(x / col("q_scale")).cast("byte"))))
  }

  /** Reconstruct approximate float embeddings from int8 codes + scale. */
  def dequantize(quantized: DataFrame): DataFrame =
    quantized.withColumn("deq_embedding",
      transform(col("q_embedding"), v => (v.cast("double") * col("q_scale"))))

  /** Two-stage retrieval over the quantized artifact — how a 100 TB ANN
    * scan actually gets paid for: the COARSE pass streams the 4×-smaller
    * int8 table and ranks by cosine over the codes (the per-vector scale
    * cancels out of cosine, so codes rank directly — no dequantization),
    * keeping `rerank` candidates via TakeOrderedAndProject; the RERANK
    * pass fetches just those rows from the full-precision table through a
    * pushed-down `IN` filter (the candidate-id list is a bounded driver
    * value, ≤ `rerank` longs — the same scalar-collect discipline as the
    * IVF probe selection) and re-scores exactly.
    *
    * Int8 cosine distortion is ≈1e-4 for these dims, so any true top-k
    * item inside the coarse cut by a wider margin survives — with
    * `rerank ≫ k` the result equals [[bruteForceTopK]] exactly (spec-
    * asserted on the fixture, where the k-th boundary gap is ~30× the
    * distortion). */
  def quantizedTwoStageTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      rerank: Int = 100, roundDigits: Int = 6): DataFrame = {
    require(rerank >= k, "rerank candidate count must be at least k")
    val stored = quantize(embeddings)
      .select(col("vec_id"), col("q_embedding"))
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>").as("query_embedding"))
    val candidateIds = graft.ops.Partitioning.spread(stored)
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        cosine(col("q_embedding").cast("array<double>"), col("query_embedding")).as("__coarse"))
      .orderBy(desc("__coarse"), col("vec_id"))
      .limit(rerank)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    embeddings
      .filter(col("vec_id").isin(candidateIds: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding").cast("array<double>"), col("query_embedding")),
          roundDigits).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), col("vec_id"))
      .limit(k)
  }

  // ---- near-duplicate pairs -------------------------------------------------

  /** Above this threshold near-dup candidates are generated by AND-composed
    * random-projection banding; below it the similarity threshold sits in
    * the bulk of the pairwise-distance distribution, where NO hashing scheme
    * can prune without losing recall (the collision probability of true
    * pairs approaches that of random pairs), so the exact blocked all-pairs
    * path is both faster and 100%-recall. */
  val BandedThreshold = 0.8

  /** Embedding-cosine near-duplicate pairs: `(vec_a < vec_b, cosine_sim)`
    * for every pair with cosine ≥ `minCosine`. Threshold-adaptive plan:
    * genuine near-dup thresholds (≥ [[BandedThreshold]]) route to the
    * banded LSH self-join ([[cosineNearDupPairsBanded]] — sublinear
    * candidates at scale); loose thresholds route to the exact broadcast
    * scan ([[cosineNearDupPairsExact]] — at such thresholds hashing cannot
    * separate candidates from the bulk, so honesty beats machinery).
    *
    * DUPLICATION-AWARE, same argument as [[embeddingClusters]]: cosine is
    * a pure function of the vector values, so byte-identical embeddings
    * are collapsed BEFORE the quadratic stage (group key = the embedding
    * array itself, exact equality) and the scored representative pairs are
    * expanded back to member pairs afterwards. A duplicate d-clique
    * multiplies the naive pair-scan's work by d² (the 30× sweep measured
    * q35 at 55 s, ~11× its sf1 wall, with d = 30); here it costs one
    * scored row plus an output-sized explode. Within-group pairs go
    * through the SAME `cosine ≥ τ` filter on the group's own vector, so
    * edge semantics (including the zero vector's NaN self-cosine) are
    * byte-identical to the naive all-pairs scan. */
  def cosineNearDupPairs(embeddings: DataFrame, minCosine: Double = 0.95,
      roundDigits: Int = 6): DataFrame = {
    val groups = embeddings
      .groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("__rep"),
        sort_array(collect_list(col("vec_id"))).as("__members"))
    val reps = groups.select(col("__rep").as("vec_id"), col("embedding"))
    val repPairs =
      if (minCosine >= BandedThreshold)
        cosineNearDupPairsBanded(reps, minCosine, roundDigits = roundDigits)
      else cosineNearDupPairsExact(reps, minCosine, roundDigits)
    val memberOf = groups.select(col("__rep"), col("__members"))
    // Cross-group expansion: each scored rep pair fans out to all member
    // cross pairs (groups are disjoint, so every unordered pair appears
    // exactly once; least/greatest restores the vec_a < vec_b convention).
    val cross = repPairs
      .join(memberOf.select(col("__rep").as("vec_a"), col("__members").as("__ma")),
        Seq("vec_a"))
      .join(memberOf.select(col("__rep").as("vec_b"), col("__members").as("__mb")),
        Seq("vec_b"))
      .select(explode(col("__ma")).as("a"), col("__mb"), col("cosine_sim"))
      .select(col("a"), explode(col("__mb")).as("b"), col("cosine_sim"))
      .select(least(col("a"), col("b")).as("vec_a"),
        greatest(col("a"), col("b")).as("vec_b"), col("cosine_sim"))
    // Within-group pairs: the group's self-cosine through the SAME filter
    // expression as the pairwise path (NaN semantics included), expanded
    // to each of the C(m, 2) member pairs.
    val within = groups
      .filter(size(col("__members")) > 1)
      .withColumn("__cos", cosine(col("embedding"), col("embedding")))
      .filter(col("__cos") >= minCosine)
      .select(col("__members"), round(col("__cos"), roundDigits).as("cosine_sim"))
      .select(explode(col("__members")).as("a"), col("__members"), col("cosine_sim"))
      .select(col("a"), explode(col("__members")).as("b"), col("cosine_sim"))
      .filter(col("a") < col("b"))
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("cosine_sim"))
    cross.unionByName(within).orderBy("vec_a", "vec_b")
  }

  /** Shared tail of the near-dup ops: exact cosine, threshold filter on the
    * unrounded value, fixed output precision (cross-engine comparability —
    * same convention as [[bruteForceTopK]]), total deterministic order. */
  private def thresholdedPairs(cands: DataFrame, minCosine: Double,
      roundDigits: Int): DataFrame =
    cands
      .withColumn("__cos", cosine(col("emb_a"), col("emb_b")))
      .filter(col("__cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"),
        round(col("__cos"), roundDigits).as("cosine_sim"))
      .orderBy("vec_a", "vec_b")

  /** Exact all-pairs cosine near-dup join: one side broadcast, streamed side
    * scans once, the codegen'd cosine + threshold filter run inside the
    * join stage — Θ(N²/2) fused-loop evaluations and nothing else (no
    * explode, no shuffle, no candidate materialization).
    *
    * Scale posture: quadratic by necessity — at thresholds inside the bulk
    * of the similarity distribution every pair is a candidate under any
    * scheme (verified against this corpus: 8-table OR-amplified LSH at
    * minCosine 0.4 still evaluated ~93% of all pairs, through far heavier
    * machinery). The broadcast side bounds the regime: for corpora beyond
    * broadcast size use [[cosineNearDupPairsBanded]] with a true near-dup
    * threshold, or pre-cluster (IVF cells) and run this within cells. */
  def cosineNearDupPairsExact(embeddings: DataFrame, minCosine: Double,
      roundDigits: Int = 6): DataFrame = {
    val left = graft.ops.Partitioning.spread(embeddings)
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val right = embeddings.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val cands = left.join(broadcast(right), col("vec_a") < col("vec_b"))
    thresholdedPairs(cands, minCosine, roundDigits)
  }

  /** Banded (AND-OR amplified) random-projection near-dup self-join — the
    * 100 TB path for true near-dup thresholds.
    *
    * Each of `numTables` hash tables keys a vector by the concatenation
    * (AND-composition) of `bandsPerTable` quantized unit-sphere projections:
    * collision requires agreement on EVERY band, which drives random-pair
    * collision down multiplicatively while near-identical vectors (unit-
    * projection gap σ ≈ d/√dim, tiny for near-dups) still collide with
    * probability ≈ (1 − gap/w)^bands per table; OR-ing `numTables` tables
    * restores recall exponentially. Candidates join on the composite key
    * (equi-join, never cartesian), are deduped across tables, then pass the
    * exact codegen'd cosine filter — so precision is always exact and only
    * recall is probabilistic. Defaults give ≥99.9% per-pair recall at
    * cosine ≥ 0.9 (gap σ ≈ 0.056, w = 0.3) with ~13× fewer candidates than
    * OR-only single-projection tables at the same recall. */
  def cosineNearDupPairsBanded(embeddings: DataFrame, minCosine: Double,
      numTables: Int = 6, bandsPerTable: Int = 2, bucketWidth: Double = 0.3,
      seed: Long = 42L, roundDigits: Int = 6): DataFrame = {
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    val rng = new scala.util.Random(seed)
    val dirs: Array[Array[Double]] = Array.fill(numTables * bandsPerTable) {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // Unit-sphere projections: dot(x, dir)/‖x‖ — norm materialized once per
    // row, every dot a codegen'd fused loop against a literal direction.
    val withNorm = graft.ops.Partitioning.spread(embeddings)
      .select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("__nrm"))
    val tableKeys = array((0 until numTables).map { t =>
      concat_ws(":", (0 until bandsPerTable).map { b =>
        floor(dot(col("embedding"), typedLit(dirs(t * bandsPerTable + b).toSeq))
          / (col("__nrm") * bucketWidth)).cast("long").cast("string")
      }: _*)
    }: _*)
    val exploded = withNorm
      .select(col("vec_id"), col("embedding"), posexplode(tableKeys).as(Seq("t", "key")))
    val a = exploded.select(col("t"), col("key"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = exploded.select(col("t"), col("key"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val cands = a.join(b, Seq("t", "key"))
      .filter(col("vec_a") < col("vec_b"))
      // One candidate per pair regardless of how many tables it collided in.
      .dropDuplicates("vec_a", "vec_b")
    thresholdedPairs(cands, minCosine, roundDigits)
  }

  /** Connected-component clustering of the cosine ≥ `minCosine` pair graph:
    * every vector labeled with its component's min vec_id (q69).
    *
    * Duplication-aware, same argument as
    * [[graft.dedup.Dedup.minHashDedup]]: cosine is a pure function of the
    * vector values, so byte-identical embeddings are collapsed BEFORE the
    * quadratic pair stage — the group key is the embedding array ITSELF
    * (exact equality, no hash), the pair graph runs over distinct vectors
    * only, and members inherit their representative's component label. A
    * duplicate d-clique contributes d²/2 edges to the naive graph (the
    * 30x sweep measured q69's edge set growing 9.7x for 3x data); here it
    * contributes one node. Components are invariant: cosine(v, v) = 1 ≥
    * any threshold, so copies are fully connected to their rep — EXCEPT
    * the zero vector, whose self-cosine is NaN (0/0): the naive graph
    * leaves every zero-vector copy a singleton, so zero-norm members keep
    * their own id as the label instead of inheriting the rep's. */
  def embeddingClusters(embeddings: DataFrame, minCosine: Double): DataFrame = {
    val groups = embeddings.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rid"))
    val reps = groups.select(col("rid").as("vec_id"), col("embedding"))
    // Reps are already distinct vectors — go straight to the scored pair
    // paths (the duplication-aware wrapper would re-collapse a no-op).
    val pairs = (if (minCosine >= BandedThreshold)
        cosineNearDupPairsBanded(reps, minCosine)
      else cosineNearDupPairsExact(reps, minCosine))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val repLabels = graft.dedup.Dedup.clusterPairs(
        reps.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("rid"), col("cluster_id"))
    val zeroNorm = expr(
      "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))") === 0.0
    embeddings.select(col("vec_id"), col("embedding"))
      .join(groups, Seq("embedding"))
      .join(repLabels, Seq("rid"))
      .select(col("vec_id"),
        when(zeroNorm, col("vec_id")).otherwise(col("cluster_id")).as("cluster_id"))
      .withColumn("is_representative", col("vec_id") === col("cluster_id"))
      .orderBy("vec_id")
  }
}
