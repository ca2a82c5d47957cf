package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping over plain parquet (the Delta data-skipping
  * stats analog): a manifest of per-file min/max for chosen columns,
  * consulted BEFORE the scan so non-matching files are never listed into
  * the plan at all.
  *
  * Parquet footers already carry row-group min/max — but at 100 TB the
  * scan must still LIST and OPEN every file to learn its footer says
  * "skip me". The manifest moves that knowledge into one tiny sidecar:
  * planning cost becomes O(manifest) instead of O(files), which is the
  * difference between milliseconds and a storage-metadata storm on a
  * 10⁵-file table. Delta/Iceberg keep exactly these stats in their
  * logs/manifests; this is the same design over a plain directory.
  *
  * Composes with [[Layout.zorderWrite]]: clustering gives every file a
  * tight bounding box in the indexed dimensions, which is what makes the
  * min/max intervals selective.
  *
  * Correctness: pruning by [min,max] intersection admits a SUPERSET of
  * matching files; [[prunedRead]] therefore re-applies the exact
  * predicate after the pruned scan — results are provably identical to a
  * full scan + filter (q90 hash-matches that oracle).
  */
object DataSkipping {

  val ManifestFile = "_graft_skipping.json"

  /** Per-file min/max stats for `cols` — one distributed aggregation
    * grouped by file. Driver materializes only (file × cols) stats. */
  def fileStats(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one indexed column")
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    graft.Tables.parquet(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Sorted `name:length` fingerprint of the directory's data files —
    * what the manifest describes. Parquet rewrites produce fresh random
    * part names, so any add/remove/rewrite changes this listing. */
  private def dataFileListing(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(dirPath).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(st => s"${st.getPath.getName}:${st.getLen}")
      .sorted

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Build + persist the manifest sidecar for `dir`. Call after every
    * rewrite of the directory (layout jobs, compaction). The header line
    * records the directory's data-file listing so a stale manifest is a
    * loud read-time error, not a silent wrong answer. */
  def writeManifest(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    val stats = fileStats(spark, dir, cols)
    // JSON-lines via Spark's own JSON writer to a temp dir, then collapse
    // to the sidecar file (manifests are small by construction).
    val rows = stats.toJSON.collect()
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ManifestFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val header = dataFileListing(fs, p.getParent)
      .map(jsonStr).mkString("{\"graft_skipping_files\":[", ",", "]}")
    val out = fs.create(p, true)
    out.write(((header +: rows).mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
  }

  /** The manifest as a DataFrame (file, min_c, max_c, ...). Fails loudly
    * when the directory's data files no longer match the header listing:
    * pruning against a stale manifest silently drops files added or
    * rewritten since writeManifest, which is a wrong answer, not a
    * performance detail. */
  def readManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$dir/$ManifestFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no skipping manifest at $p — run writeManifest first")
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = raw.split("\n").filter(_.nonEmpty).toSeq
    require(lines.nonEmpty, s"empty skipping manifest at $p — rerun writeManifest")
    if (lines.head.contains("\"graft_skipping_files\"")) {
      val recorded = spark.read.json(Seq(lines.head).toDS())
        .select(explode(col("graft_skipping_files")))
        .collect().map(_.getString(0)).toSeq.sorted
      val current = dataFileListing(fs, p.getParent)
      require(recorded == current,
        s"stale skipping manifest at $p: directory changed since writeManifest " +
          s"(recorded ${recorded.size} files, found ${current.size}; " +
          s"added=${(current.toSet -- recorded).take(3)} removed=${(recorded.toSet -- current).take(3)}) " +
          "— rerun writeManifest after every rewrite of the directory")
      spark.read.json(lines.tail.toDS())
    } else {
      // Legacy manifest (written before the header existed): staleness
      // can't be verified, which is a risk the operator should hear about
      // — but turning every pre-existing manifest into a read error is a
      // breaking format change (round-4 ADVICE). Warn and serve it;
      // rewriting via writeManifest upgrades it in place.
      System.err.println(s"[graft] WARN: skipping manifest at $p predates " +
        "staleness tracking — cannot verify it matches the directory; " +
        "rerun writeManifest to upgrade it")
      spark.read.json(lines.toDS())
    }
  }

  /** Closed-interval range predicates per indexed column: `col -> (lo, hi)`. */
  type Ranges = Map[String, (Any, Any)]

  /** Files whose [min,max] interval intersects every requested range —
    * the candidate superset a pruning scan must touch. */
  def candidateFiles(spark: SparkSession, dir: String, ranges: Ranges): Seq[String] = {
    val manifest = readManifest(spark, dir)
    val keep = ranges.map { case (c, (lo, hi)) =>
      require(manifest.columns.contains(s"min_$c"),
        s"column $c is not indexed in the manifest")
      // Interval intersection: file range [min,max] meets query range
      // [lo,hi] unless disjoint. Null stats (all-null file) never match a
      // range predicate — a range query can't select null anyway.
      col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)
    }.reduce(_ && _)
    manifest.filter(keep).select("file").collect().map(_.getString(0)).toSeq
  }

  /** Range scan through the manifest: prune files driver-side, read only
    * the survivors, re-apply the exact predicate (pruning is a superset).
    * Returns an empty frame with the directory's schema when nothing can
    * match. */
  def prunedRead(spark: SparkSession, dir: String, ranges: Ranges): DataFrame = {
    val files = candidateFiles(spark, dir, ranges)
    val residual = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (files.isEmpty)
      graft.Tables.parquet(spark, dir).filter(lit(false)) // schema-preserving empty
    else
      spark.read.parquet(files: _*).filter(residual)
  }
}
