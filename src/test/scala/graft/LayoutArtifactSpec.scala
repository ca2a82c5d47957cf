package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DataSkipping, Layout}

/** [[Layout.clusteredCopy]]: the z-ordered copy of a table is built once
  * per source version and reused; the z-order queries scan it. Every test
  * writes its own lineitem into a fresh sfDir, so the process-wide memo
  * starts cold for it. */
class LayoutArtifactSpec extends SparkSpec {

  private val Z2 = Seq("l_partkey", "l_suppkey")
  private val Z3 = Seq("l_partkey", "l_suppkey", "l_quantity")

  /** A lineitem with the columns (and types) the z-order queries use. */
  private def writeLineitem(sfDir: String, n: Long, salt: Long): DataFrame = {
    val df = spark.range(0, n).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pmod(col("id") * 7 + lit(salt), lit(300)) + 1).as("l_partkey"),
      (pmod(col("id") * 13 + lit(salt), lit(12)) + 1).as("l_suppkey"),
      (pmod(col("id") * 5 + lit(salt), lit(50)) + 1).cast("double").as("l_quantity"))
    df.write.mode("overwrite").parquet(s"$sfDir/lineitem.parquet")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def parentDirs(df: DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).toSet

  private def hasManifest(copy: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$copy/${DataSkipping.ManifestFile}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  test("a memo hit returns the same path and launches no job") {
    val sfDir = tempDir("layout_hit")
    writeLineitem(sfDir, 4000, 0)
    val built = Layout.clusteredCopy(spark, sfDir, "lineitem", Z3)
    val (again, jobs) = jobsDuring(Layout.clusteredCopy(spark, sfDir, "lineitem", Z3))
    assert(again == built)
    assert(jobs.isEmpty, s"memo hit launched ${jobs.size} job(s)")
    // Another clustering is another artifact.
    assert(Layout.clusteredCopy(spark, sfDir, "lineitem", Z2) != built)
  }

  test("the build labels its jobs and restores the caller's description") {
    val sfDir = tempDir("layout_label")
    writeLineitem(sfDir, 2000, 0)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, jobs) = jobsDuring(Layout.skippingCopy(spark, sfDir, "lineitem", Z2))
      assert(jobs.toSet == Set("zorder:build lineitem(l_partkey,l_suppkey)",
        "zorder:manifest lineitem(l_partkey,l_suppkey)"), jobs.distinct)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("a rewritten source builds a new generation; a reader of the old one still counts") {
    val sfDir = tempDir("layout_gen")
    val v1 = writeLineitem(sfDir, 3000, 0)
    val g1 = Layout.skippingCopy(spark, sfDir, "lineitem", Z2)
    assert(rows(Tables.parquet(spark, g1)) == rows(v1))
    val oldReader = Tables.parquet(spark, g1)
    val v2 = writeLineitem(sfDir, 2000, 17)
    val g2 = Layout.skippingCopy(spark, sfDir, "lineitem", Z2)
    assert(g2 != g1, "a rewritten source was served the old copy")
    assert(rows(Tables.parquet(spark, g2)) == rows(v2))
    // The new generation gets its own manifest, describing its files.
    assert(DataSkipping.readManifest(spark, g2).count() ==
      Tables.parquet(spark, g2).inputFiles.length)
    assert(oldReader.count() == 3000)
  }

  test("q85 and q90 share one 2-D copy, and prunedRead accepts its manifest") {
    val sfDir = tempDir("layout_q85_q90")
    val src = writeLineitem(sfDir, 6000, 3)
    val q85 = SparkEntry.queries("q85_zorder_scan")(spark, sfDir)
    val q90 = SparkEntry.queries("q90_skipping_scan")(spark, sfDir)
    val copy = Layout.clusteredCopy(spark, sfDir, "lineitem", Z2)
    val copyDir = new org.apache.hadoop.fs.Path(copy).toUri.getPath
    assert(parentDirs(q85).map(new org.apache.hadoop.fs.Path(_).toUri.getPath) == Set(copyDir))
    assert(parentDirs(q90).map(new org.apache.hadoop.fs.Path(_).toUri.getPath) == Set(copyDir))
    assert(DataSkipping.readManifest(spark, copy).count() ==
      Tables.parquet(spark, copy).inputFiles.length)
    val (again, jobs) = jobsDuring(Layout.skippingCopy(spark, sfDir, "lineitem", Z2))
    assert(again == copy)
    assert(jobs.isEmpty, s"a manifested copy launched ${jobs.size} job(s)")
    val box90 = src.filter(col("l_partkey").between(1, 60) && col("l_suppkey").between(1, 3))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    assert(q90.count() > 0)
    assert(rows(q90) == rows(box90))
    val box85 = src.filter(col("l_partkey").between(1, 100) && col("l_suppkey").between(1, 5))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    assert(rows(q85) == rows(box85))
  }

  test("q103's rows equal the same box on the original table") {
    val sfDir = tempDir("layout_q103")
    val src = writeLineitem(sfDir, 6000, 5)
    val got = SparkEntry.queries("q103_zorder_nd_scan")(spark, sfDir)
    val want = src.filter(col("l_partkey").between(1, 100) && col("l_suppkey").between(1, 5) &&
        col("l_quantity").between(1, 25))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    assert(want.count() > 0)
    assert(rows(got) == rows(want))
    // No pruned read uses the 3-D copy, so it carries no manifest.
    assert(!hasManifest(Layout.clusteredCopy(spark, sfDir, "lineitem", Z3)))
  }
}
