package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Tables.parquet]] infers a path's schema once per (path, glob,
  * inference confs) and reuses it while the path's data files are
  * unchanged: a repeat read launches no Spark job, and it reads exactly
  * what a plain `spark.read.parquet` reads. */
class SchemaResolutionSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `read`, run after an earlier read of the same path, launches no job
    * and equals `plain`. */
  private def assertMemoHit(read: => DataFrame, plain: => DataFrame): Unit = {
    val (df, jobs) = jobsDuring(read)
    assert(jobs.isEmpty, s"repeat read launched ${jobs.size} job(s)")
    assert(df.schema == plain.schema)
    assert(rows(df) == rows(plain))
  }

  test("a repeat read launches no job and equals the plain read, nullability included") {
    val dir = tempDir("schema_plain")
    // Non-nullable columns: Spark writes them REQUIRED, and a plain read
    // reports them nullable; the memo must report the same.
    spark.range(0, 50).select(col("id"), (col("id") * 2).as("twice"),
        lit("x").as("tag"), when(col("id") > 5, col("id")).as("maybe"))
      .write.mode("overwrite").parquet(s"$dir/t")
    val (_, first) = jobsDuring(Tables.parquet(spark, s"$dir/t"))
    assert(first.nonEmpty, "the first read should infer the schema")
    assertMemoHit(Tables.parquet(spark, s"$dir/t"), spark.read.parquet(s"$dir/t"))
    assert(Tables.parquet(spark, s"$dir/t").schema.fields.map(_.nullable).forall(identity))
  }

  test("a rewrite that adds a column is seen") {
    val dir = tempDir("schema_rewrite")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t")
    assert(Tables.parquet(spark, s"$dir/t").columns.toSeq == Seq("k", "v"))
    Seq((1L, "a", 1.5), (3L, "c", 2.5)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t")
    val after = Tables.parquet(spark, s"$dir/t")
    assert(after.columns.toSeq == Seq("k", "v", "w"))
    assert(rows(after) == Seq("1|a|1.5", "3|c|2.5"))
  }

  test("glob and non-glob reads of one dir keep separate entries") {
    val dir = tempDir("schema_glob")
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/stage_a")
    Seq((2L, 2.0)).toDF("id", "w").coalesce(1).write.parquet(s"$dir/stage_b")
    def only(sub: String, as: String): Unit = {
      val part = Files.list(Paths.get(s"$dir/$sub")).iterator()
      while (part.hasNext) {
        val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet"))
          Files.copy(f, Paths.get(s"$dir/t/$as"), StandardCopyOption.REPLACE_EXISTING)
      }
    }
    Files.createDirectories(Paths.get(s"$dir/t"))
    only("stage_a", "events_0.parquet")
    only("stage_b", "other.parquet")
    val globbed = Tables.parquet(spark, s"$dir/t", Some("events*.parquet"))
    assert(globbed.columns.toSeq == Seq("id", "v"))
    assert(rows(globbed) == Seq("1|a"))
    Tables.parquet(spark, s"$dir/t")
    // Had the unfiltered read replaced the glob entry, this would infer.
    assertMemoHit(Tables.parquet(spark, s"$dir/t", Some("events*.parquet")),
      spark.read.option("pathGlobFilter", "events*.parquet").parquet(s"$dir/t"))
    assertMemoHit(Tables.parquet(spark, s"$dir/t"), spark.read.parquet(s"$dir/t"))
  }

  test("inference confs are part of the key: nanosAsLong unset vs true, inferTimestampNTZ") {
    // A copy of the generated events fixture (not written by Spark, so
    // its footer carries no Spark schema and the confs govern inference).
    val dir = tempDir("schema_confs")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"))
    val path = s"$dir/events.parquet"
    val unset = spark.newSession()
    unset.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val nanos = spark.newSession()
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.parquet(unset, path)
    val (_, second) = jobsDuring(Tables.parquet(nanos, path))
    assert(second.nonEmpty, "nanosAsLong=true shared the unset entry")
    assertMemoHit(Tables.parquet(unset, path), unset.read.parquet(path))
    assertMemoHit(Tables.parquet(nanos, path), nanos.read.parquet(path))
    // A conf that changes the inferred type is honoured per entry.
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.parquet(ltz, path).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(Tables.parquet(unset, path).schema("ts").dataType ==
      unset.read.parquet(path).schema("ts").dataType)
    assertMemoHit(Tables.parquet(ltz, path), ltz.read.parquet(path))
  }

  test("a hive-partitioned dir (cell=N/) reads like the plain read") {
    val dir = tempDir("schema_hive")
    spark.range(0, 40).select(col("id").as("vec_id"), (col("id") % 4).cast("int").as("cell"),
        (col("id") * 0.5).as("x"))
      .write.partitionBy("cell").parquet(s"$dir/assigned")
    Tables.parquet(spark, s"$dir/assigned")
    assertMemoHit(Tables.parquet(spark, s"$dir/assigned"), spark.read.parquet(s"$dir/assigned"))
    assert(Tables.parquet(spark, s"$dir/assigned").columns.last == "cell")
    // Partition pruning still works off the memoized schema.
    assert(Tables.parquet(spark, s"$dir/assigned").filter(col("cell") === 2).count() == 10)
  }

  test("a _temporary/ subdir is ignored") {
    val dir = tempDir("schema_tmp")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t")
    Tables.parquet(spark, s"$dir/t")
    // An in-flight writer's attempt files (different schema) appear.
    Seq((9L, 9.0, true)).toDF("k", "z", "flag").coalesce(1)
      .write.parquet(s"$dir/t/_temporary/0/task_0")
    assertMemoHit(Tables.parquet(spark, s"$dir/t"), spark.read.parquet(s"$dir/t"))
    assert(Tables.parquet(spark, s"$dir/t").columns.toSeq == Seq("k", "v"))
  }

  test("a missing path fails like the plain read") {
    val dir = tempDir("schema_missing")
    val plain = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(s"$dir/absent"))
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      Tables.parquet(spark, s"$dir/absent"))
    assert(ours.getCondition == plain.getCondition)
  }
}
