package graft

import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated parquet star schema
  * (/root/testdata/sf*; see TESTDATA.md / FIXTURES.md §2).
  * All queries receive `sfDir` and resolve tables through here so the
  * read path (format, options) is defined in exactly one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Session confs that change what parquet schema inference returns for
    * the same files; each is part of the [[parquet]] memo key. */
  private val inferenceConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)

  private type SchemaKey = (String, Option[String], Seq[String])

  /** Most schema entries kept; past it the least recently read is dropped
    * (and re-inferred if read again). Version and artifact-generation
    * paths are never reused once superseded, so without a bound a
    * long-lived process that keeps rewriting tables would keep one dead
    * entry per old version. */
  private val MaxSchemas = 1024

  /** (path, glob, effective inference confs) → (data-file listing,
    * schema), least recently read first; guarded by its own lock. */
  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, (Seq[String], StructType)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, (Seq[String], StructType)]): Boolean =
        size() > MaxSchemas
    }

  /** Read the parquet data under `path` (a file or a directory, hive
    * partition dirs included), keeping only files whose name matches
    * `glob` when given (Spark's `pathGlobFilter`). Every single-path
    * parquet read goes through here.
    *
    * The schema is a pure function of a table version, so it is inferred
    * once per (path, glob, inference confs) — a footer-reading Spark job —
    * and reused, via `.schema(..)`, while the path's data-file listing
    * (name, length, mtime) is unchanged: the Delta rule of taking the
    * schema from table metadata rather than from file footers on every
    * query. Any rewrite changes the listing and re-infers. The rows are
    * never memoized; every call scans. A missing or empty path falls
    * through to the plain read and its error. At most [[MaxSchemas]] entries are kept, least recently read out
    * first. */
  def parquet(spark: SparkSession, path: String, glob: Option[String] = None): DataFrame = {
    val reader = glob.fold(spark.read)(g => spark.read.option("pathGlobFilter", g))
    val files = dataFiles(spark, path, glob)
    val key = (path, glob, inferenceConfs.map(e => spark.conf.get(e.key, e.defaultValueString)))
    if (files.isEmpty) reader.parquet(path)
    else schemas.synchronized(Option(schemas.get(key))) match {
      case Some((`files`, schema)) => reader.schema(schema).parquet(path)
      case _ =>
        val df = reader.parquet(path)
        schemas.synchronized(schemas.put(key, (files, df.schema)))
        df
    }
  }

  /** Sorted `relative/path:length:mtime` of the data files a read of
    * `path` scans: `_`/`.` components are skipped as `InMemoryFileIndex`
    * skips them (`_temporary/`, `_SUCCESS`, `.crc`, sidecars), except
    * `key=value` partition dirs. Empty when the path does not exist. The
    * one listing-based staleness rule: [[ArtifactMemo.tableFingerprint]]
    * joins this listing. */
  private[graft] def dataFiles(spark: SparkSession, path: String, glob: Option[String]): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filter = glob.map(new GlobFilter(_))
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    if (!fs.exists(root)) Nil
    else {
      val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
      val out = Seq.newBuilder[String]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        if (!rel.split('/').exists(hidden) && filter.forall(_.accept(f.getPath)))
          out += s"$rel:${f.getLen}:${f.getModificationTime}"
      }
      out.result().sorted
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** The events fixture has shipped with two physical `ts` encodings across
    * driver generations: parquet TIMESTAMP(NANOS) — which Spark can only
    * read as raw int64 via the legacy conf (PARQUET_TYPE_ILLEGAL otherwise)
    * — and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which reads
    * as TIMESTAMP_NTZ. Normalize both to session TimestampType so every
    * consumer is encoding-agnostic: nanos floor-divide to micros (the same
    * truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP), and NTZ
    * casts 1:1 under the fixed UTC session zone. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType (see [[events]]). */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
