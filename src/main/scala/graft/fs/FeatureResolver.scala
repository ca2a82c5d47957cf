package graft.fs

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.concurrent.TrieMap

/** Anything that can resolve a feature table by name — the surface
  * [[TrainingSet]] and batch scoring need. Implemented by the path-backed
  * [[FeatureStore]] and the catalog-backed [[CatalogFeatureStore]], so
  * training-set assembly is storage-agnostic (the reference resolves names
  * through the Databricks FS catalog the same way,
  * notebooks/02_model_training.py:140-148).
  */
trait FeatureResolver {

  def readTable(name: String): DataFrame

  /** Table metadata (primary keys, description, schema). */
  def getTable(name: String): FeatureTable

  protected def resolverSession: SparkSession

  // ---- point lookup (reference J3's batch analog) ---------------------------

  @transient private lazy val pointIndexes =
    TrieMap.empty[String, Broadcast[Map[Seq[Any], Row]]]

  /** Single-key feature retrieval — the batch engine's analog of the
    * reference's online store (`lookup_mode: 'online'`,
    * notebooks/02_model_training.py:77; README.md promises <10 ms per-key
    * retrieval at :110,115-116).
    *
    * Deviation, by design (SURVEY.md §2.3 J3): the reference's number is a
    * managed low-latency KV service; a batch engine has no server to hit.
    * The nearest in-scope artifact is this broadcast map — the table is
    * loaded ONCE per session (bounded: refuses tables above
    * [[FeatureResolver.MaxPointLookupRows]] rows), keyed by its primary-key
    * tuple, and broadcast so both driver-side point reads and executor-side
    * enrichment can share it. After the first (warm-up) call, lookups are an
    * in-memory hash probe — microseconds, no Spark job.
    *
    * `key` is the PK tuple in [[FeatureTable.primaryKeys]] order. Integer
    * key values are matched widened (Int == Long), so
    * `lookupOne("t", 42)` hits a `bigint` key.
    */
  def lookupOne(name: String, key: Any*): Option[Row] = {
    val idx = pointIndexes.getOrElseUpdate(name, buildPointIndex(name))
    idx.value.get(key.map(FeatureResolver.normalizeKeyValue))
  }

  /** Drop the cached broadcast index (call after rewriting the table). */
  def invalidatePointIndex(name: String): Unit =
    pointIndexes.remove(name).foreach(_.destroy())

  private def buildPointIndex(name: String): Broadcast[Map[Seq[Any], Row]] = {
    val ft = getTable(name)
    require(ft.primaryKeys.nonEmpty, s"lookupOne($name): table has no primary keys")
    // Single bounded read: limit(max+1) both enforces the broadcast bound
    // and avoids a separate count job — this is the one place the store
    // intentionally materializes a (dimension) table driver-side.
    val rows = readTable(name)
      .limit((FeatureResolver.MaxPointLookupRows + 1).toInt).collect()
    require(rows.length <= FeatureResolver.MaxPointLookupRows,
      s"lookupOne($name): table exceeds the " +
        s"${FeatureResolver.MaxPointLookupRows}-row broadcast bound — a table " +
        "this size needs a real online store (or a keyed parquet point query)")
    val keyed = rows.map { r =>
      ft.primaryKeys.map(k =>
        FeatureResolver.normalizeKeyValue(r.get(r.fieldIndex(k)))).toSeq -> r
    }.toMap
    resolverSession.sparkContext.broadcast(keyed)
  }

  /** Point read by PREDICATE PUSHDOWN — the path for tables beyond the
    * [[FeatureResolver.MaxPointLookupRows]] broadcast bound, where
    * [[lookupOne]] refuses. One filtered scan, and so one Spark job, per
    * call: the table's schema comes from [[graft.Tables.parquet]]'s
    * per-version memo, so no footer-inference job runs. The PK equality
    * reaches the parquet reader (`PushedFilters` in the plan — asserted by
    * FeatureStoreSpec), so row-group min/max stats skip everything but the
    * groups that can hold the key; on a PK-partitioned or PK-sorted layout
    * the IO approaches one row group. Latency is a scan task, not a hash
    * probe — the trade against [[lookupOne]] is per-call cost vs unbounded
    * table size and zero warm-up. */
  def lookupOneScan(name: String, key: Any*): Option[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val ft = getTable(name)
    require(ft.primaryKeys.nonEmpty, s"lookupOneScan($name): table has no primary keys")
    require(key.length == ft.primaryKeys.length,
      s"lookupOneScan($name): key arity ${key.length} != PK arity ${ft.primaryKeys.length}")
    val pred = ft.primaryKeys.zip(key)
      .map { case (k, v) => col(k) === lit(v) }
      .reduce(_ && _)
    // limit(2): detect (impossible-by-contract) duplicates without ever
    // materializing more than two rows.
    readTable(name).filter(pred).limit(2).collect() match {
      case Array(row) => Some(row)
      case Array()    => None
      case _ => throw new IllegalStateException(
        s"lookupOneScan($name): primary key ${key.mkString(",")} is not unique")
    }
  }
}

object FeatureResolver {

  /** Hard bound on rows a point-lookup index will materialize/broadcast. */
  val MaxPointLookupRows: Long = 2000000L

  /** Widen integral key values so Int/Long (and Float/Double) user keys
    * match the stored column type. */
  private[fs] def normalizeKeyValue(v: Any): Any = v match {
    case b: Byte   => b.toLong
    case s: Short  => s.toLong
    case i: Int    => i.toLong
    case l: Long   => l
    case f: Float  => f.toDouble
    case d: Double => d
    case other     => other
  }
}
