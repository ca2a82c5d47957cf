package graft.ml

import scala.collection.concurrent.TrieMap

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{MutableProjection, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.types.{StructField, StructType}
import org.json4s.{DefaultFormats, Extraction, Formats, JArray, JNothing, JObject, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.fs.{FeatureLookup, FeatureResolver, LookupHint, TrainingSet}
import graft.ml.Metrics.ClassificationMetrics
import graft.ml.Trainer.TrainParams

/** Batch scoring with automated feature enrichment — the reference's
  * `score_batch` semantics (implied by fs.log_model packaging the training
  * set's lookups with the model, notebooks/02_model_training.py:478-484;
  * README.md:100 "Automated Feature Joins"): inference rows carrying only
  * keys are enriched by replaying the model's FeatureLookups, then scored.
  *
  * Persistence (reference M5, MLflow registry): `save` writes the
  * PipelineModel plus a sidecar JSON of its lookups AND a metrics/params
  * sidecar (the reference logs metrics, params and artifacts next to the
  * registered model, notebooks/02_model_training.py:446-467), so a user
  * reloading a model sees what it scored at train time — registry semantics
  * without MLflow.
  */
final case class ScoringModel(
    model: PipelineModel,
    lookups: Seq[FeatureLookup],
    metrics: Option[ClassificationMetrics] = None,
    params: Option[TrainParams] = None) {

  /** Enrich + score: fold of left lookup joins, then model.transform —
    * one distributed plan, no driver boundary (contrast the reference's
    * toPandas at 02_model_training.py:250). */
  def scoreBatch(store: FeatureResolver, input: DataFrame): DataFrame = {
    val enriched = TrainingSet.fromStore(store, input, lookups).loadDf
    model.transform(enriched)
  }

  /** Single-key scoring — the batch engine's analog of the reference's
    * online inference (model served against the low-latency store,
    * reference README.md:110-116). Features come from the store's
    * broadcast point index ([[graft.fs.FeatureResolver.lookupOne]]) — an
    * in-memory hash probe after warm-up, no per-call table scan. Missing
    * keys contribute nulls, exactly scoreBatch's left-join semantics, and
    * the result equals the matching [[scoreBatch]] row.
    *
    * Prepared plan: the first call for a given single-row input schema runs
    * `model.transform` over an empty placeholder of that schema, takes the
    * optimized plan and binds each of its nodes once (a Spark planning pass,
    * ~0.1-0.25 s). Every later call evaluates the bound nodes on one row in the
    * calling thread — tens of microseconds, no Spark plan and no job. The
    * pipeline must therefore be row-wise: its optimized plan may hold only
    * `Project`s and `Filter`s (a filtered-out row returns None). A stage
    * that aggregates, joins, sorts or reads other data is refused with an
    * IllegalArgumentException; score such a model with [[scoreBatch]].
    * Point-in-time lookups need the full as-of machinery — use
    * [[scoreBatch]] for those too.
    *
    * Thread-safe: bound projections are mutable, so each calling thread
    * binds its own copy of the prepared plan. */
  def scoreOne(store: FeatureResolver, input: Map[String, Any]): Option[Row] = {
    require(lookups.forall(_.timestampLookupKey.isEmpty),
      "scoreOne supports untimed lookups only — point-in-time enrichment needs scoreBatch")
    val inputSeq = input.toSeq
    val inputFields = inputSeq.map { case (k, v) =>
      StructField(k, ScoringModel.typeOf(v), nullable = true) }
    val featParts = lookups.map { lk =>
      val keyValue = input.getOrElse(lk.lookupKey,
        sys.error(s"scoreOne: input is missing lookup key '${lk.lookupKey}'"))
      val tableSchema = store.getTable(lk.tableName).schema
      val rowOpt = store.lookupOne(lk.tableName, keyValue)
      val fields = lk.featureNames.map { f =>
        StructField(lk.renames.getOrElse(f, f), tableSchema(f).dataType, nullable = true) }
      val values = lk.featureNames.map { f =>
        rowOpt.map(r => r.get(r.fieldIndex(f))).orNull }
      (fields, values)
    }
    val schema = StructType(inputFields ++ featParts.flatMap(_._1))
    val row = Row.fromSeq(inputSeq.map(_._2) ++ featParts.flatMap(_._2))
    prepared.getOrElseUpdate(schema, ScoringModel.prepare(model, schema))(row)
  }

  /** Prepared single-row scorers, one per input schema (see [[scoreOne]]). */
  @transient private lazy val prepared = TrieMap.empty[StructType, Row => Option[Row]]

  /** Lossless lookup persistence (hint and renames included) with a real
    * JSON writer — names containing quotes/commas survive the round-trip.
    * Train-time metrics and params ride in `metrics.json` when present. */
  def save(path: String): Unit = {
    import ScoringModel.jsonFormats
    model.write.overwrite().save(s"$path/model")
    val lookupsJson: JValue = JArray(lookups.map { lk =>
      ("tableName" -> lk.tableName) ~
        ("featureNames" -> lk.featureNames) ~
        ("lookupKey" -> lk.lookupKey) ~
        ("tableKey" -> lk.tableKey) ~
        ("hint" -> ScoringModel.hintName(lk.hint)) ~
        ("renames" -> lk.renames) ~
        ("timestampLookupKey" -> lk.timestampLookupKey) ~
        ("tableTimestampKey" -> lk.tableTimestampKey)
    }.toList)
    ScoringModel.writeText(s"$path/lookups.json",
      JsonMethods.compact(JsonMethods.render(lookupsJson)))
    if (metrics.nonEmpty || params.nonEmpty) {
      val sidecar: JValue =
        ("metrics" -> metrics.map(Extraction.decompose).getOrElse(JNothing: JValue)) ~
          ("params" -> params.map(Extraction.decompose).getOrElse(JNothing: JValue))
      ScoringModel.writeText(s"$path/metrics.json",
        JsonMethods.compact(JsonMethods.render(sidecar)))
    }
  }
}

object ScoringModel {

  private[ml] implicit val jsonFormats: Formats = DefaultFormats

  /** Runtime Scala value -> Spark type, for assembling scoreOne's
    * single-row input from a plain Map (the key/passthrough columns; the
    * feature columns take their types from the table schema). */
  private[ml] def typeOf(v: Any): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    v match {
      case _: java.lang.Integer => IntegerType
      case _: java.lang.Long => LongType
      case _: java.lang.Short => ShortType
      case _: java.lang.Double => DoubleType
      case _: java.lang.Float => FloatType
      case _: java.lang.Boolean => BooleanType
      case _: java.math.BigDecimal => DecimalType(38, 18)
      case _: scala.math.BigDecimal => DecimalType(38, 18)
      case _: java.sql.Timestamp => TimestampType
      case _: java.sql.Date => DateType
      case _: java.lang.Byte => ByteType
      case _: String => StringType
      case null => throw new IllegalArgumentException(
        "scoreOne input values must be non-null: a null carries no runtime " +
          "type, and a guessed column type would fail later inside the " +
          "pipeline with a confusing cast error. " +
          "Pass a typed value, or drop the column and let the lookup fill it.")
      case other => throw new IllegalArgumentException(
        s"scoreOne input value $other has unsupported type ${other.getClass.getName}; " +
          "pass a String, a boxed numeric or Boolean, a BigDecimal, a " +
          "java.sql.Timestamp or a java.sql.Date")
    }
  }

  private type Step = InternalRow => Option[InternalRow]

  /** `model` compiled for one single-row input schema: the optimized plan
    * of `model.transform` over an empty placeholder, as a bottom-up chain of
    * `Project`/`Filter` steps. The placeholder is a `LogicalRDD`
    * (`createDataFrame(emptyRDD, schema)`), which the optimizer cannot fold
    * away the way it folds an empty `LocalRelation`. */
  private def prepare(model: PipelineModel, inputSchema: StructType): Row => Option[Row] = {
    val spark = SparkSession.active
    val placeholder = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], inputSchema)
    val leafIds = placeholder.queryExecution.analyzed.output.map(_.exprId)
    val transformed = model.transform(placeholder)
    def chain(plan: LogicalPlan): List[() => Step] = plan match {
      case Project(projectList, child) =>
        (() => {
          val p = MutableProjection.create(projectList, child.output)
          p.initialize(0)
          (r: InternalRow) => Some(p(r))
        }) :: chain(child)
      case Filter(condition, child) =>
        (() => {
          val p = Predicate.create(condition, child.output)
          p.initialize(0)
          (r: InternalRow) => Option.when(p.eval(r))(r)
        }) :: chain(child)
      case leaf: LeafNode if leaf.output.map(_.exprId) == leafIds => Nil
      case other => throw new IllegalArgumentException(
        "scoreOne needs a row-wise pipeline (Project/Filter plan nodes only), " +
          s"but the model's plan holds ${other.nodeName}; score this model with scoreBatch")
    }
    val binders = chain(transformed.queryExecution.optimizedPlan).reverse
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(inputSchema)
    val toScala = CatalystTypeConverters.createToScalaConverter(transformed.schema)
    // Bound projections reuse their output row, so every thread binds its own.
    val steps = ThreadLocal.withInitial[Seq[Step]](() => binders.map(_()))
    row => steps.get().foldLeft(Option(toCatalyst(row).asInstanceOf[InternalRow]))(_ flatMap _)
      .map(toScala(_).asInstanceOf[Row])
  }

  private[ml] def hintName(h: LookupHint): String = h match {
    case LookupHint.Broadcast => "broadcast"
    case LookupHint.Auto      => "auto"
  }

  private def hintOf(name: String): LookupHint = name match {
    case "broadcast" => LookupHint.Broadcast
    case _           => LookupHint.Auto
  }

  private def writeText(pathStr: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def readText(spark: SparkSession, pathStr: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    }
  }

  /** Load a persisted model. Forward-compatible with sidecars written by
    * earlier releases: `hint`/`renames`/`tableKey` fall back to their
    * defaults when absent (older lookups.json stays loadable), and a missing
    * metrics.json just yields metrics = params = None. */
  def load(spark: SparkSession, path: String): ScoringModel = {
    val model = PipelineModel.load(s"$path/model")
    val raw = readText(spark, s"$path/lookups.json")
      .getOrElse(sys.error(s"$path/lookups.json not found"))
    val lookups = JsonMethods.parse(raw) match {
      case JArray(items) => items.collect { case o: JObject =>
        FeatureLookup(
          (o \ "tableName").extract[String],
          (o \ "featureNames").extract[Seq[String]],
          (o \ "lookupKey").extract[String],
          (o \ "tableKey").extractOpt[String],
          (o \ "hint").extractOpt[String].map(hintOf).getOrElse(LookupHint.Auto),
          (o \ "renames").extractOpt[Map[String, String]].getOrElse(Map.empty),
          (o \ "timestampLookupKey").extractOpt[String],
          (o \ "tableTimestampKey").extractOpt[String])
      }
      case other => sys.error(s"lookups.json: expected a JSON array, got $other")
    }
    val (metrics, params) = readText(spark, s"$path/metrics.json") match {
      case None => (None, None)
      case Some(text) =>
        val j = JsonMethods.parse(text)
        ((j \ "metrics").extractOpt[ClassificationMetrics],
          (j \ "params").extractOpt[TrainParams])
    }
    ScoringModel(model, lookups, metrics, params)
  }
}
