package graft.fs

import org.apache.spark.sql.DataFrame

/** Training-set assembly: labels ⋈ features, keys excluded (reference:
  * notebooks/02_model_training.py:242-250 — `create_training_set(df,
  * feature_lookups, label, exclude_columns)` then `load_df()`).
  *
  * The central operator (SURVEY.md §2.3 J1): a fold of LEFT equi-joins of the
  * label/fact DataFrame against each lookup's projected feature table. Left
  * semantics — fact rows survive missing keys (nulls flow to the model).
  * Because every feature table's PK is unique ([[FeatureStore.createTable]]
  * enforces it), the joins are N:1 and never multiply fact rows.
  *
  * Scale notes: the fact side streams; each dimension side is projected to
  * (key + features) before the join so Catalyst broadcasts small dims and
  * AQE handles the rest. Nothing is collected to the driver — `loadDf` stays
  * a lazy distributed plan (the reference's `.toPandas()` at
  * 02_model_training.py:250 is deliberately NOT reproduced).
  */
final case class TrainingSet(
    labels: DataFrame,
    lookups: Seq[(FeatureLookup, DataFrame)],
    labelColumn: Option[String],
    excludeColumns: Seq[String]) {

  /** The assembled training DataFrame (lazy plan, never collected).
    *
    * Untimed lookups fold as LEFT equi-joins; lookups carrying a
    * `timestampLookupKey` fold as point-in-time joins
    * ([[graft.ops.AsOfJoin]]) so each fact row only sees feature values
    * that existed at its own timestamp. */
  def loadDf: DataFrame = {
    import org.apache.spark.sql.functions.col
    val joined = lookups.foldLeft(labels) { case (acc, (lk, featureDf)) =>
      (lk.timestampLookupKey, lk.resolvedTableTimestampKey) match {
        case (Some(factTs), Some(featTs)) =>
          // Project to (key-as-lookupKey, feature ts, renamed features); the
          // ts column gets a reserved name so it can never collide with a
          // fact column of the same name.
          val projected = featureDf.select(
            (col(lk.tableKey).as(lk.lookupKey) +:
              col(featTs).as("__graft_feature_ts") +:
              lk.featureNames.map(f => col(f).as(lk.renames.getOrElse(f, f)))): _*)
          graft.ops.AsOfJoin.asOf(acc, projected, Seq(lk.lookupKey),
            factTs, "__graft_feature_ts", lk.outputColumns)
        case _ =>
          acc.join(lk.resolve(featureDf), Seq(lk.lookupKey), "left")
      }
    }
    if (excludeColumns.nonEmpty) joined.drop(excludeColumns: _*) else joined
  }
}

object TrainingSet {

  /** Build a training set from a feature store: resolves each lookup's table
    * by name (reference: create_training_set resolves table names through the
    * FS catalog the same way). */
  def fromStore(
      store: FeatureResolver,
      labels: DataFrame,
      lookups: Seq[FeatureLookup],
      labelColumn: Option[String] = None,
      excludeColumns: Seq[String] = Nil): TrainingSet = {
    labelColumn.foreach(l => require(labels.columns.contains(l), s"label column $l missing"))
    TrainingSet(labels, lookups.map(lk => lk -> store.readTable(lk.tableName)), labelColumn, excludeColumns)
  }

  /** Build directly from DataFrames (no registered store needed). */
  def fromFrames(
      labels: DataFrame,
      lookups: Seq[(FeatureLookup, DataFrame)],
      labelColumn: Option[String] = None,
      excludeColumns: Seq[String] = Nil): TrainingSet =
    TrainingSet(labels, lookups, labelColumn, excludeColumns)
}
