package graft.fs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import scala.collection.concurrent.TrieMap

/** Primary-key violation detected while materializing a feature table. */
final class PrimaryKeyViolation(msg: String) extends RuntimeException(msg)

/** Spark-native feature store over a parquet base path.
  *
  * Mirrors the reference's Feature Store client surface
  * (notebooks/01_feature_table_creation.py:153-191 — `create_table`,
  * `drop_table`; notebooks/02_model_training.py:140-148 — `read_table`)
  * re-expressed as idiomatic Spark:
  *
  *  - tables are columnar parquet at `basePath/<name>` (scans get column
  *    pruning + predicate pushdown for free);
  *  - PK metadata lives in a small driver-side registry (persisted as a
  *    sidecar `_graft_meta.json` per table so a fresh session can re-attach);
  *  - PK uniqueness is enforced at write time with a distributed
  *    `groupBy(pk).count > 1` probe — one aggregation job, no collect of
  *    data rows, safe at 100 TB.
  *
  * Partition columns: pass `partitionBy` for tables that will be pruned by
  * a hot predicate column at scale (e.g. ingest date).
  *
  * Versioning (Delta time-travel analog): every in-place mutation
  * ([[upsert]], [[compact]], [[rollback]]) snapshots the table's previous
  * state under `basePath/_graft_versions/<name>/v<N>` before the swap —
  * outside the table directory, so live scans never see it. Retention is
  * bounded (`maxVersionsRetained`, oldest pruned first): version cost is
  * K copies of the table, a deliberate budget, not unbounded history. On
  * Delta the same surface is `VERSION AS OF` backed by the log —
  * file-level deltas instead of full snapshots; the API here is the same
  * shape so the swap is local.
  */
final class FeatureStore(spark: SparkSession, val basePath: String,
    val maxVersionsRetained: Int = 5) extends FeatureResolver {

  override protected def resolverSession: SparkSession = spark

  private val registry = TrieMap.empty[String, FeatureTable]

  private def tablePath(name: String) = s"$basePath/${name.replace('.', '/')}"
  private def metaPath(name: String)  = s"${tablePath(name)}/_graft_meta.json"
  private def versionsRoot(name: String) =
    s"$basePath/_graft_versions/${name.replace('.', '/')}"
  private def versionPath(name: String, v: Long) = s"${versionsRoot(name)}/v$v"
  private def historyPath(name: String) = s"${versionsRoot(name)}/_history.jsonl"

  /** Materialize `df` as feature table `name` keyed by `primaryKeys`.
    *
    * Validates (reference: 01_feature_table_creation.py:172-174 does only the
    * column-presence check; uniqueness is implicit there — we make it
    * explicit, SURVEY.md §7.5 risk 5):
    *  1. every PK column exists;
    *  2. no PK column is null;
    *  3. the PK tuple is unique.
    */
  def createTable(
      name: String,
      primaryKeys: Seq[String],
      df: DataFrame,
      description: String = "",
      partitionBy: Seq[String] = Nil,
      enforcePrimaryKey: Boolean = true): FeatureTable = {
    FeatureStore.validatePrimaryKeys(name, primaryKeys, df, enforcePrimaryKey)

    val path = tablePath(name)
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer).parquet(path)

    val ft = FeatureTable(name, primaryKeys, description, df.schema, path, partitionBy)
    writeMeta(ft)
    registry.put(name, ft)
    invalidatePointIndex(name) // a rewrite must not leave a stale broadcast
    appendHistory(name, "create", None)
    ft
  }

  /** PK-keyed merge write (the feature-store `mode="merge"` contract): rows
    * of `updates` replace existing rows with the same primary-key tuple;
    * unmatched existing rows survive; genuinely new keys append. Plain
    * parquet has no transactional merge (that is Delta's job — see README
    * "Deviations"), so the merge is a full rewrite: anti-join the current
    * table against the update keys, union the updates, write to a temp
    * location, then swap directories. The swap window is the only
    * non-atomic part; on Delta the same logic is `MERGE INTO` and the
    * rewrite cost drops to the touched files.
    *
    * Scale shape: one shuffle (the anti-join on the PK); the updates side
    * of a feature refresh is typically small → broadcast by Catalyst.
    *
    * `mergeSchema = true` (Delta mergeSchema analog) evolves the table:
    * columns new in `updates` are added (pre-existing rows read null),
    * columns absent from `updates` are padded with typed nulls. Type
    * changes are rejected, never coerced. */
  def upsert(name: String, updates: DataFrame,
      mergeSchema: Boolean = false,
      targetFileCount: Option[Int] = None): FeatureTable = {
    val ft = getTable(name)
    FeatureStore.validatePrimaryKeys(name, ft.primaryKeys, updates, enforce = true)
    val existing = readTable(name)
    val (alignedExisting, alignedUpdates) =
      if (existing.columns.sorted.sameElements(updates.columns.sorted))
        (existing, updates)
      else if (!mergeSchema)
        throw new IllegalArgumentException(
          s"upsert($name): column mismatch — table has ${existing.columns.sorted.mkString(",")}, " +
            s"updates have ${updates.columns.sorted.mkString(",")} " +
            "(pass mergeSchema = true to evolve)")
      else {
        // Schema evolution (Delta mergeSchema analog): the union of both
        // column sets, each side padded with typed nulls for what it lacks.
        // Same-name columns must agree on type — silent coercion would
        // corrupt, so it's rejected.
        val exTypes = existing.schema.map(f => f.name -> f.dataType).toMap
        val upTypes = updates.schema.map(f => f.name -> f.dataType).toMap
        val conflicts = exTypes.keySet.intersect(upTypes.keySet)
          .filter(c => exTypes(c) != upTypes(c))
        require(conflicts.isEmpty,
          s"upsert($name): type conflict on ${conflicts.mkString(", ")} — " +
            "evolution adds columns, it does not retype them")
        require(ft.primaryKeys.forall(upTypes.contains), // PKs can never be padded
          s"upsert($name): updates missing primary key columns")
        val allCols = existing.columns ++ updates.columns.filterNot(exTypes.contains)
        def pad(df: DataFrame, types: Map[String, org.apache.spark.sql.types.DataType]) =
          df.select(allCols.map(c =>
            if (types.contains(c)) col(c) else lit(null).cast(exTypes.getOrElse(c, upTypes(c))).as(c)): _*)
        (pad(existing, exTypes), pad(updates, upTypes))
      }
    val merged = alignedExisting
      .join(alignedUpdates.select(ft.primaryKeys.map(col): _*), ft.primaryKeys, "left_anti")
      .unionByName(alignedUpdates)
    // Optional write-layout control (Delta optimizedWrite analog): without
    // it the rewrite's file count is whatever the merge plan's final task
    // layout happens to be — environment-sensitive (shuffle partitions,
    // AQE coalescing). A round-robin repartition (not coalesce — that can
    // only shrink, so it can't PIN a count) makes the layout exactly n
    // files wherever the row count covers n partitions; the extra shuffle
    // is the documented price of a reproducible layout, same as Delta's.
    rewriteInPlace(ft, targetFileCount.fold(merged)(n => merged.repartition(n)), "upsert")
  }

  /** Predicate delete (Delta `DELETE WHERE` analog): rewrite the table
    * without the matching rows. Snapshot + history like every mutation; on
    * Delta the rewrite cost drops to the touched files. */
  def delete(name: String, predicate: org.apache.spark.sql.Column): FeatureTable = {
    val ft = getTable(name)
    rewriteInPlace(ft, readTable(name).filter(!predicate), "delete")
  }

  /** Apply a change feed produced by [[tableChanges]] (or any CDF-shaped
    * frame: table columns + `_change_type`) onto this table — the CDC
    * replication consumer. Deletes drop their keys, inserts and update
    * postimages upsert; preimages are ignored (they describe the source's
    * past, not the target's future). Applying `source.tableChanges(v)` to
    * a replica at state v yields exactly the source's current state
    * (FeatureStoreSpec proves the round-trip). */
  def applyChanges(name: String, changes: DataFrame): FeatureTable = {
    val ft = getTable(name)
    require(changes.columns.contains("_change_type"),
      s"applyChanges($name): frame has no _change_type column")
    val pk = ft.primaryKeys
    // Pin the feed first: `changes` is typically a lazy diff plan, and
    // without this the second mutation below would RE-EVALUATE it against
    // already-mutated state.
    val pinned = changes.localCheckpoint(true)
    val deletes = pinned.filter(col("_change_type") === "delete")
      .select(pk.map(col): _*)
    val upserts = pinned.filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
    // Two mutations (each snapshotted), deletes first so a key deleted
    // and re-inserted in one feed lands inserted. The key drop is an
    // anti-join: no driver materialization, no key-encoding collisions.
    if (!deletes.isEmpty) {
      rewriteInPlace(getTable(name), readTable(name).join(deletes, pk, "left_anti"), "delete")
    }
    if (upserts.isEmpty) getTable(name) else upsert(name, upserts)
  }

  /** Small-file compaction: rewrite the table into `targetFileCount` files
    * per partition directory (1 by default). Long-lived tables accumulate
    * files with every refresh; scan cost at 100 TB is dominated by file
    * count once files are small, so periodic compaction is part of the
    * table-maintenance surface (OPTIMIZE on Delta; a coalesced rewrite
    * here). Data, metadata, and the answer to every query are unchanged. */
  def compact(name: String, targetFileCount: Int = 1): FeatureTable = {
    require(targetFileCount >= 1, s"targetFileCount must be >= 1, got $targetFileCount")
    val ft = getTable(name)
    val data = readTable(name)
    val compacted =
      if (ft.partitionColumns.nonEmpty)
        // One shuffle keyed by the partition columns: each output task holds
        // whole partitions, so every partition directory gets few files.
        data.repartition(ft.partitionColumns.map(col): _*)
      else data.coalesce(targetFileCount)
    rewriteInPlace(ft, compacted, "compact")
  }

  /** Rewrite a table's data in place via write-to-temp + directory swap
    * (a lazy self-overwrite would corrupt the table: the plan would read
    * the files the write is deleting). Preserves PK metadata, description,
    * and partition layout. */
  private def rewriteInPlace(ft: FeatureTable, data: DataFrame, op: String): FeatureTable = {
    val path = new org.apache.hadoop.fs.Path(ft.path)
    val tmp = new org.apache.hadoop.fs.Path(ft.path + "__graft_rewrite_tmp")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val writer = data.write.mode("overwrite")
    // The write happens BEFORE the old directory moves: `data` may read the
    // current table (upsert/compact do) — and before pruning, so a rollback
    // source can never be deleted under its own read.
    (if (ft.partitionColumns.nonEmpty) writer.partitionBy(ft.partitionColumns: _*)
     else writer).parquet(tmp.toString)
    // Snapshot instead of delete: the replaced state becomes version N+1's
    // predecessor (meta sidecar travels with it — schema history included).
    val nextV = versions(ft.name).lastOption.getOrElse(0L) + 1
    val vPath = new org.apache.hadoop.fs.Path(versionPath(ft.name, nextV))
    fs.mkdirs(vPath.getParent)
    if (!fs.rename(path, vPath))
      throw new java.io.IOException(s"rewrite(${ft.name}): snapshot $path -> $vPath failed")
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"rewrite(${ft.name}): rename $tmp -> $path failed")
    // Bounded retention: oldest beyond the budget go away.
    val vs = versions(ft.name)
    vs.dropRight(maxVersionsRetained).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(versionPath(ft.name, v)), true)
    }
    val out = ft.copy(schema = graft.Tables.parquet(spark, ft.path).schema)
    writeMeta(out)
    registry.put(ft.name, out)
    invalidatePointIndex(ft.name)
    appendHistory(ft.name, op, Some(nextV))
    out
  }

  /** Retained snapshot version ids for `name`, oldest first. Versions are
    * created by in-place mutations; a freshly created table has none. */
  def versions(name: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(versionsRoot(name))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toLong }
      .sorted
  }

  /** Explicitly prune snapshot retention to the newest `retainLast`
    * versions — the Delta `VACUUM` analog, completing the lifecycle story:
    * [[rewriteInPlace]] already bounds retention on every write
    * (`maxVersionsRetained`), but storage reclamation is also an
    * OPERATION a table owner schedules ("drop time travel beyond N now",
    * e.g. before handing a path to another team). Returns the pruned
    * version ids. History is NOT pruned — the audit log stays a complete
    * record ([[history]] shows the vacuum itself); time travel to a
    * vacuumed version now fails loudly in [[readTableVersion]].
    *
    * Cost shape: pure metadata + directory deletes on the driver — no
    * data job, no scan; at 100 TB this is the same O(#versions) FS call
    * pattern a real lakehouse VACUUM's manifest pass has. */
  def vacuum(name: String, retainLast: Int): Seq[Long] = {
    require(retainLast >= 0, s"retainLast must be >= 0, got $retainLast")
    getTable(name) // existence check — vacuuming an unknown table is an error
    val doomed = versions(name).dropRight(retainLast)
    val fs = new org.apache.hadoop.fs.Path(versionsRoot(name))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(versionPath(name, v)), true)
    }
    appendHistory(name, "vacuum", None)
    doomed
  }

  /** Read a retained snapshot — the table as it was BEFORE the mutation
    * that created version `v` completed (Delta `VERSION AS OF` analog). */
  def readTableVersion(name: String, version: Long): DataFrame = {
    require(versions(name).contains(version),
      s"readTableVersion($name): version $version not retained " +
        s"(have: ${versions(name).mkString(", ")})")
    graft.Tables.parquet(spark, versionPath(name, version))
  }

  /** Restore snapshot `version` as the current table state. The state being
    * replaced is itself snapshotted first (a rollback is undoable like any
    * other mutation). PK metadata and partition layout are preserved. */
  def rollback(name: String, version: Long): FeatureTable = {
    val ft = getTable(name)
    rewriteInPlace(ft, readTableVersion(name, version), "rollback")
  }

  /** Mutation audit log (DESCRIBE HISTORY analog): one entry per lifecycle
    * operation, oldest first. Survives the session (JSON-lines sidecar next
    * to the version snapshots); snapshot pruning does NOT prune history —
    * the log stays a complete record even when old data is gone. */
  def history(name: String): Seq[FeatureStore.HistoryEntry] = {
    val p = new org.apache.hadoop.fs.Path(historyPath(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      raw.split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val j = JsonMethods.parse(line)
        FeatureStore.HistoryEntry(
          (j \ "op").extract[String],
          (j \ "snapshotVersion").extractOpt[Long],
          (j \ "atMillis").extract[Long])
      }
    }
  }

  private def appendHistory(name: String, op: String, snapshotVersion: Option[Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(historyPath(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val entry: JValue =
      ("op" -> op) ~
        ("snapshotVersion" -> snapshotVersion) ~
        ("atMillis" -> System.currentTimeMillis())
    val line = JsonMethods.compact(JsonMethods.render(entry)) + "\n"
    // Local/HDFS-style appends when supported; fall back to read+rewrite
    // (object stores): history files are small by construction. Only the
    // actual "append not supported / not possible" signals route to the
    // fallback — fatal errors (OOM, interrupts) must propagate.
    val out =
      try fs.append(p)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        val prev =
          if (fs.exists(p)) {
            val in = fs.open(p)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          } else ""
        val o = fs.create(p, true)
        o.write(prev.getBytes("UTF-8"))
        o
      }
    out.write(line.getBytes("UTF-8"))
    out.close()
  }

  /** Change feed between a retained snapshot and the current state (Delta
    * CDF analog, computed as a PK-keyed diff instead of logged deltas):
    * one row per changed key with `_change_type` ∈ insert / delete /
    * update_preimage+update_postimage — the same row vocabulary Delta's
    * `table_changes` emits, so downstream consumers port unchanged.
    *
    * Scale shape: one full-outer equi-join on the PK between two scans;
    * unchanged rows (the overwhelming majority of a feature refresh) are
    * filtered before the result materializes. An update emits both images,
    * keyed for deterministic ordering. */
  def tableChanges(name: String, sinceVersion: Long): DataFrame = {
    val ft = getTable(name)
    require(ft.primaryKeys.nonEmpty, s"tableChanges($name): table has no primary keys")
    val pk = ft.primaryKeys
    val before = readTableVersion(name, sinceVersion)
    val after = readTable(name)
    val cols = after.columns.toSeq
    require(before.columns.sorted.sameElements(after.columns.sorted),
      s"tableChanges($name): schema changed between v$sinceVersion and now — " +
        "diff the versions manually")
    val nonPk = cols.filterNot(pk.contains)
    def strip(df: DataFrame, tag: String) = df.select(
      pk.map(col) ++ nonPk.map(c => col(c).as(s"${tag}_$c")): _*)
    // Presence flags: a full-outer miss leaves every side column null, but
    // rows can legitimately hold nulls — presence needs explicit markers.
    val beforeMark = strip(before, "b").withColumn("__b", lit(1))
    val afterMark = strip(after, "a").withColumn("__a", lit(1))
    val j = beforeMark.join(afterMark, pk, "full_outer")
    val changed = nonPk.map(c => !(col(s"b_$c") <=> col(s"a_$c"))).reduceOption(_ || _)
      .getOrElse(lit(false))
    val tagged = j.withColumn("_change_type",
      when(col("__b").isNull, lit("insert"))
        .when(col("__a").isNull, lit("delete"))
        .when(changed, lit("update"))
        .otherwise(lit("unchanged")))
      .filter(col("_change_type") =!= "unchanged")
    // Explode updates into pre/post images; inserts/deletes carry their
    // single image. Output schema: pk..., non-pk..., _change_type.
    val pre = tagged.filter(col("_change_type").isin("delete", "update"))
      .select(pk.map(col) ++ nonPk.map(c => col(s"b_$c").as(c)) :+
        when(col("_change_type") === "update", lit("update_preimage"))
          .otherwise(lit("delete")).as("_change_type"): _*)
    val post = tagged.filter(col("_change_type").isin("insert", "update"))
      .select(pk.map(col) ++ nonPk.map(c => col(s"a_$c").as(c)) :+
        when(col("_change_type") === "update", lit("update_postimage"))
          .otherwise(lit("insert")).as("_change_type"): _*)
    pre.unionByName(post).orderBy(pk.map(col) :+ col("_change_type"): _*)
  }

  /** Read a registered table (reference: 02_model_training.py:145). */
  override def readTable(name: String): DataFrame =
    graft.Tables.parquet(spark, getTable(name).path)

  override def getTable(name: String): FeatureTable =
    registry.getOrElse(name, loadMeta(name).getOrElse(
      throw new NoSuchElementException(s"feature table not registered: $name")))

  def tableExists(name: String): Boolean =
    registry.contains(name) || loadMeta(name).isDefined

  /** Idempotent drop (reference: 01_feature_table_creation.py:153-160).
    * Retained version snapshots go with the table. */
  def dropTable(name: String): Unit = {
    registry.remove(name)
    invalidatePointIndex(name)
    val p = new org.apache.hadoop.fs.Path(tablePath(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
    val vr = new org.apache.hadoop.fs.Path(versionsRoot(name))
    if (fs.exists(vr)) { fs.delete(vr, true); () }
  }

  def listTables(): Seq[FeatureTable] = registry.values.toSeq.sortBy(_.name)

  // ---- sidecar metadata (PK survives across sessions) ----------------------
  // Real JSON both ways (json4s, same library the Scorer sidecar uses):
  // descriptions containing quotes/newlines/backslashes survive a fresh-store
  // re-attach byte-exactly.

  private implicit val jsonFormats: Formats = DefaultFormats

  private def writeMeta(ft: FeatureTable): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(ft.name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val json: JValue =
      ("name" -> ft.name) ~
        ("primaryKeys" -> ft.primaryKeys) ~
        ("description" -> ft.description) ~
        ("schema" -> ft.schema.json) ~
        ("partitionColumns" -> ft.partitionColumns)
    out.write(JsonMethods.compact(JsonMethods.render(json)).getBytes("UTF-8"))
    out.close()
  }

  private def loadMeta(name: String): Option[FeatureTable] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val j = JsonMethods.parse(raw)
      val pks = (j \ "primaryKeys").extractOrElse[Seq[String]](Nil)
      val desc = (j \ "description").extractOrElse[String]("")
      // Sidecars from earlier releases lack the key => Nil (unpartitioned).
      val parts = (j \ "partitionColumns").extractOrElse[Seq[String]](Nil)
      // Schema authority is the parquet footer (it reflects what's actually
      // on disk), inferred once per table version by Tables.parquet; the
      // sidecar copy is informational.
      val schema = graft.Tables.parquet(spark, tablePath(name)).schema
      val ft = FeatureTable(name, pks, desc, schema, tablePath(name), parts)
      registry.put(name, ft)
      Some(ft)
    }
  }
}

object FeatureStore {

  /** One audit-log row: which lifecycle op ran, which snapshot version it
    * created (None for create), and when. */
  final case class HistoryEntry(op: String, snapshotVersion: Option[Long], atMillis: Long)

  /** Shared PK contract check (used by the path-backed and catalog-backed
    * stores). Validates column presence (reference:
    * 01_feature_table_creation.py:172-174), then — unless disabled — runs
    * one distributed agg job: any key tuple appearing twice or carrying a
    * null breaks the N:1 lookup contract (SURVEY.md §7.5 risk 5). */
  private[fs] def validatePrimaryKeys(
      name: String,
      primaryKeys: Seq[String],
      df: DataFrame,
      enforce: Boolean): Unit = {
    require(primaryKeys.nonEmpty, s"feature table $name needs >=1 primary key column")
    val missing = primaryKeys.filterNot(df.columns.contains)
    require(missing.isEmpty, s"primary key columns not in dataframe: ${missing.mkString(", ")}")
    if (enforce) {
      val keyCols = primaryKeys.map(col)
      val dup = df
        .groupBy(keyCols: _*)
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1 || primaryKeys.map(col(_).isNull).reduce(_ || _))
        .limit(1)
        .count()
      if (dup > 0)
        throw new PrimaryKeyViolation(
          s"table $name: duplicate or null primary key (${primaryKeys.mkString(",")})")
    }
  }
}
