package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{SQLTransformer, StringIndexer, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.fs.{FeatureLookup, FeatureStore, TrainingSet}
import graft.ml.{ScoringModel, Trainer}

/** Single-row scoring through the prepared plan. The feature tables and
  * labels are built in-test, so the suite needs no reference data.
  *
  * Fixture: customers 1..40 and products 1..21 keyed by bigint PKs. Product
  * 21 carries a category no label row references, so the fitted
  * StringIndexer has never seen it. */
class ScoreOneSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = { trainingDf.unpersist(); super.afterAll() }

  private lazy val store = {
    import spark.implicits._
    val s = new FeatureStore(spark, tempDir("graft_score_one"))
    s.createTable("customer_features", Seq("customer_id"),
      (1L to 40L).map(c => (c, c * 1.5, c * 4.25 + 2.0))
        .toDF("customer_id", "total_purchase_7d", "total_purchase_30d"))
    s.createTable("product_features", Seq("product_id"),
      (1L to 21L).map(p => (p, if (p == 21L) "unseen" else s"cat${p % 4}"))
        .toDF("product_id", "category"))
    s
  }

  private lazy val lookups = Seq(
    FeatureLookup("customer_features", Seq("total_purchase_7d", "total_purchase_30d"), "customer_id"),
    FeatureLookup("product_features", Seq("category"), "product_id"))

  private lazy val trainingDf = {
    import spark.implicits._
    val labels = (0 until 200).map { i =>
      (i % 40 + 1L, i % 20 + 1L, i % 2, if ((i * 7 + i / 20) % 5 < 2) 1 else 0)
    }.toDF("customer_id", "product_id", "on_sales", "purchased")
    TrainingSet.fromStore(store, labels, lookups, Some("purchased"),
      Seq("customer_id", "product_id")).loadDf.cache()
  }

  private lazy val scoring = ScoringModel(
    Trainer.fit(trainingDf, "purchased", Trainer.TrainParams(maxIter = 5, maxDepth = 3)),
    lookups)

  /** Parity key set: present keys, an absent customer (null features become
    * NaN through the assembler), an absent product (null category), the
    * unseen category, an Int key against the bigint PK and a String
    * passthrough column. */
  private val keySet: Seq[Seq[(String, Any)]] = Seq(
    Seq("customer_id" -> 3L, "product_id" -> 5L, "on_sales" -> 1),
    Seq("customer_id" -> 17L, "product_id" -> 12L, "on_sales" -> 0),
    Seq("customer_id" -> 999L, "product_id" -> 2L, "on_sales" -> 1),
    Seq("customer_id" -> 8L, "product_id" -> 999L, "on_sales" -> 0),
    Seq("customer_id" -> 9L, "product_id" -> 21L, "on_sales" -> 1),
    Seq("customer_id" -> 3, "product_id" -> 5L, "on_sales" -> 1),
    Seq("customer_id" -> 40L, "product_id" -> 20L, "on_sales" -> 0, "note" -> "passthrough"))

  private def sparkType(v: Any): DataType = v match {
    case _: Int    => IntegerType
    case _: Long   => LongType
    case _: String => StringType
  }

  /** The scoreBatch row for `input`, columns in `order`. */
  private def batchRow(input: Seq[(String, Any)], order: Seq[String]): Row = {
    val schema = StructType(input.map { case (k, v) => StructField(k, sparkType(v)) })
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(input.map(_._2))), schema)
    val rows = scoring.scoreBatch(store, df).select(order.head, order.tail: _*).collect()
    assert(rows.length == 1)
    rows.head
  }

  /** Row values with vectors as the bit patterns of their doubles: exact,
    * and NaN features compare equal, which `Vector.equals` does not allow. */
  private def exact(v: Any): Any = v match {
    case v: Vector => v.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits)
    case other => other
  }

  private def comparable(r: Row): Seq[Any] = r.toSeq.map(exact)

  private def scoreOne(input: Seq[(String, Any)]): Row =
    scoring.scoreOne(store, input.toMap).getOrElse(fail(s"scoreOne returned nothing for $input"))

  test("scoreOne equals the scoreBatch row: schema, prediction and exact vectors") {
    keySet.foreach { input =>
      val one = scoreOne(input)
      val batch = batchRow(input, one.schema.fieldNames.toSeq)
      assert(one.schema == batch.schema, s"schema differs for $input")
      assert(comparable(one) == comparable(batch), s"row differs for $input")
      val features = one.getAs[Vector]("features").toArray
      assert(features.exists(_.isNaN) == (input.head._2 == 999L), s"NaN features for $input")
    }
  }

  test("Byte keys are typed as bytes and score like the Long key") {
    val asLong = scoreOne(Seq("customer_id" -> 3L, "product_id" -> 5L, "on_sales" -> 1))
    val asByte = scoreOne(Seq("customer_id" -> 3.toByte, "product_id" -> 5L, "on_sales" -> 1))
    assert(asByte.schema("customer_id").dataType == ByteType)
    assert(asByte.getByte(asByte.fieldIndex("customer_id")) == 3.toByte)
    Seq("features", "rawPrediction", "probability", "prediction").foreach { c =>
      assert(exact(asByte.getAs[Any](c)) == exact(asLong.getAs[Any](c)), c)
    }
  }

  test("an input value of an unsupported class is rejected by name") {
    val err = intercept[IllegalArgumentException] {
      scoring.scoreOne(store, Map("customer_id" -> 3L, "product_id" -> 5L,
        "on_sales" -> 1, "tags" -> Seq("a")))
    }
    assert(err.getMessage.contains("scala.collection.immutable"), err.getMessage)
  }

  test("a handleInvalid=skip pipeline returns None for the invalid row") {
    val indexer = new StringIndexer().setInputCol("category").setOutputCol("category__idx")
      .setHandleInvalid("skip").setStringOrderType("alphabetAsc")
    val assembler = new VectorAssembler()
      .setInputCols(Array("on_sales", "total_purchase_7d", "category__idx"))
      .setOutputCol("features").setHandleInvalid("keep")
    val lr = new LogisticRegression().setLabelCol("purchased").setMaxIter(5)
    val skipping = ScoringModel(
      new Pipeline().setStages(Array(indexer, assembler, lr)).fit(trainingDf), lookups)
    assert(skipping.scoreOne(store,
      Map("customer_id" -> 9L, "product_id" -> 21L, "on_sales" -> 1)).isEmpty)
    val valid = skipping.scoreOne(store,
      Map("customer_id" -> 9L, "product_id" -> 5L, "on_sales" -> 1))
    assert(valid.exists(r => r.getAs[Double]("prediction") >= 0.0))
  }

  test("a pipeline that is not row-wise is refused with a named error") {
    val grouping = new SQLTransformer().setStatement(
      "SELECT category, count(*) AS n FROM __THIS__ GROUP BY category")
    val model = ScoringModel(new Pipeline().setStages(Array(grouping)).fit(trainingDf), lookups)
    val err = intercept[IllegalArgumentException] {
      model.scoreOne(store, Map("customer_id" -> 3L, "product_id" -> 5L, "on_sales" -> 1))
    }
    assert(err.getMessage.contains("Aggregate") && err.getMessage.contains("scoreBatch"),
      err.getMessage)
  }

  test("four threads scoring concurrently get the serial rows") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val serial = keySet.map(input => comparable(scoreOne(input)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val perThread = (0 until 4).map { t =>
        Future((0 until 50).map { i =>
          val k = (i + t) % keySet.size
          k -> comparable(scoreOne(keySet(k)))
        })
      }
      Await.result(Future.sequence(perThread), 2.minutes).flatten.foreach { case (k, row) =>
        assert(row == serial(k), s"concurrent row differs for ${keySet(k)}")
      }
    } finally pool.shutdown()
  }
}
