package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: local[4], shuffle=4, UTC — matches the
  * driver harness pinning (SURVEY.md §7.5 risk 1). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spec scratch dir: unique per call (suites mint several stores per
    * test), but under the per-JVM [[WorkDirs]] root so its shutdown hook
    * leaves /tmp flat after the test JVM exits — raw
    * `Files.createTempDirectory` leaked one dir per store per run. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(WorkDirs.rootDir), prefix).toString

  def refData(file: String): String = s"/root/reference/data/$file"

  /** Runs `body` on this thread and returns its value with the job
    * description (empty when unset) of every Spark job it started. Jobs
    * are told apart by a unique job-group id; a sentinel job in a second
    * group then flushes the listener bus, which delivers events in order,
    * so no job of `body` can be counted late. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-end"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
          case Some(`sentinel`) => flushed.countDown()
          case _ => ()
        }
    }
    def inGroup[A](g: String)(a: => A): A = {
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", g)
      try a finally sc.setLocalProperty("spark.jobGroup.id", prev)
    }
    sc.addSparkListener(listener)
    try {
      val out = inGroup(group)(body)
      inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
