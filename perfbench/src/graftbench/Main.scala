package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** Command-line options of one benchmark process. */
final case class Opts(
    mode: String, workload: String, seed: Long, seconds: Double, trace: Boolean,
    sfDir: String, work: String, queries: Seq[String], perQuery: Seq[String],
    expected: Map[String, Outputs.Digest], out: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val expected = kv.get("expected").filter(p => new java.io.File(p).isFile).map { p =>
      scala.io.Source.fromFile(p).getLines().filter(_.nonEmpty).map { l =>
        val Array(q, rows, hash) = l.split("\t", 3)
        q -> Outputs.Digest(rows.toLong, hash)
      }.toMap
    }.getOrElse(Map.empty)
    def list(k: String) = kv.get(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    Opts(kv.getOrElse("mode", "run"), kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("sf-dir"), need("work"), list("queries"), list("per-query"),
      expected, need("out"), kv.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt)
  }
}

/** Result of one workload window: timed operations and failures. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  def fail(what: String): Unit = { failed += 1; notes += what; System.err.println(s"[perfbench] FAILED: $what") }
  /** Run one timed operation; an exception is a failure, never a retry. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }
  def check(what: String)(ok: => Boolean): Unit =
    try { if (!ok) fail(s"$what: output mismatch") }
    catch { case e: Throwable => fail(s"$what: check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Main {

  var spark: SparkSession = _

  def newSession(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.trace) b.config("spark.sql.streaming.streamingQueryListeners", "graftbench.StreamTrace")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Per-query isolation, as graft.Bench does after every query: no run
    * inherits another's cached blocks or persisted RDDs. */
  def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One set-up: session start and JVM/codegen warm-up on the smallest
    * scale (graft.Bench's warm-up query). */
  def setUp(o: Opts, i: Int): Double = {
    val t0 = System.nanoTime()
    Spans(s"setup$i", "setup") {
      if (spark != null) spark.stop()
      spark = Spans("session", "setup.session")(newSession(o))
      Spans.sc = spark.sparkContext
      Spans("warmup", "setup.warmup")(noop(SparkEntry.entry(spark)))
      isolate()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The workload's persisted artifacts, warmed after set-up `i`: the first
    * call builds them, later calls are memo hits. */
  def warmArtifacts(w: Workload, i: Int): Double = {
    val t0 = System.nanoTime()
    Spans(s"artifacts$i", "ArtifactMemo.warm")(w.warmArtifacts())
    (System.nanoTime() - t0) / 1e9
  }

  def noop(df: => DataFrame): Unit =
    try df.write.format("noop").mode("overwrite").save() catch { case _: Throwable => () }

  /** Per-pass open probe: every table through `Tables.load`, off the clock. */
  def openProbe(o: Opts): Unit = Spans("open_probe", "probe") {
    Tables.names.foreach(t => Spans(t, "Tables.load")(Tables.load(spark, o.sfDir, t)))
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val tally = new Tally
    try {
      o.mode match {
        case "classify" => Classify.run(o)
        case "record" => Board.record(o)
        case "run" =>
          val w: Workload = o.workload match {
            case "board" => new Board(o)
            case "fs_lifecycle" => new Lifecycle(o)
            case other => sys.error(s"unknown workload $other")
          }
          // setup_s: the median of three set-ups, plus the first artifact
          // build, which a process pays once (later warms are memo hits).
          val (setups, warms) = (0 until 3).map(i => (setUp(o, i), warmArtifacts(w, i))).unzip
          metrics("setup_s") = Stats.median(setups) + warms.head
          out("setup_each_s") = setups
          out("artifact_warm_each_s") = warms
          if (w.hasArtifacts) {
            metrics("ArtifactMemo.warm_build_s") = warms.head
            metrics("ArtifactMemo.warm_s") = Stats.median(warms.tail)
          }
          out("spark_conf") = spark.sparkContext.getConf.getAll.toMap
          val tp = System.nanoTime()
          w.prepare()
          w.warmUp(tally)
          out("prepare_s") = (System.nanoTime() - tp) / 1e9
          val tracer = if (o.trace) Some(new Tracer) else None
          tracer.foreach(_.attach(spark))
          val mark = Spans.mark
          val first = w.window(tally)
          tracer.foreach { t =>
            t.detach(spark)
            metrics ++= w.layers(t, Spans.since(mark))
            // Tracing overhead: the same window again, untraced. Both
            // windows follow the workload's warm-up.
            val plain = w.window(tally)
            metrics("trace.overhead_frac") = (first - plain) / plain
          }
          if (!o.trace) metrics ++= w.endToEnd()
          metrics("jvm.peak_rss_mb") = Stats.peakRssMb()
          out("detail") = w.detail()
          out("seconds_by_kind") = Spans.done.groupBy(_.kind).view.mapValues(_.map(_.seconds).sum).toMap
      }
    } catch {
      case e: Throwable =>
        tally.fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      if (spark != null) spark.stop()
    }
    writeSpans(o)
    out("correct") = tally.failed == 0
    out("attempted") = tally.attempted
    out("failed") = tally.failed
    out("failures") = tally.notes.take(50).toSeq
    out("metrics") = metrics.toMap
    println(Json.render(out.toMap))
    sys.exit(0)
  }

  private def writeSpans(o: Opts): Unit = if (o.trace && o.mode == "run") {
    val w = new java.io.PrintWriter(s"${o.out}.spans.jsonl", "UTF-8")
    try Spans.done.sortBy(_.id).foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "query" -> s.query, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)))
    } finally w.close()
  }

}

/** A workload: persisted artifacts warmed in set-up, off-clock preparation
  * and warm-up, one measured window, and the metrics derived from its
  * spans. `window` returns the window's headline wall. */
trait Workload {
  /** Whether `warmArtifacts` builds anything. */
  def hasArtifacts: Boolean = false
  def warmArtifacts(): Unit = ()
  def prepare(): Unit
  def warmUp(t: Tally): Unit = ()
  def window(t: Tally): Double
  def endToEnd(): Map[String, Double]
  def layers(tr: Tracer, spans: Seq[Span]): Map[String, Double]
  /** Per-operation walls for the run record. */
  def detail(): Map[String, Any]
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
