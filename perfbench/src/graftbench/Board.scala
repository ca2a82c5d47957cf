package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.ops.GraphEdges

/** A board slice: a frozen list of `SparkEntry.queries`, run one at a time
  * in a seeded order through the noop sink, pass after pass, after one
  * untimed pass that checks each query's row count and digest. Off the
  * clock, as graft.Bench does, clearCache plus unpersist follow each query.
  * The graph edge artifact is warmed in set-up. The other persisted
  * artifacts (q162's admission base) have no public builder but
  * `SparkEntry.warmIndexes`, which also rebuilds every session index; the
  * first call of their query builds them, in the untimed check pass. */
final class Board(o: Opts) extends Workload {
  import Main.{spark, isolate}

  private val rng = new scala.util.Random(o.seed)

  override def hasArtifacts: Boolean = true
  override def warmArtifacts(): Unit = GraphEdges.warm(spark, o.sfDir)

  def prepare(): Unit = {
    require(o.queries.nonEmpty, "board workload needs --queries")
    val missing = o.queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
  }

  /** Once per process, before the measured window: each query once, its
    * output digest computed in place of the noop write and checked. This
    * also pays first-use compilation of the plans off the clock (a cold
    * first pass spread ~15% between runs). */
  override def warmUp(t: Tally): Unit = Spans("warm_pass", "warmup") {
    rng.shuffle(o.queries).foreach { q =>
      t.op(q)(Spans(q, "check", q)(check(q, SparkEntry.queries(q)(spark, o.sfDir), t)))
      isolate()
    }
  }

  /** Timed section of one query: build (the query function) then execute
    * the returned plan. */
  private def runQuery(q: String, t: Tally): Option[Double] = {
    val fn = SparkEntry.queries(q)
    val t0 = System.nanoTime()
    t.op(q) {
      Spans(q, "query", q) {
        val df = Spans("build", "SparkEntry.build")(fn(spark, o.sfDir))
        Spans("exec", "spark.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }.map(_ => (System.nanoTime() - t0) / 1e9)
  }

  private def check(q: String, df: DataFrame, t: Tally): Unit =
    t.check(s"$q output") {
      val got = Outputs.digest(df)
      o.expected.get(q) match {
        case Some(want) =>
          if (got != want) System.err.println(s"[perfbench] $q: got $got, want $want")
          got == want
        case None =>
          System.err.println(s"[perfbench] $q: no expected output recorded")
          false
      }
    }

  /** Whole passes until the seconds are spent, at least one. A query's
    * wall is its mean over the passes; the window's wall is their sum. */
  def window(t: Tally): Double = {
    val start = System.nanoTime()
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    do {
      Main.openProbe(o)
      rng.shuffle(o.queries).foreach { q =>
        runQuery(q, t).foreach(dt => walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt)
        Spans("isolate", "isolate", q)(isolate())
      }
    } while ((System.nanoTime() - start) / 1e9 < o.seconds)
    mean = walls.map { case (q, w) => q -> w.sum / w.size }.toMap
    mean.values.sum
  }

  private var mean = Map.empty[String, Double]

  def detail(): Map[String, Any] = Map("mean_s" -> mean,
    "query_walls_s" -> Spans.ofKind("query").map(s => s.query -> s.seconds).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap)

  def endToEnd(): Map[String, Double] = Map(
    "wall_s" -> mean.values.sum,
    "op_gmean_ms" -> Stats.geomean(mean.values.toSeq) * 1e3)

  def layers(tr: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val jobs = tr.jobsBySpan(spans)
    def jobsOf(ss: Seq[Span]) = ss.flatMap(s => jobs.getOrElse(s.id, Nil))
    def agg(ss: Seq[Span]) = { val a = new TaskAgg; jobsOf(ss).foreach(j => a += j.agg); a }
    def kind(k: String) = spans.filter(_.kind == k)
    val passes = spans.count(_.kind == "probe").max(1)

    val opens = kind("Tables.load")
    m("Tables.load_s") = opens.map(_.seconds).sum / passes
    m("Tables.load_jobs") = jobsOf(opens).size.toDouble / passes

    val build = kind("SparkEntry.build")
    m("SparkEntry.build_s") = build.map(_.seconds).sum / passes
    m("SparkEntry.build_jobs") = jobsOf(build).size.toDouble / passes
    m("SparkEntry.build_task_cpu_s") = agg(build).cpuNs / 1e9 / passes

    val exec = kind("spark.exec")
    val plans = tr.plansBySpan(spans)
    m ++= Layers.execMetrics(exec.map(_.seconds).sum, jobsOf(exec),
      exec.flatMap(s => plans.getOrElse(s.id, Nil)), o.cores, passes)
    m ++= Layers.streamMetrics(tr.streamsBySpan(spans).values.flatten.toSeq, passes)

    o.perQuery.foreach { q =>
      val runs = spans.count(s => s.kind == "query" && s.query == q).max(1)
      val b = build.filter(_.query == q)
      val e = exec.filter(_.query == q)
      m(s"$q.build_s") = b.map(_.seconds).sum / runs
      m(s"$q.exec_s") = e.map(_.seconds).sum / runs
      m(s"$q.jobs") = jobsOf(b ++ e).size.toDouble / runs
    }
    m.toMap
  }
}

object Board {
  /** Writes `query<TAB>rows<TAB>digest` for every listed query. */
  def record(o: Opts): Unit = {
    Main.spark = Main.newSession(o)
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try o.queries.sorted.foreach { q =>
      val d = Outputs.digest(SparkEntry.queries(q)(Main.spark, o.sfDir))
      w.println(s"$q\t${d.rows}\t${d.hash}")
      w.flush()
      Main.isolate()
    } finally w.close()
  }
}

/** Metrics shared by the workloads: execution of returned plans and
  * streaming progress. Sums are per pass. */
object Layers {
  def execMetrics(execS: Double, jobs: Seq[JobRec], ps: Seq[PlanRec],
      cores: Int, passes: Int): Map[String, Double] = {
    val a = new TaskAgg
    jobs.foreach(j => a += j.agg)
    Map(
      "spark.exec_s" -> execS / passes,
      "spark.jobs" -> jobs.size.toDouble / passes,
      "spark.stages" -> a.stages.toDouble / passes,
      "spark.tasks" -> a.tasks.toDouble / passes,
      "spark.task_run_s" -> a.runMs / 1e3 / passes,
      "spark.task_cpu_s" -> a.cpuNs / 1e9 / passes,
      "spark.gc_s" -> a.gcMs / 1e3 / passes,
      "spark.shuffle_read_bytes" -> a.shuffleRead.toDouble / passes,
      "spark.shuffle_write_bytes" -> a.shuffleWrite.toDouble / passes,
      "spark.spill_bytes" -> a.spill.toDouble / passes,
      "spark.input_bytes" -> a.input.toDouble / passes,
      "spark.output_bytes" -> a.output.toDouble / passes,
      "spark.busy_ratio" -> (if (execS > 0) a.runMs / 1e3 / (execS * cores) else 0.0),
      "catalyst.analysis_s" -> ps.map(_.analysisS).sum / passes,
      "catalyst.optimization_s" -> ps.map(_.optimizationS).sum / passes,
      "catalyst.planning_s" -> ps.map(_.planningS).sum / passes)
  }

  def streamMetrics(rs: Seq[StreamRec], passes: Int): Map[String, Double] = Map(
    "streaming.batches" -> rs.size.toDouble / passes,
    "streaming.add_batch_s" -> rs.map(_.addBatchS).sum / passes,
    "streaming.query_planning_s" -> rs.map(_.planningS).sum / passes,
    "streaming.wal_commit_s" -> rs.map(_.walCommitS).sum / passes,
    "streaming.state_commit_s" -> rs.map(_.stateCommitS).sum / passes,
    "streaming.state_rows" -> rs.map(_.stateRows.toDouble).sum / passes)
}
