package graftbench

import graft.SparkEntry

/** Probe of the whole board, used to freeze the board slices: for each
  * query, the build and execution walls and the call sites of the jobs its
  * build step launched. A query whose build launches only table-open
  * schema inference (`parquet at Tables.scala`) has no eager work. */
object Classify {
  def run(o: Opts): Unit = {
    Main.setUp(o, 0)
    val tr = new Tracer
    tr.attach(Main.spark)
    val names = if (o.queries.nonEmpty) o.queries else SparkEntry.queries.keys.toSeq.sorted
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try names.foreach { q =>
      if (SparkEntry.IndexBackedQueries(q))
        Spans("warm", "ArtifactMemo.warm", q)(SparkEntry.warmIndexes(Main.spark, o.sfDir))
      val mark = Spans.mark
      val ok = try {
        Spans(q, "query", q) {
          val df = Spans("build", "SparkEntry.build")(SparkEntry.queries(q)(Main.spark, o.sfDir))
          Spans("exec", "spark.exec")(df.write.format("noop").mode("overwrite").save())
        }
        true
      } catch { case e: Throwable => System.err.println(s"[classify] $q failed: ${e.getMessage}"); false }
      Main.isolate()
      tr.drain(Main.spark)
      val spans = Spans.since(mark)
      val jobs = tr.jobsBySpan(spans)
      def of(k: String) = spans.filter(_.kind == k)
      def jobsOf(k: String) = of(k).flatMap(s => jobs.getOrElse(s.id, Nil))
      val sites = jobsOf("SparkEntry.build").map(_.callSite).groupBy(identity).view.mapValues(_.size).toMap
      w.println(Json.render(Map("query" -> q, "ok" -> ok,
        "build_s" -> of("SparkEntry.build").map(_.seconds).sum,
        "exec_s" -> of("spark.exec").map(_.seconds).sum,
        "build_jobs" -> jobsOf("SparkEntry.build").size,
        "exec_jobs" -> jobsOf("spark.exec").size,
        "build_sites" -> sites)))
      w.flush()
    } finally w.close()
  }
}
