package perfbench

import org.apache.spark.sql.SparkSession

import graft.apps.AppEnv

/** Benchmark harness entry, launched by perfbench/run.py:
  *
  *   perfbench.Main <workload> <run-dir> <seconds> <trace 0|1> <repo-root>
  *
  * Reads the inputs run.py generated under <run-dir>, measures the
  * workload, and writes <run-dir>/result.json: attempted/failed counts,
  * the end-to-end metrics, the per-layer counters (traced run) and the
  * time windows of every timed operation (for log attribution).
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  final case class Result(
    attempted: Int, failed: Int, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double],
    info: Map[String, Any], windows: Seq[(String, Long, Long)])

  /** Builds the session and prepares the workload `Setups` times, tearing
    * down all but the last. Returns what the last `prepare` returned and
    * the per-set-up (session ms, prepare ms) pairs.
    */
  def setUp[A](name: String, prepare: (SparkSession, Int) => A, teardown: A => Unit)
      : (SparkSession, A, Seq[(Double, Double)]) = {
    var last: (SparkSession, A) = null
    val times = (1 to Setups).map { i =>
      if (last != null) { teardown(last._2); last._1.stop() }
      val t0 = System.nanoTime()
      val spark = AppEnv.session(s"perfbench-$name")
      val t1 = System.nanoTime()
      val a = prepare(spark, i)
      val t2 = System.nanoTime()
      last = (spark, a)
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    (last._1, last._2, times)
  }

  def setupMetrics(times: Seq[(Double, Double)]): (Double, Map[String, Double]) =
    (Stats.median(times.map(t => t._1 + t._2)) / 1000,
      Map("apps.session_ms" -> Stats.median(times.map(_._1)),
        "apps.start_ms" -> Stats.median(times.map(_._2))))

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, seconds, trace, repo) = args
    val rec = new Recorder(trace == "1")
    Jvm.resetPeaks()
    val r = workload match {
      case "catalog" => Catalog.run(dir, repo, rec)
      case "orders_paced" => OrdersPaced.run(dir, rec)
      case "logs_drain" => LogsDrain.run(dir, seconds.toDouble, rec)
      case "selftest" => SelfTest.run(dir)
      case other => sys.error(s"unknown workload $other")
    }
    val layers = if (!rec.traced) Map.empty[String, Double] else {
      val roll = rec.rollUp()
      r.layers ++ Map(
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
        "exec.skew_max_median" -> rec.skewMaxMedian,
        "trace.spans" -> roll.values.map(_._2).sum.toDouble) ++
        Seq("query", "construct", "plan", "exec", "job", "stage", "task", "trigger", "phase")
          .map(l => s"self.${l}_ms" -> roll.get(l).map(_._1).getOrElse(0.0))
    }
    if (rec.traced) rec.writeSpans(s"$dir/spans.jsonl")
    val json = Json.obj(Seq(
      "attempted" -> r.attempted, "failed" -> r.failed, "failures" -> r.failures,
      "e2e" -> r.e2e, "layers" -> layers, "info" -> r.info,
      "windows" -> r.windows.map { case (n, a, b) => Seq(n, a, b) }))
    val w = new java.io.PrintWriter(s"$dir/result.json", "UTF-8")
    try w.println(json) finally w.close()
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
