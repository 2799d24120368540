package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.apps.BaseLogApp

/** The `logs_drain` workload: a closed drain. The backlog in <dir>/input
  * exists before the clock starts; each round runs `BaseLogApp.run` with
  * `AvailableNow` (six per-branch queries into parquet sinks) on fresh
  * output and checkpoint directories until every query has terminated.
  * The first round is cold and unmeasured; rounds repeat until `seconds`
  * have passed since it started, and every round's branch row counts are
  * checked against the generator's truth.
  */
object LogsDrain {
  val Branches = Seq("action", "dirty", "display", "err", "page", "start")

  def drain(spark: SparkSession, input: String, base: String): (Long, Long, Seq[String]) = {
    val t0 = System.currentTimeMillis()
    val qs = BaseLogApp.run(spark, spark.readStream.text(input), s"$base/out",
      s"$base/ckpt", Trigger.AvailableNow())
    qs.foreach(_.awaitTermination())
    (t0, System.currentTimeMillis(), qs.map(_.id.toString))
  }

  def run(dir: String, seconds: Double, rec: Recorder): Main.Result = {
    val truth = new ObjectMapper().readTree(Paths.get(dir, "truth.json").toFile)
    val log = new ProgressLog
    val (spark, _, setups) = Main.setUp[Unit]("logs", (s, i) => {
      s.streams.addListener(log)
      drain(s, s"$dir/warmup", s"$dir/w$i"); ()
    }, _ => ())
    val lines = truth.get("lines").asLong
    // round 0 is cold (the branch plans meet the full backlog for the first
    // time): checked, not measured, like the catalog's first pass
    val clock = System.currentTimeMillis()
    val (c0, c1, _) = drain(spark, s"$dir/input", s"$dir/r0")
    rec.attach(spark.sparkContext)
    val gc0 = Jvm.gcMs
    val cpu0 = Jvm.cpuMs
    val rounds = Seq.newBuilder[(Int, Long, Long, Seq[String])]
    var r = 1
    while (r == 1 || System.currentTimeMillis() - clock < seconds * 1000) {
      val (a, b, ids) = drain(spark, s"$dir/input", s"$dir/r$r")
      rounds += ((r, a, b, ids))
      r += 1
    }
    val rs = rounds.result()
    val cpuMs = Jvm.cpuMs - cpu0
    val c = rec.snapshot
    val gc = Jvm.gcMs - gc0

    // drain time of each branch: from the round's start to the end of its
    // query's last micro-batch; a round is done when its slowest branch is
    Thread.sleep(200) // progress events of the last triggers arrive after termination
    val branchMs = rs.map { case (_, t0, _, ids) =>
      ids.map(id => (log.of(id).map(Streams.interval(_)._2).max - t0).toDouble)
    }
    val all = rs.flatMap(_._4).flatMap(log.of)
    Streams.traceTriggers(rec, all)

    // output check: every branch of every round against the truth
    val failures = Seq.newBuilder[String]
    var sinkRows, sinkBytes, sinkFiles, dirtyRows = 0L
    for (round <- 0 to rs.size; b <- Branches) {
      val out = Paths.get(dir, s"r$round", "out", b)
      val parts = Files.list(out).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      val n = spark.read.parquet(out.toString).count()
      if (round > 0) { // the sink layer counts the measured rounds
        sinkFiles += parts.size
        sinkBytes += parts.map(Files.size).sum
        sinkRows += n
        if (b == "dirty") dirtyRows += n
      }
      val want = truth.get("branches").get(b).asLong
      if (n != want) failures += s"round $round $b: $n rows, expected $want"
    }
    val f = failures.result()
    val eps = rs.map { case (_, a, b, _) => lines * 1000.0 / (b - a) }
    val slowest = Stats.median(branchMs.map(_.max))
    val (setupS, appLayers) = Main.setupMetrics(setups)
    val wallMs = rs.map(x => x._3 - x._2).sum.toDouble
    val layers = c -- Seq("scan.bytes", "scan.rows", "scan.tasks") ++ appLayers ++
      Streams.streamLayers(all) ++ Map(
        "source.bytes_read" -> c("scan.bytes"),
        "source.read_amplification" -> c("scan.bytes") / (truth.get("bytes").asDouble * rs.size),
        "source.dirty_rows" -> dirtyRows.toDouble,
        "sink.rows" -> sinkRows.toDouble, "sink.bytes" -> sinkBytes.toDouble,
        "sink.files" -> sinkFiles.toDouble,
        "exec.utilization" -> c("exec.task_run_ms") / (wallMs * Runtime.getRuntime.availableProcessors),
        "jvm.gc_ms" -> gc)
    Main.Result((1 + rs.size) * Branches.size, f.size, f,
      Map("setup_s" -> setupS, "latency_ms" -> Stats.median(branchMs.flatten), "tail_ms" -> slowest,
        "cpu_cost_ms" -> cpuMs / (lines * rs.size) * 1000),
      layers,
      Map("drain_eps" -> Stats.median(eps), "rounds" -> rs.size, "lines_per_round" -> lines,
        "branch_p50_ms" -> Stats.median(branchMs.flatten), "slowest_branch_ms" -> slowest),
      (("round 0 (cold)", c0, c1) +: rs.map { case (i, a, b, _) => (s"round $i", a, b) }))
  }
}
