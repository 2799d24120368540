package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipelines.{DwsWindows, OrderPreProcess}
import graft.sources.CdcEnvelope

/** The `orders_paced` workload: an open loop. run.py pre-renders one CDC
  * file per 1/files_per_s slot into <dir>/staging; a feeder thread renames
  * each into the watched directory at its due time while one streaming
  * query runs CdcEnvelope.parse → OrderPreProcess → tradeOrderWindow with
  * back-to-back triggers into a benchmark-owned foreachBatch sink, which
  * keeps the windows for the check.
  *
  * Latency of a file: from its due time to the end of the micro-batch that
  * committed it. After the paced phase a flush file moves the watermark
  * past every window, and the emitted windows are checked against the
  * generator's truth.
  */
object OrdersPaced {
  /** First event second of the paced feed (gen.EPOCH0). */
  val Epoch0 = 1704153480L

  final class Chain(val query: StreamingQuery, val input: java.nio.file.Path,
                    val ckpt: String, val windows: ConcurrentHashMap[Long, (Long, Long, Double)],
                    val log: ProgressLog)

  /** CDC text lines → windowed order summary: the chain under test. */
  def chain(spark: SparkSession, lines: DataFrame): DataFrame = {
    import spark.implicits._
    val dict = Seq(("2401", "user order")).toDF("dic_code", "dic_name")
    val (clean, _) = CdcEnvelope.parse(lines, "value")
    val details: Dataset[DwsWindows.OrderDetail] = OrderPreProcess(clean, dict).select(
        col("id").cast("string").as("id"),
        col("user_id").cast("string").as("userId"),
        col("eventTime").as("ts"),
        lit(0.0).as("activityAmount"), lit(0.0).as("couponAmount"),
        col("split_total_amount").cast("double").as("originalAmount"))
      .as[DwsWindows.OrderDetail]
    DwsWindows.tradeOrderWindow(spark, details)
  }

  def start(spark: SparkSession, dir: String, i: Int): Chain = {
    val base = Paths.get(dir, s"s$i")
    val input = Files.createDirectories(base.resolve("input"))
    val ckpt = base.resolve("ckpt").toString
    val log = new ProgressLog
    spark.streams.addListener(log)
    val windows = new ConcurrentHashMap[Long, (Long, Long, Double)]()
    val q = chain(spark, spark.readStream.text(input.toString)).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.collect().foreach(r => windows.put(r.getAs[java.sql.Timestamp]("stt").getTime / 1000,
          (r.getAs[Long]("order_unique_user_ct"), r.getAs[Long]("order_new_user_ct"),
            r.getAs[Double]("order_origin_total_amount"))))
      }
      .start()
    new Chain(q, input, ckpt, windows, log)
  }

  /** The priming order's batch fixes the watermark the late orders are
    * measured against; it runs once, after the timed set-ups.
    */
  def prime(dir: String, c: Chain): Unit = {
    Streams.publishCopy(s"$dir/prime.json", c.input)
    val id = c.query.id.toString
    if (!Streams.waitUntil(120000)(c.log.of(id).exists(_.numInputRows > 0)))
      sys.error("priming batch did not commit")
  }

  def run(dir: String, rec: Recorder): Main.Result = {
    val truth = new ObjectMapper().readTree(Paths.get(dir, "truth.json").toFile)
    val fps = truth.get("params").get("files_per_s").asDouble
    val (spark, c, setups) = Main.setUp[Chain]("orders",
      (s, i) => start(s, dir, i), ch => ch.query.stop())
    prime(dir, c)
    rec.attach(spark.sparkContext)
    val gc0 = Jvm.gcMs
    val cpu0 = Jvm.cpuMs
    val id = c.query.id.toString
    val primeBatches = c.log.of(id).size

    // the paced feeder: one thread, renames at due times, never waits on
    // the engine; lateness is how far behind its schedule it ran
    val files = Files.list(Paths.get(dir, "staging")).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    val due = new Array[Long](files.size)
    val moved = new Array[Long](files.size)
    val t0 = System.currentTimeMillis() + 200
    val feeder = new Thread(() => files.indices.foreach { k =>
      due(k) = t0 + (k * 1000 / fps).toLong
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      moved(k) = Streams.publish(files(k), c.input, files(k).getFileName.toString)
    }, "perfbench-feeder")
    feeder.start()
    feeder.join()
    // flush, with the last file: its batch moves the watermark past every
    // open window and the no-data batch after it emits them
    Streams.publishCopy(s"$dir/flush.json", c.input)
    val names = files.map(_.getFileName.toString)
    val want = truth.get("windows").fieldNames().asScala.map(_.toLong).toSet
    Streams.waitUntil(60000)(want.subsetOf(c.windows.keySet().asScala))
    val paced = c.log.of(id).drop(primeBatches)
    val cpuMs = Jvm.cpuMs - cpu0
    val counters = rec.snapshot
    val gc = Jvm.gcMs - gc0
    Thread.sleep(300) // the last batch's progress event is posted after its sink ran
    c.query.stop()
    val all = c.log.of(id)

    // latency per input file, from the batch that committed it
    val committed = Streams.committedFiles(c.ckpt)
    val batchEnd = all.map(p => p.batchId -> Streams.interval(p)._2).toMap
    val ends = names.flatMap(n => committed.get(n).flatMap(batchEnd.get))
    val ms = names.indices.flatMap(k =>
      committed.get(names(k)).flatMap(batchEnd.get).map(e => (e - due(k)).toDouble))
    val missing = names.filterNot(committed.contains)
    val failures = Seq.newBuilder[String]
    missing.take(5).foreach(n => failures += s"$n: never committed")

    // output check against the generator's truth: every window's unique
    // users and amount, new users within [users, user-days], and the late
    // orders' envelope lines dropped by the joins' watermark filter
    val tw = truth.get("windows")
    val bad = want.toSeq.sorted.flatMap { w =>
      val t = tw.get(w.toString)
      Option(c.windows.get(w)) match {
        case None => Some(s"window $w missing")
        case Some((uu, _, amt)) if uu != t.get(0).asLong || math.abs(amt - t.get(1).asDouble) > 0.005 =>
          Some(s"window $w: uu=$uu amount=$amt, expected ${t.get(0)} ${t.get(1)}")
        case _ => None
      }
    } ++ c.windows.keySet().asScala.filterNot(want).toSeq.sorted.map(w => s"window $w unexpected")
    val nu = c.windows.values().asScala.map(_._2).sum
    val nuBad = if (nu < truth.get("users").asLong || nu > truth.get("uu_total").asLong)
      Seq(s"order_new_user_ct total $nu outside [users, uu_total]") else Nil
    val dropped = Streams.streamLayers(all)("state.dropped_late")
    val droppedBad = if (dropped != truth.get("late_lines").asDouble)
      Seq(s"state.dropped_late $dropped, expected ${truth.get("late_lines")}") else Nil
    val outputBad = bad ++ nuBad ++ droppedBad
    if (outputBad.nonEmpty) {
      val got = c.windows.values().asScala.map(_._3).sum
      val expected = want.toSeq.map(w => tw.get(w.toString).get(1).asDouble).sum
      failures += f"output: ${outputBad.size} mismatches, window amounts $got%.2f of $expected%.2f, first: ${outputBad.head}"
    }

    // backlog: files published but not yet committed, sampled at each publish
    val backlog = moved.indices.map(k => (k + 1) - ends.count(_ <= moved(k))).foldLeft(0)(math.max)
    val (pct, tail) = Stats.tail(ms)
    val (setupS, appLayers) = Main.setupMetrics(setups)
    val lastEnd = if (ends.isEmpty) t0 + 1 else ends.max
    Streams.traceTriggers(rec, all)
    val wallMs = (lastEnd - t0).toDouble
    val layers = counters -- Seq("scan.bytes", "scan.rows", "scan.tasks") ++ appLayers ++
      Streams.streamLayers(paced) ++ Map(
        "source.bytes_read" -> counters("scan.bytes"),
        "source.read_amplification" -> counters("scan.bytes") /
          names.map(n => Files.size(c.input.resolve(n))).sum.toDouble,
        "exec.utilization" -> counters("exec.task_run_ms") / (wallMs * Runtime.getRuntime.availableProcessors),
        "jvm.gc_ms" -> gc,
        "gen.late_ms_max" -> moved.indices.map(k => (moved(k) - due(k)).toDouble).foldLeft(0.0)(math.max),
        "backlog.files_max" -> backlog.toDouble,
        "state.dropped_late" -> dropped)
    Main.Result(names.size + 1, missing.size + (if (outputBad.nonEmpty) 1 else 0),
      failures.result(),
      Map("setup_s" -> setupS, "latency_ms" -> Stats.median(ms), "tail_ms" -> tail,
        "cpu_cost_ms" -> cpuMs / truth.get("lines").asDouble * 1000),
      layers,
      Map("commit_p50_ms" -> Stats.median(ms), "commit_tail_ms" -> tail, "commit_tail_pct" -> pct,
        "delivered_lines_per_s" -> truth.get("lines").asDouble * 1000 / wallMs,
        "files" -> names.size, "windows" -> c.windows.size, "batches" -> paced.size),
      Seq(("paced", t0, lastEnd)) ++ all.map { p =>
        val (a, b) = Streams.interval(p); (s"batch ${p.batchId}", a, b) })
  }
}
