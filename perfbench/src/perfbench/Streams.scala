package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Progress events of every streaming query in a session. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def of(id: String): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id.toString == id).toSeq.sortBy(_.batchId)
}

object Streams {
  def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** (start, end) of the trigger that produced `p`. */
  def interval(p: StreamingQueryProgress): (Long, Long) = {
    val t0 = epochMs(p.timestamp)
    (t0, t0 + dur(p, "triggerExecution"))
  }

  /** Order of the phases inside one micro-batch. */
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Trigger spans with their `durationMs` phases laid out in order. */
  def traceTriggers(rec: Recorder, ps: Seq[StreamingQueryProgress]): Unit =
    if (rec.traced) ps.foreach { p =>
      val (t0, t1) = interval(p)
      val key = s"b:${p.id}:${p.batchId}"
      rec.span(Span(key, "", key, "trigger", t0, t1))
      var t = t0
      phases.foreach { ph =>
        val d = dur(p, ph)
        if (d > 0) rec.span(Span(s"$key/$ph", key, key, "phase", t, t + d))
        t += d
      }
    }

  /** Per-layer counters of the streaming engine and its state stores. */
  def streamLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def sum(f: StreamingQueryProgress => Double) = ps.map(f).sum
    def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
    val last = ps.lastOption
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.trigger_ms_p50" -> Stats.median(data.map(dur(_, "triggerExecution").toDouble)),
      "stream.plan_ms" -> sum(dur(_, "queryPlanning").toDouble),
      "stream.add_batch_ms" -> sum(dur(_, "addBatch").toDouble),
      "stream.wal_ms" -> sum(p => (dur(p, "walCommit") + dur(p, "commitOffsets")).toDouble),
      "stream.rows_per_batch" -> (if (data.isEmpty) 0.0 else data.map(_.numInputRows).sum.toDouble / data.size),
      "source.rows" -> sum(_.numInputRows.toDouble),
      "source.list_ms" -> sum(dur(_, "latestOffset").toDouble),
      "state.operators" -> last.map(ops(_).size.toDouble).getOrElse(0.0),
      "state.rows_end" -> last.map(ops(_).map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "state.rows_max" -> (0.0 +: ps.map(ops(_).map(_.numRowsTotal).sum.toDouble)).max,
      "state.bytes_end" -> last.map(ops(_).map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "state.commit_ms" -> sum(ops(_).map(_.commitTimeMs).sum.toDouble),
      "state.update_ms" -> sum(ops(_).map(_.allUpdatesTimeMs).sum.toDouble),
      "state.removal_ms" -> sum(ops(_).map(_.allRemovalsTimeMs).sum.toDouble),
      "state.dropped_late" -> sum(ops(_).map(_.numRowsDroppedByWatermark).sum.toDouble))
  }

  /** Moves a file into a watched directory in one atomic rename. */
  def publish(src: Path, dstDir: Path, name: String): Long = {
    Files.move(src, dstDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  /** Copies a file next to `dstDir`, then renames it in atomically. */
  def publishCopy(src: String, dstDir: Path): Unit = {
    val name = Paths.get(src).getFileName.toString
    val tmp = dstDir.resolveSibling("." + name)
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    publish(tmp, dstDir, name)
  }

  /** Which input files each batch of a file-source checkpoint committed:
    * path -> batch id, read from the source's metadata log.
    */
  def committedFiles(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case Entry(p, b) => Paths.get(new java.net.URI(p)).getFileName.toString -> b.toLong }
      .toMap
  }

  def waitUntil(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    cond
  }
}
