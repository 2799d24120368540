package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One traced interval. Spans link to their parent by key, so a span may be
  * recorded before the span that caused it (listener events arrive late).
  * All spans of one query or one trigger share `trace`.
  */
final case class Span(key: String, parent: String, trace: String, layer: String,
                      start: Long, end: Long) {
  def ms: Long = end - start
}

/** Counters and spans for one benchmark run.
  *
  * The untraced run uses only the counters its workload needs for the
  * end-to-end metrics; the traced run also attaches [[attach]]'s Spark
  * listener, which records job, stage and task spans and the per-layer
  * counters. Spans stay in memory until [[writeSpans]] at exit.
  */
final class Recorder(val traced: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageSkew = mutable.ArrayBuffer[Double]()
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  def add(k: String, v: Double): Unit = synchronized { counters(k) += v }
  def max(k: String, v: Double): Unit = synchronized {
    counters(k) = math.max(counters(k), v) }
  def snapshot: Map[String, Double] = synchronized { counters.toMap.withDefaultValue(0.0) }
  def span(s: Span): Unit = if (traced) spans.add(s)

  /** Forgets everything recorded so far (the unmeasured warm-up). */
  def reset(): Unit = synchronized {
    counters.clear(); stageSkew.clear(); spans.clear()
  }

  /** Median over multi-task stages of (slowest task ÷ median task). */
  def skewMaxMedian: Double = synchronized {
    if (stageSkew.isEmpty) 0.0 else Stats.median(stageSkew.toSeq) }

  /** Local property carrying the span a job belongs to. */
  val SpanKey = "perfbench.span"

  def attach(sc: SparkContext): Unit = if (traced) sc.addSparkListener(listener)

  private val listener = new SparkListener {
    private val jobStart = mutable.Map[Int, (Long, String)]()
    private val stageJob = mutable.Map[Int, Int]()

    private def tag(props: java.util.Properties): String = {
      if (props == null) return "untagged"
      val q = props.getProperty("sql.streaming.queryId")
      val b = props.getProperty("streaming.sql.batchId")
      if (q != null && b != null) s"b:$q:$b/addBatch"
      else Option(props.getProperty(SpanKey)).getOrElse("untagged")
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val t = tag(e.properties)
      jobStart(e.jobId) = (e.time, t)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      add("exec.jobs", 1)
      if (t.endsWith("/construct")) add("construct.jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, t) =>
        span(Span(s"job:${e.jobId}", t, t.takeWhile(_ != '/'), "job", t0, e.time))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      add("exec.stages", 1)
      if (si.numTasks == 1) add("exec.one_task_stages", 1)
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val job = stageJob.get(si.stageId).map(j => s"job:$j").getOrElse("untagged")
        span(Span(s"stage:${si.stageId}.${si.attemptNumber()}", job, "", "stage", t0, t1))
      }
      stageTaskMs.remove((si.stageId, si.attemptNumber())).foreach { ms =>
        if (ms.size > 1) {
          val med = Stats.median(ms.map(_.toDouble).toSeq)
          if (med > 0) stageSkew += ms.max / med
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null) return
      add("exec.tasks", 1)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("jvm.task_gc_ms", m.jvmGCTime.toDouble)
      add("exec.sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      if (m.inputMetrics.bytesRead > 0) {
        add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        add("scan.tasks", 1)
      }
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += m.executorRunTime
      span(Span(s"task:${info.taskId}", s"stage:${e.stageId}.${e.stageAttemptId}", "",
        "task", info.launchTime, info.finishTime))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        add("mat.block_bytes", (b.memSize + b.diskSize).toDouble)
    }
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * children cover. Returns layer -> (self ms, span count).
    */
  def rollUp(): Map[String, (Double, Int)] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.key, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered, curS, curE = 0L
        var open = false
        kids.foreach { case (a, b) =>
          if (!open || a > curE) {
            if (open) covered += curE - curS
            curS = a; curE = b; open = true
          } else curE = math.max(curE, b)
        }
        if (open) covered += curE - curS
        (s.ms - covered).toDouble
      }.sum
      layer -> (self, ss.size)
    }
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach { s =>
      w.println(Json.obj(Seq("key" -> s.key, "parent" -> s.parent, "trace" -> s.trace,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end)))
    } finally w.close()
  }
}

/** JVM-wide counters read around a run: collector time and peak heap. */
object Jvm {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** CPU time of the whole process (all threads), ms. */
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); the maximum when that percentile would be below
    * the 75th (fewer than 44 samples).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val idx = s.size - 11
    if (s.size < 44) (100.0, if (s.isEmpty) 0.0 else s.last)
    else (100.0 * (idx + 1) / s.size, s(idx))
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
