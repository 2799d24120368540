package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The `catalog` workload: passes over the pinned query slice in the seeded
  * order run.py wrote to <dir>/order.txt, after a set-up that runs the
  * warm-up list in <dir>/warmup.txt. Each query is built
  * (`SparkEntry.queries`, timed as construct) and executed once. The first
  * pass executes into a digest sink that returns (rows, order-insensitive
  * digest), checked against perfbench/catalog.json; the measured passes
  * after it execute into the `noop` sink, so the harness's hashing is not
  * part of what they time.
  */
object Catalog {

  final case class Pin(family: String, rows: Long, digest: String)

  /** Measured passes after the cold one. */
  val WarmPasses = 2

  def run(dir: String, repo: String, rec: Recorder): Main.Result = {
    val sfDir = s"$repo/perfbench/data/sf0.001"
    def lines(f: String) = scala.io.Source.fromFile(s"$dir/$f").getLines().filter(_.nonEmpty).toSeq
    val names = lines("order.txt")
    val pins = loadPins(s"$repo/perfbench/catalog.json")
    val plans = new PlanLog
    val (spark, _, setups) = Main.setUp[Unit]("catalog",
      (s, _) => {
        s.listenerManager.register(plans)
        lines("warmup.txt").foreach(runOne(s, _, sfDir, rec, "warmup", plans, check = false))
      }, _ => ())
    val failures = Seq.newBuilder[String]
    val windows = Seq.newBuilder[(String, Long, Long)]

    /** One pass in the seeded order; returns (name, wall ms) per query.
      * With `check`, every query's output is checked against its pin.
      */
    def pass(label: String, check: Boolean): Seq[(String, Double)] = names.flatMap { n =>
      val t0 = System.currentTimeMillis()
      val out = try Right(runOne(spark, n, sfDir, rec, n, plans, check)) catch {
        case e: Throwable => Left(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      windows += ((s"$label $n", t0, System.currentTimeMillis()))
      out match {
        case Left(msg) => failures += s"$label $msg"; None
        case Right((wallMs, checked)) =>
          checked.foreach { case (rows, digest) =>
            pins.get(n) match {
              case None => failures += s"$label $n: not in catalog.json"
              case Some(p) if p.rows != rows || p.digest != digest =>
                failures += s"$label $n: rows=$rows digest=$digest, pinned rows=${p.rows} digest=${p.digest}"
              case _ => ()
            }
          }
          Some(n -> wallMs)
      }
    }

    // the first pass compiles and loads what the slice needs and checks
    // every output; the next WarmPasses, in the same order, are measured,
    // and each query counts with its median over them, so a short host
    // stall moves one sample
    val cold = pass("cold", check = true)
    System.gc() // start the measured passes without the cold pass's garbage
    rec.reset()
    rec.attach(spark.sparkContext)
    val gc0 = Jvm.gcMs
    val cpu0 = Jvm.cpuMs
    val warm = (1 to WarmPasses).flatMap(i => pass(s"warm$i", check = false))
    val cpuMs = Jvm.cpuMs - cpu0
    val perQuery = warm.groupMap(_._1)(_._2).map { case (n, ms) => n -> Stats.median(ms) }
    val walls = perQuery.values.toSeq
    val catalogS = walls.sum / 1000
    // tail: the mean of the slowest quarter of the queries (18 samples
    // leave no percentile with ten beyond it; one query alone follows
    // that query's own disk and scheduling noise)
    val slowest = walls.sorted.takeRight(math.max(1, walls.size / 4))
    val tailMs = slowest.sum / slowest.size
    val (setupS, appLayers) = Main.setupMetrics(setups)
    val families = perQuery.groupMapReduce(x => pins.get(x._1).map(_.family).getOrElse("Queries"))(_._2)(_ + _)
    val c = rec.snapshot
    val layers = c ++ appLayers ++ families.map { case (f, ms) => s"family.${f}_s" -> ms / 1000 } ++ Map(
      "catalog.cold_pass_s" -> cold.map(_._2).sum / 1000,
      "exec.utilization" -> c("exec.task_run_ms") /
        (warm.map(_._2).sum * Runtime.getRuntime.availableProcessors),
      "jvm.gc_ms" -> (Jvm.gcMs - gc0))
    val f = failures.result()
    Main.Result((1 + WarmPasses) * names.size, f.size, f,
      Map("setup_s" -> setupS, "latency_ms" -> walls.sum / walls.size, "tail_ms" -> tailMs,
        "cpu_cost_ms" -> cpuMs / warm.size),
      layers,
      Map("catalog_s" -> catalogS, "query_p50_ms" -> Stats.median(walls),
        "query_mean_ms" -> walls.sum / walls.size, "tail_queries" -> slowest.size, "queries" -> walls.size,
        "cold_pass_s" -> cold.map(_._2).sum / 1000),
      windows.result())
  }

  /** Construct + execute one query; returns (wall ms, Some((rows, digest)))
    * with `check`, else (wall ms, None) from the `noop` sink.
    */
  def runOne(spark: SparkSession, name: String, sfDir: String, rec: Recorder,
             trace: String, plans: PlanLog, check: Boolean): (Double, Option[(Long, String)]) = {
    val sc = spark.sparkContext
    val root = s"q:$trace"
    val t0 = System.currentTimeMillis()
    sc.setLocalProperty(rec.SpanKey, s"$root/construct")
    val df = try SparkEntry.queries(name)(spark, sfDir)
    finally sc.setLocalProperty(rec.SpanKey, s"$root/exec")
    val t1 = System.currentTimeMillis()
    plans.clear()
    val checked = try {
      if (check) Some(digestSink(df))
      else { df.write.format("noop").mode("overwrite").save(); None }
    } finally sc.setLocalProperty(rec.SpanKey, null)
    val t2 = System.currentTimeMillis()
    // the noop write plans its own QueryExecution, which reaches the
    // listener after the write returns; only the traced run waits for it
    val qe = if (check) Some(df.queryExecution) else if (rec.traced) plans.await() else None
    val planMs = qe.map(planOf(_, rec, s"$root/exec")).getOrElse(0.0)
    rec.span(Span(root, "", trace, "query", t0, t2))
    rec.span(Span(s"$root/construct", root, trace, "construct", t0, t1))
    rec.span(Span(s"$root/exec", root, trace, "exec", t1, t2))
    rec.add("construct.ms", (t1 - t0).toDouble)
    rec.max("construct.max_ms", (t1 - t0).toDouble)
    rec.add("plan.ms", planMs)
    rec.add("exec.ms", (t2 - t1) - planMs)
    ((t2 - t0).toDouble, checked.map { case (rows, digest) => (rows, f"$digest%016x") })
  }

  /** Executes the query's physical plan once under its own SQL execution
    * id, hashing every row on the executors. Returns (rows, digest).
    */
  def digestSink(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val qe = df.queryExecution
    val schema = df.schema
    val rows = sc.longAccumulator("perfbench.rows")
    val hash = sc.longAccumulator("perfbench.digest")
    SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.foreachPartition { it =>
        var n, h = 0L
        it.foreach { r => n += 1; h += Digest.row(r, schema) }
        rows.add(n); hash.add(h)
      }
    }
    (rows.value, hash.value)
  }

  /** Planning time of an executed query (optimization + physical
    * planning), its phase spans, and in the traced run its plan counts.
    */
  def planOf(qe: QueryExecution, rec: Recorder, spanKey: String): Double = {
    val phases = qe.tracker.phases
    phases.foreach { case (p, s) =>
      if (p != "analysis" && p != "parsing")
        rec.span(Span(s"$spanKey/$p", spanKey, spanKey.takeWhile(_ != '/'), "plan",
          s.startTimeMs, s.endTimeMs))
    }
    if (rec.traced) planCounts(qe.executedPlan, rec)
    Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble
  }

  /** Exchanges, reused exchanges, broadcasts and scans of the final
    * (post-AQE) plan, subqueries included.
    */
  def planCounts(plan: SparkPlan, rec: Recorder): Unit = {
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ReusedExchangeExec => rec.add("plan.reused_exchanges", 1)
        case _: BroadcastExchangeLike => rec.add("plan.broadcasts", 1)
        case _: ShuffleExchangeLike => rec.add("plan.exchanges", 1)
        case _: FileSourceScanExec | _: BatchScanExec => rec.add("plan.scans", 1)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
  }

  def loadPins(path: String): Map[String, Pin] =
    new ObjectMapper().readTree(new java.io.File(path)).get("queries").fields().asScala.map { e =>
      val q = e.getValue
      e.getKey -> Pin(q.get("family").asText, q.get("rows").asLong, q.get("digest").asText)
    }.toMap
}

/** The last noop write the session ran, as the listener bus delivers it. */
final class PlanLog extends QueryExecutionListener {
  @volatile private var last: Option[QueryExecution] = None
  def clear(): Unit = last = None
  def await(): Option[QueryExecution] = {
    Streams.waitUntil(5000)(last.nonEmpty)
    last
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.logical match {
      case w: OverwriteByExpression => w.table match {
        case r: DataSourceV2Relation if r.table.name == "noop-table" => last = Some(qe)
        case _ => ()
      }
      case _ => ()
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Order-insensitive row digest over Spark's internal row format: doubles
  * rounded to 6 significant digits, arrays and maps hashed as multisets, so
  * partition order and last-bit float noise do not change it.
  */
object Digest {
  private def mix(h: Long): Long = {
    var x = h * 0x9E3779B97F4A7C15L
    x ^= x >>> 31
    x * 0xBF58476D1CE4E5B9L
  }

  private def str(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h = (h ^ c) * 0x100000001b3L }
    h
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 7L
    else if (d.isInfinite || d == 0.0) str(java.lang.Double.toString(d + 0.0))
    else str(new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString)

  def value(v: Any, t: DataType): Long = if (v == null) 0x5bd1e995L else t match {
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case at: ArrayType =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i =>
        mix(value(if (a.isNullAt(i)) null else a.get(i, at.elementType), at.elementType))).sum
    case mt: MapType =>
      val m = v.asInstanceOf[MapData]
      val ks = m.keyArray(); val vs = m.valueArray()
      (0 until m.numElements()).map(i => mix(value(ks.get(i, mt.keyType), mt.keyType) * 31 +
        value(if (vs.isNullAt(i)) null else vs.get(i, mt.valueType), mt.valueType))).sum
    case DoubleType => dbl(v.asInstanceOf[Double])
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case _: DecimalType => dbl(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case BinaryType => str(new String(v.asInstanceOf[Array[Byte]], "ISO-8859-1"))
    case _ => str(v.toString)
  }

  def row(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      val t = st(i).dataType
      h = mix(h * 31 + value(if (r.isNullAt(i)) null else r.get(i, t), t))
      i += 1
    }
    h
  }
}
