package perfbench

import java.nio.file.Paths

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.apps.AppEnv
import graft.operators.LogSplit
import graft.sources.CdcEnvelope

/** Batch recompute of the generators' truth through the engine's own
  * parsers: <dir>/orders and <dir>/logs hold one generated input set each.
  * Orders: CdcEnvelope dirty count, the on-time detail windows of the
  * order chain run as a batch job. Logs: LogSplit branch counts.
  */
object SelfTest {
  def run(dir: String): Main.Result = {
    val spark = AppEnv.session("perfbench-selftest")
    val om = new ObjectMapper()
    val failures = Seq.newBuilder[String]
    def check(what: String, got: Any, want: Any): Unit =
      if (got != want) failures += s"$what: got $got, expected $want"

    val ot = om.readTree(Paths.get(dir, "orders", "truth.json").toFile)
    val feed = spark.read.text(s"$dir/orders/staging", s"$dir/orders/prime.json")
    val (_, dirty) = CdcEnvelope.parse(feed, "value")
    check("orders dirty", dirty.count(), ot.get("malformed").asLong)
    // late orders sit an hour before the feed's first event and are dropped
    // by the stream; the batch form filters them the same way
    val ts = get_json_object(col("value"), "$.ts").cast("long")
    val windows = OrdersPaced.chain(spark, feed.filter(coalesce(ts >= lit(OrdersPaced.Epoch0 - 65), lit(true))))
      .select(col("stt").cast("long"), col("order_unique_user_ct"), col("order_origin_total_amount"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val tw = ot.get("windows")
    check("orders windows", windows.size, tw.size)
    val wrong = windows.count { case (w, (uu, amt)) =>
      val t = tw.get(w.toString)
      t == null || t.get(0).asLong != uu || math.abs(t.get(1).asDouble - amt) > 0.005
    }
    check("orders windows differing from truth", wrong, 0)

    val lt = om.readTree(Paths.get(dir, "logs", "truth.json").toFile)
    val (logs, bad) = LogSplit.parse(spark.read.text(s"$dir/logs/input"), "value")
    check("logs dirty", bad.count(), lt.get("branches").get("dirty").asLong)
    LogSplit.split(logs).foreach { case (b, df) =>
      check(s"logs $b", df.count(), lt.get("branches").get(b).asLong)
    }
    val f = failures.result()
    Main.Result(1, if (f.isEmpty) 0 else 1, f, Map.empty, Map.empty, Map.empty, Nil)
  }
}
