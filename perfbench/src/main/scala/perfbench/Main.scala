package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** What one workload run hands back to [[Main]].
  *
  * @param attempted operations tried (batches, window-ends, tiles, queries)
  * @param failed    operations that errored or produced a wrong output
  * @param metrics   the scored end-to-end metrics: name -> (value, unit)
  * @param detail    everything else the run measured, by the names the
  *                  notes use (percentiles with their sample counts, checks)
  * @param layers    per-layer numbers of a traced run, same naming
  */
case class Outcome(
    attempted: Long,
    failed: Long,
    metrics: Map[String, (Double, String)],
    detail: Map[String, Any],
    layers: Map[String, Any] = Map.empty)

/** Command-line entry of the harness JVM (launched by perfbench/run.py). */
object Main {

  case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: String, tables: String, benchDir: String, result: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work-dir"), m("tables"), m("bench-dir"), m("result"))
  }

  /** The fixed-cost CPU sentinel of graft.Bench: an in-memory spark.range
    * sum whose work never depends on the code under test. A slow sentinel
    * or a high load average marks a contended run. */
  def sentinelSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200L * 1000 * 1000).select(sum(col("id") % 7)).head()
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Trace.enabled = args.trace
    val c0 = System.nanoTime()
    val spark = Trace.span("GraftSession.create", "session") {
      graft.GraftSession.create("perfbench", "local[4]", shufflePartitions = 4)
    }
    val createS = (System.nanoTime() - c0) / 1e9
    val engine = if (args.trace) Some(EngineListener.install(spark)) else None
    val loadStart = loadAvg()
    val sentinelStart = math.min(sentinelSec(spark), sentinelSec(spark))
    engine.foreach(_.reset())
    val out = args.workload match {
      case "grid_stream"     => GridStream.run(spark, args)
      case "dashboard_tiles" => DashboardTiles.run(spark, args)
      case "catalog"         => Catalog.run(spark, args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val engineLayers = engine.map(_.snapshot()).getOrElse(Map.empty)
    val contention = Map(
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
      "sentinel_start_sec" -> sentinelStart, "sentinel_end_sec" -> sentinelSec(spark))
    val rss = peakRssMb()
    // set-up time = session creation + the workload's set-up
    val e2e = out.metrics + ("setup_s" -> (createS + out.metrics("setup_s")._1, "s"))
    val spanLayers = Trace.layerTable()
    val perLayer: Map[String, Any] =
      if (args.trace) engineLayers ++ spanLayers ++ Map("trace.spans" -> Trace.count) else Map.empty
    val scored: Map[String, (Double, String)] =
      if (!args.trace) e2e
      else PerLayer.scored(engineLayers, spanLayers)
    val errorRate = if (out.attempted > 0) out.failed.toDouble / out.attempted else 1.0
    val result = Json.obj(
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scored.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val detail = Json.obj(
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "peak_rss_mb" -> rss,
      "error_rate" -> errorRate,
      "contention" -> contention,
      "workload" -> out.detail,
      "layers" -> (out.layers ++ perLayer))
    if (args.trace) Trace.writeSpans(s"${args.workDir}/spans.json")
    Files.writeString(Paths.get(args.result),
      s"""{"result":$result,"detail":$detail}""")
    spark.stop()
  }
}

/** Minimal JSON rendering for the result document. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case (a, b) => value(Seq(a, b))
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

/** Percentiles by the nearest-rank rule (no interpolation). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
