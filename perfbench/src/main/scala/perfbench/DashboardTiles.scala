package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, expr, lit}

import graft.{GraftSession, Tables}
import graft.plans.RollupRewrite
import graft.sources.RollupTable

/** `dashboard_tiles`: closed-loop reads of the rollup lattice. Set-up writes
  * a dense grid `events.parquet` (2 h x 10 appliances x 4 Hz) beside the
  * catalog's other tables and opens it with `GraftSession.open` and 60 s /
  * 3600 s lattice levels. After an untimed warm-up, two client threads each
  * send their next tile request when the last returns, drawn from a seeded
  * mix over the `power` view; every request must be served from the lattice
  * level it is eligible for, and each tile's first result must equal the
  * raw (un-routed) answer.
  */
object DashboardTiles {
  val Hours = 2L; val Apps = 10L; val Hz = 4L
  val B0 = 1704067200L                       // 2024-01-01T00:00Z
  val End: Long = B0 + Hours * 3600
  val Clients = 2
  val WarmupS = 3.0                          // untimed closed loop before the timed one

  private val Dec = "CAST(power AS DECIMAL(18,2))"

  /** A tile: name, the lattice level it is eligible for, and its SQL for a
    * random draw of its time filter. */
  case class Tile(name: String, level: Long, sql: java.util.Random => String)

  private def hourStart(r: java.util.Random) = if (r.nextDouble() < 0.8) End - 3600 else B0
  private def minuteStart(r: java.util.Random) =
    if (r.nextDouble() < 0.8) End - 60L * (5 + r.nextInt(55)) else B0 + 60L * r.nextInt(60)
  private def secondStart(r: java.util.Random) =
    if (r.nextDouble() < 0.8) End - 120 - r.nextInt(480) else B0 + r.nextInt(3000)
  private def house(r: java.util.Random) = s"1_1_${r.nextInt(5)}"

  val tiles: Seq[Tile] = Seq(
    Tile("total_power", 3600, r =>
      s"SELECT CAST(SUM($Dec) AS DOUBLE) AS total_power FROM power WHERE epoch_s >= ${hourStart(r)}"),
    Tile("top10_appliance_names", 3600, r =>
      s"""SELECT appliance_name, SUM($Dec) AS p FROM power WHERE epoch_s >= ${hourStart(r)}
         |GROUP BY 1 ORDER BY p DESC, appliance_name LIMIT 10""".stripMargin),
    Tile("top10_houses", 3600, r =>
      s"""SELECT house_id, SUM($Dec) AS p FROM power WHERE epoch_s >= ${hourStart(r)}
         |GROUP BY 1 ORDER BY p DESC, house_id LIMIT 10""".stripMargin),
    Tile("top10_appliances", 3600, r =>
      s"""SELECT appliance_id, SUM($Dec) AS p FROM power WHERE epoch_s >= ${hourStart(r)}
         |GROUP BY 1 ORDER BY p DESC, appliance_id LIMIT 10""".stripMargin),
    Tile("duty_cycle_house", 1, r =>
      s"""SELECT appliance_id, SUM(duty) AS sum_duty_cycle FROM (
         |  SELECT window(time, '25 seconds', '5 seconds') AS w, appliance_id,
         |         count(CASE WHEN power > 5.0 THEN 1 END) / count(power) AS duty
         |  FROM power WHERE house_id = '${house(r)}' AND epoch_s >= ${minuteStart(r)}
         |  GROUP BY 1, 2)
         |GROUP BY 1 ORDER BY sum_duty_cycle DESC, appliance_id""".stripMargin),
    Tile("power_trend_5s", 1, r =>
      s"""SELECT (epoch_s div 5) * 5 AS bucket_s, SUM($Dec) AS p FROM power
         |WHERE epoch_s >= ${secondStart(r)} GROUP BY 1 ORDER BY bucket_s""".stripMargin),
    Tile("history_house", 3600, r =>
      s"""SELECT appliance_id, AVG(power) AS avg_power FROM power
         |WHERE house_id = '${house(r)}' AND epoch_s >= ${hourStart(r)}
         |GROUP BY 1 ORDER BY avg_power DESC, appliance_id""".stripMargin),
    Tile("house_series_1s", 1, r =>
      s"""SELECT epoch_s, appliance_id, SUM($Dec) AS p FROM power
         |WHERE house_id = '${house(r)}' AND epoch_s >= ${secondStart(r)}
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Tile("duty_25s_5s", 1, r =>
      s"""SELECT window(time, '25 seconds', '5 seconds') AS w, house_id, appliance_id,
         |       count(CASE WHEN power > 5.0 THEN 1 END) / count(power) AS duty_cycle
         |FROM power WHERE epoch_s >= ${minuteStart(r)} GROUP BY 1, 2, 3""".stripMargin),
    Tile("minute_trend", 60, r =>
      s"""SELECT (epoch_s div 60) * 60 AS minute, SUM($Dec) AS p, MAX(power) AS peak
         |FROM power WHERE epoch_s >= ${minuteStart(r)} GROUP BY 1 ORDER BY 1""".stripMargin),
    Tile("hour_trend", 3600, _ =>
      s"""SELECT (epoch_s div 3600) * 3600 AS hour, SUM($Dec) AS p, MIN(power) AS lo,
         |       MAX(power) AS hi, COUNT(*) AS n FROM power GROUP BY 1 ORDER BY 1""".stripMargin),
    Tile("percentile_p95", 3600, r =>
      s"""SELECT house_id, percentile_approx(power, 0.95) AS p95 FROM power
         |WHERE epoch_s >= ${hourStart(r)} GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Dense grid events with the TESTDATA events schema (ts as epoch ns). */
  def writeGrid(spark: SparkSession, dir: String, seed: Long): Unit =
    spark.range(Hours * 3600 * Apps * Hz).select(
      col("id").as("event_id"),
      expr(s"(id div ${Apps * Hz} + $B0) * 1000000000 + (id % $Hz) * ${1000000000L / Hz}").as("ts"),
      expr(s"(id div $Hz) % $Apps").as("user_id"),
      expr(s"element_at(array('fridge','oven','washer','dryer','heater','ac','tv','pump'), " +
        s"CAST((id div $Hz) % $Apps % 8 AS INT) + 1)").as("event_type"),
      expr(s"""CASE WHEN pmod(xxhash64((id div $Hz) % $Apps, id div ${Apps * Hz * 60}, $seed), 10) < 4
              |THEN CAST(pmod(xxhash64(id, $seed), 400) AS DOUBLE) / 100.0
              |ELSE CAST(2000 + pmod(xxhash64(id, $seed), 200000) AS DOUBLE) / 100.0 END""".stripMargin)
        .as("value"),
      lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")

  def setUp(spark: SparkSession, dir: String, tables: String, seed: Long): SparkSession = {
    new File(dir).mkdirs()
    Trace.span("generate.grid", "bench")(writeGrid(spark, dir, seed))
    Tables.AllTables.filterNot(_ == "events").foreach { t =>
      Files.createSymbolicLink(Paths.get(dir, s"$t.parquet"), Paths.get(tables, s"$t.parquet"))
    }
    Trace.span("GraftSession.open", "session") {
      GraftSession.open(dir, s"$dir/lattice", "perfbench", coarseGranularities = Seq(60L, 3600L))
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case s: FileSourceScanExec => s }
  }

  private val LevelRe = "lattice(?:_(\\d+)s)?$".r.unanchored

  /** Lattice level each scan reads (-1 = a raw events scan or anything else). */
  def levels(p: SparkPlan): Seq[Long] = Plans.scans(p).map { s =>
    s.relation.location.rootPaths.map(_.toString).headOption match {
      case Some(LevelRe(g)) => Option(g).map(_.toLong).getOrElse(1L)
      case _ => -1L
    }
  }

  case class Req(tile: String, ms: Double, planMs: Double, execMs: Double,
      ok: Boolean, level: Long, scanRows: Long, scanBytes: Long, files: Long)

  /** One tile request: plan, execute, check the level it was served from. */
  def request(spark: SparkSession, t: Tile, sql: String, id: Long): (Req, Array[Row]) = {
    val t0 = System.nanoTime()
    try {
      val df = Trace.span("spark.sql", "plans", id)(spark.sql(sql))
      Trace.span("plan.executed", "plans", id)(df.queryExecution.executedPlan)
      val t1 = System.nanoTime()
      val rows = Trace.span(s"exec.collect.${t.name}", "operators", id)(df.collect())
      val t2 = System.nanoTime()
      val finalPlan = df.queryExecution.executedPlan
      val lv = levels(finalPlan).distinct
      val scans = Plans.scans(finalPlan)
      def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      (Req(t.name, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        lv == Seq(t.level), lv.headOption.getOrElse(-1L),
        scans.map(m(_, "numOutputRows")).sum, scans.map(m(_, "filesSize")).sum,
        scans.map(m(_, "numFiles")).sum), rows)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] tile ${t.name} failed: $e")
        (Req(t.name, Double.PositiveInfinity, 0, 0, ok = false, -1, 0, 0, 0), Array.empty)
    }
  }

  /** Row equality with the documented tolerances: doubles to 1e-9
    * relative (decimal-exact sums rendered as double), percentiles to two
    * histogram bins (the served sketch is exact over BinWidth-quantized
    * values; the raw function is itself approximate). */
  def sameRows(tile: String, a: Array[Row], b: Array[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
    val (x, y) = (a.sortBy(key), b.sortBy(key))
    val tol = if (tile == "percentile_p95") 2 * graft.functions.PowerHist.BinWidth else 0.0
    x.length == y.length && x.zip(y).forall { case (r, s) =>
      r.length == s.length && r.toSeq.zip(s.toSeq).forall {
        case (p: Double, q: Double) =>
          math.abs(p - q) <= math.max(tol, 1e-9 * math.max(math.abs(p), math.abs(q)))
        case (p, q) => p == q
      }
    }
  }

  /** The closed loop: `Clients` threads, each sending its next request when
    * the last returns, until `seconds` have passed. Each client walks seeded
    * shuffles of the tile list, so every run's mix holds each tile equally
    * often (a free draw left the mix, and with it the latency median, to the
    * seed). Returns the requests and the loop's wall time. */
  def loop(spark: SparkSession, seed: Long, seconds: Double, ids: AtomicLong): (Seq[Req], Double) = {
    val reqs = new ConcurrentLinkedQueue[Req]()
    val l0 = System.nanoTime()
    val deadline = l0 + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      val th = new Thread(() => {
        val rng = new java.util.Random(seed * 31 + c)
        val next = Iterator.continually(new scala.util.Random(rng).shuffle(tiles)).flatten
        while (System.nanoTime() < deadline) {
          val t = next.next()
          reqs.add(request(spark, t, t.sql(rng), ids.incrementAndGet())._1)
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    (reqs.asScala.toSeq, (System.nanoTime() - l0) / 1e9)
  }

  def run(spark0: SparkSession, args: Main.Args): Outcome = {
    // one set-up per run: each costs ~10 s of GraftSession.open on 4 cores
    val dir = s"${args.workDir}/dash"
    val s0 = System.nanoTime()
    val spark = setUp(spark0, dir, args.tables, args.seed)
    EngineListener.attach(spark)

    // warm pass: every tile once; its rows are the tile's first result
    val rng0 = new java.util.Random(args.seed)
    val first = tiles.map { t =>
      val sql = t.sql(rng0)
      val (req, rows) = request(spark, t, sql, -1)
      (t, sql, req, rows)
    }
    // warm-up: the closed loop itself, untimed. Tile latency fell by a
    // quarter over a 30 s loop as the JIT caught up; an 8 s loop from a
    // single warm pass measured mostly how far it got
    val ids = new AtomicLong()
    val (warm, _) = Trace.span("warmup.loop", "bench")(loop(spark, args.seed + 7, WarmupS, ids))
    val setupS = (System.nanoTime() - s0) / 1e9

    val (all, loopS) = loop(spark, args.seed, args.seconds, ids)

    // first results against the same SQL with the routing rule uninstalled
    RollupRewrite.uninstall(spark)
    val wrong = first.filterNot { case (t, sql, req, rows) =>
      val raw = Trace.span("check.raw", "bench")(spark.sql(sql).collect())
      val rawLevels = levels(spark.sql(sql).queryExecution.executedPlan).distinct
      req.ok && rawLevels == Seq(-1L) && sameRows(t.name, rows, raw)
    }.map(_._1.name)

    val materialize = if (!Trace.enabled) Map.empty[String, Any] else {
      val scratch = s"${args.workDir}/materialize_probe"
      val t0 = System.nanoTime()
      Trace.span("RollupTable.materialize", "sources")(RollupTable.materialize(spark, dir, scratch))
      val t1 = System.nanoTime()
      Trace.span("RollupTable.materializeCoarse", "sources") {
        RollupTable.materializeCoarse(spark, scratch, s"${scratch}_60s", 60L)
        RollupTable.materializeCoarse(spark, s"${scratch}_60s", s"${scratch}_3600s", 3600L)
      }
      Map("sources.materialize_s" -> (t1 - t0) / 1e9,
        "sources.materialize_coarse_s" -> (System.nanoTime() - t1) / 1e9)
    }

    val done = all.filter(_.ok)
    val lat = all.map(_.ms)
    val n = all.size.toDouble
    val layers: Map[String, Any] = Map(
      "plans.tile_plan_ms_p50" -> Stats.median(done.map(_.planMs)),
      "plans.routed_share" -> done.size / n,
      "plans.level_share_1s" -> all.count(_.level == 1) / n,
      "plans.level_share_60s" -> all.count(_.level == 60) / n,
      "plans.level_share_3600s" -> all.count(_.level == 3600) / n,
      "functions.percentile_tile_ms_p50" ->
        Stats.median(done.filter(_.tile == "percentile_p95").map(_.ms)),
      "sources.scan_rows_per_tile_p50" -> Stats.median(done.map(_.scanRows.toDouble)),
      "sources.scan_bytes_per_tile_p50" -> Stats.median(done.map(_.scanBytes.toDouble)),
      "sources.files_per_tile_p50" -> Stats.median(done.map(_.files.toDouble))) ++
      tiles.map(t => s"operators.tile_exec_ms_p50.${t.name}" ->
        Stats.median(done.filter(_.tile == t.name).map(_.execMs))) ++ materialize
    val p50 = Stats.median(lat); val p90 = Stats.pct(lat, 0.9); val p95 = Stats.pct(lat, 0.95)
    // warm-up requests are checked like timed ones (every request must be
    // routed) but not timed
    val failed = (all ++ warm).count(!_.ok).toLong + wrong.size
    Outcome(all.size.toLong + warm.size + first.size, failed,
      Map("setup_s" -> (setupS, "s"), "op_p50_ms" -> (p50, "ms"),
        "throughput_per_s" -> (done.size / loopS, "1/s")),
      Map("tile_latency_p50_ms" -> p50, "tile_latency_p90_ms" -> p90, "tile_latency_p95_ms" -> p95,
        "tiles_per_s" -> done.size / loopS, "requests" -> all.size.toLong, "warmup_requests" -> warm.size.toLong, "clients" -> Clients.toLong,
        "loop_s" -> loopS, "first_result_mismatch" -> wrong, "grid_rows" -> Hours * 3600 * Apps * Hz),
      layers)
  }
}
