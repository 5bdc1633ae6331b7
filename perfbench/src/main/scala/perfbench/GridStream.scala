package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sources.RollupTable
import graft.streaming.{GridConfig, StreamingDutyCycle}

/** `grid_stream`: the reference job, open loop, over 10,000 appliances. Two
  * streaming queries — the 25 s / 1 s duty cycle (`planAuto`) and the
  * full-measure rollup written as segments (`rollupPlanFull` +
  * `RollupTable.writeSegment`) — each read their own file source over the
  * same CSV files. A generator thread lays down one file per 100 ms on a
  * wall-clock schedule that never waits for the engine.
  *
  * Event time runs `Playback` times faster than wall time (a replay, as the
  * reference replays REDD), so every wall second closes `Playback` windows:
  * each window-end is one latency sample. Both queries trigger every
  * `TriggerMs` (the production posture of the rollup writer): back-to-back
  * triggers fed each batch's duration into the next batch's size, and the
  * latency median then moved 37% between seeds.
  */
object GridStream {
  val Playback = 14L          // event seconds per wall second
  val Rate = 4200L            // offered rows per wall second
  val TriggerMs = 3500L       // processing-time trigger of both queries
  val BacklogRows = 4200L     // laid down before start, drained first
  val TickMs = 100L
  val WarmupWallMs = 500L     // live window-ends in the first 0.5 s are not sampled
  val E0 = 1704070800L        // live event time starts here (2024-01-01T01:00Z)
  val BacklogEventSec: Long = BacklogRows * Playback / Rate
  val Conf = GridConfig(slideOverrideSec = Some(1))
  // 9,900 ordinary appliances of weight 1 and 100 hot ones of weight 10
  val ApplianceWeights = 10900L
  private val Names = Array("refrigerator", "dishwasher", "microwave", "oven", "washer",
    "dryer", "lighting", "heater", "ac", "tv", "computer", "kettle", "toaster",
    "freezer", "pump", "fan", "router", "charger", "iron", "vacuum")

  val schema: StructType = StructType(Seq(
    StructField("ts_ms", LongType), StructField("house_id", StringType),
    StructField("appliance_name", StringType), StructField("appliance_id", StringType),
    StructField("power", DoubleType), StructField("created_ms", LongType)))

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic reading source: row i of a seed. Readings of event second
    * s are rows [s·ρ, (s+1)·ρ) with ρ = Rate / Playback. */
  class Generator(seed: Long) {
    private val rowBuf = new java.lang.StringBuilder(1 << 20)
    var tooLate = 0L                       // planted >= 60 s late readings
    val maxCreatedBySec = new ConcurrentHashMap[Long, Long]()

    private def appliance(h: Long): Int = {
      val u = java.lang.Math.floorMod(h, ApplianceWeights).toInt
      if (u < 1000) (u / 10) * 100         // 1% hot appliances: 10x the readings
      else { val i = u - 1000; (i / 99) * 100 + (i % 99) + 1 }
    }

    private def power(a: Int, evSec: Long, h: Long): Double = {
      val ha = mix(seed, a.toLong) >>> 1
      val period = 20 + ha % 100
      val duty = 0.05 + (ha / 100 % 91) / 100.0
      val phase = ha / 10000 % period
      val on = ((evSec + phase) % period) < duty * period
      if (on) 20 + (ha / 1000000 % 1500) + java.lang.Math.floorMod(h, 100L) / 10.0
      else (ha % 300) / 100.0
    }

    /** Append rows [from, until) as CSV; live rows carry their scheduled
      * creation time (wall ms), backlog rows the time they were laid down. */
    def render(from: Long, until: Long, live: Boolean, t0Wall: Long): String = {
      rowBuf.setLength(0)
      var i = from
      while (i < until) {
        val h = mix(seed, i)
        val h2 = mix(h, 7L) >>> 1
        val nominalMs = (E0 - BacklogEventSec) * 1000L + i * 1000L * Playback / Rate
        val created = if (live) t0Wall + (i - BacklogRows) * 1000L / Rate else t0Wall
        val a = appliance(h)
        var ev = nominalMs
        if (h2 % 1000 < 10) ev -= 1 + (h2 / 1000) % 1000          // <= 1 s late, kept
        else if (live && h2 % 1000 == 999) {                        // >= 60 s late, dropped
          ev = (E0 - BacklogEventSec - 61 - tooLate) * 1000L
          tooLate += 1
        }
        if (live) maxCreatedBySec.merge(Math.floorDiv(ev, 1000L), created, (x, y) => math.max(x, y))
        val house = a / 20
        rowBuf.append(ev).append(",1_1_").append(house).append(',').append(Names(a % 20))
          .append(",1_1_").append(house).append('_').append(a % 20).append(',')
          .append(power(a, nominalMs / 1000, h)).append(',').append(created).append('\n')
        i += 1
      }
      rowBuf.toString
    }
  }

  def writeAtomically(dir: String, name: String, body: String): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  def readings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).csv(s"$dir/*/*.csv")
      .select(timestamp_millis(col("ts_ms")).as("time"), col("house_id"),
        col("appliance_name"), col("appliance_id"), col("power"))

  def run(spark: SparkSession, args: Main.Args): Outcome = {
    val work = args.workDir

    // set-up: lay down the backlog in a staging directory. Each phase's files
    // sit in their own subdirectory of the source, so the whole backlog is
    // published by one directory rename.
    val files = 20L
    val per = BacklogRows / files
    val stage = s"$work/stage"
    new File(s"$stage/backlog").mkdirs()
    val gen = new Generator(args.seed)
    val b0 = System.nanoTime()
    Trace.span("generate.backlog", "bench") {
      val t = System.currentTimeMillis()
      (0L until files).foreach { f =>
        writeAtomically(s"$stage/backlog", f"backlog-$f%03d.csv",
          gen.render(f * per, (f + 1) * per, live = false, t))
      }
    }
    val backlogS = (System.nanoTime() - b0) / 1e9
    val src = s"$work/src"
    new File(s"$src/live").mkdirs()

    // the two queries, each on its own file source over the same files
    val emitted = new ConcurrentHashMap[Long, (Long, Long, Double)]() // end_s -> (n, xor, emit ms)
    val segPath = s"$work/rollup_segments"
    val writeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val duty = Trace.span("StreamingDutyCycle.planAuto", "streaming") {
      StreamingDutyCycle.planAuto(readings(spark, src), Conf)
    }.writeStream.queryName("duty").outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"$work/ckpt_duty")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.groupBy("time_end")
          .agg(count(lit(1)), bit_xor(xxhash64(col("house_id"), col("appliance_id"), col("duty_cycle"))))
          .collect()
        val t = nowMs()
        rows.foreach { r =>
          val end = r.getTimestamp(0).getTime / 1000
          emitted.merge(end, (r.getLong(1), r.getLong(2), t),
            (a, b) => (a._1 + b._1, a._2 ^ b._2, math.max(a._3, b._3)))
        }
        ()
      }
    val rollup = Trace.span("StreamingDutyCycle.rollupPlanFull", "streaming") {
      StreamingDutyCycle.rollupPlanFull(readings(spark, src))
    }.writeStream.queryName("rollup").outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"$work/ckpt_rollup")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        Trace.span("RollupTable.writeSegment", "sources", id)(RollupTable.writeSegment(df, segPath, id))
        writeMs.add((System.nanoTime() - t0) / 1e6)
        ()
      }
    // drain: start both queries on the published backlog and let them
    // catch up (query start — planning, code generation, state stores — is
    // part of it, as after an outage); set-up ends when both are idle
    val d0 = System.nanoTime()
    Files.move(Paths.get(stage, "backlog"), Paths.get(src, "backlog"), StandardCopyOption.ATOMIC_MOVE)
    val qs = Seq(duty.start(), rollup.start())
    Trace.span("drain.processAllAvailable", "streaming")(qs.foreach(_.processAllAvailable()))
    val drainS = (System.nanoTime() - d0) / 1e9
    val drainBatches = qs.map(_.recentProgress.length)
    val setupS = backlogS + drainS

    // live phase: one file per tick, due at t0 + n·tick, never waiting
    val liveRows = Rate * args.seconds
    val ticks = args.seconds * 1000L / TickMs
    val perTick = liveRows / ticks
    // The live phase starts on the trigger clock: ProcessingTime triggers
    // fire at wall-clock multiples of TriggerMs. From a free start, the phase
    // between the first file and the next trigger (0 to 3.5 s) split the
    // latency medians of ten seeds into two groups 1.5 s apart.
    val t0Wall = ((System.currentTimeMillis() + 200) / TriggerMs + 1) * TriggerMs
    var lagMax = 0.0
    val genThread = new Thread(() => {
      (1L to ticks).foreach { n =>
        val due = t0Wall + n * TickMs
        val sleep = due - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep)
        val from = BacklogRows + (n - 1) * perTick
        writeAtomically(s"$src/live", f"live-$n%05d.csv", gen.render(from, from + perTick, live = true, t0Wall))
        lagMax = math.max(lagMax, nowMs() - due)
      }
    })
    genThread.start()
    genThread.join()
    val backlogEnd = BacklogRows + liveRows - qs.head.recentProgress.map(_.numInputRows).sum
    Trace.span("live.processAllAvailable", "streaming")(qs.foreach(_.processAllAvailable()))
    qs.foreach(_.stop())
    val Seq(dutyP, rollupP) = qs.map(_.recentProgress.toSeq)

    def watermarkMs(ps: Seq[StreamingQueryProgress]): Long = ps.lastOption
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
    // drain rate: the drain batches' own rows over their own trigger time,
    // both queries, which leaves query start out. At a 1 s backlog the first
    // batch's one-time costs (code generation, state stores) still dominate
    // it; `cold_drain_s` carries the drain's wall time, query start included
    def rowsPerBusyS(ps: Seq[StreamingQueryProgress]): Double = {
      val data = ps.filter(_.numInputRows > 0)
      data.map(_.numInputRows).sum / (data.map(_.durationMs.get("triggerExecution").longValue).sum / 1e3)
    }
    val drainRate = rowsPerBusyS(Seq(dutyP, rollupP).zip(drainBatches).flatMap { case (p, n) => p.take(n) })
    // processing rate: rows over busy time of every live data batch, both
    // queries (batch 0 is the cold drain)
    val liveRate = rowsPerBusyS(Seq(dutyP, rollupP).zip(drainBatches).flatMap { case (p, n) => p.drop(n) })
    val wmDuty = watermarkMs(dutyP)
    val wmRollup = watermarkMs(rollupP)

    // latency per live window-end: last emission - creation of its last reading
    val warmEnd = E0 + WarmupWallMs * Playback / 1000
    // Window-ends closed by one trigger share its emission time: the samples
    // come from a few emitting batches (`emitting_batches` on the detail line)
    val timed = emitted.asScala.toSeq.filter { case (end, _) => end > warmEnd }.flatMap {
      case (end, (_, _, emitMs)) =>
        val lastCreated = (end - Conf.windowSec until end)
          .flatMap(s => Option(gen.maxCreatedBySec.get(s))).map(_.longValue)
        if (lastCreated.isEmpty) None else Some((emitMs, emitMs - lastCreated.max))
    }
    val samples = timed.map(_._2)

    // compaction after the live phase, traced runs only: it moves no
    // end-to-end metric (the rows it rewrote are checked below)
    val segFilesBefore = countFiles(new File(segPath))
    val c0 = System.nanoTime()
    if (Trace.enabled)
      Trace.span("RollupTable.compactSegments", "sources")(RollupTable.compactSegments(spark, segPath))
    val compactS = (System.nanoTime() - c0) / 1e9

    // output checks against a batch recomputation over the same files
    val all = spark.read.schema(schema).csv(s"$src/*/*.csv")
    val kept = all.filter(col("ts_ms") >= (E0 - BacklogEventSec - 2) * 1000L)
      .select(timestamp_millis(col("ts_ms")).as("time"), col("house_id"),
        col("appliance_name"), col("appliance_id"), col("power"))
    val expected = Trace.span("check.plan.batch", "streaming") {
      StreamingDutyCycle.plan(kept, Conf)
        .filter(col("time_end") <= timestamp_millis(lit(wmDuty)))
        .groupBy("time_end")
        .agg(count(lit(1)), bit_xor(xxhash64(col("house_id"), col("appliance_id"), col("duty_cycle"))))
        .collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> (r.getLong(1), r.getLong(2))).toMap
    }
    val closedEmitted = emitted.asScala.filter { case (end, _) => end * 1000 <= wmDuty }
      .map { case (end, (n, x, _)) => end -> (n, x) }.toMap
    val windowMismatch = (expected.keySet ++ closedEmitted.keySet).count(k =>
      expected.get(k) != closedEmitted.get(k))
    val keptClosed = kept.filter(
      (floor(unix_millis(col("time")) / 1000) + 1) * 1000 <= wmRollup).count()
    val segs = RollupTable.readSegments(spark, segPath)
    val (sumCnt, segRows) = Trace.span("RollupTable.readSegments", "sources") {
      val r = segs.agg(sum("cnt"), count(lit(1))).head(); (r.getLong(0), r.getLong(1))
    }
    val dropped = rollupP.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val checks = Map(
      "window_ends_checked" -> expected.size.toLong,
      "window_ends_mismatched" -> windowMismatch.toLong,
      "rollup_sum_cnt" -> sumCnt, "rollup_kept_rows" -> keptClosed,
      "late_dropped" -> dropped, "late_planted" -> gen.tooLate)
    val failed = windowMismatch.toLong + (if (sumCnt != keptClosed) 1 else 0) +
      (if (dropped != gen.tooLate) 1 else 0)
    val attempted = expected.size.toLong + 3

    val segBytes = dirBytes(new File(segPath))
    def trig(ps: Seq[StreamingQueryProgress], key: String) =
      ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
    val lastState = dutyP.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val layers: Map[String, Any] = Map(
      "streaming.trigger_ms_p50" -> Stats.median(trig(dutyP, "triggerExecution")),
      "streaming.trigger_ms_max" -> trig(dutyP, "triggerExecution").maxOption.getOrElse(0.0),
      "streaming.add_batch_ms_p50" -> Stats.median(trig(dutyP, "addBatch")),
      "streaming.planning_ms_p50" -> Stats.median(trig(dutyP, "queryPlanning")),
      "streaming.commit_ms_p50" -> Stats.median(trig(dutyP, "commitOffsets")),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal).sum,
      "streaming.state_bytes" -> lastState.map(_.memoryUsedBytes).sum,
      "streaming.state_commit_ms_p50" ->
        Stats.median(dutyP.flatMap(_.stateOperators).map(_.commitTimeMs.toDouble)),
      "streaming.rows_dropped_late" -> dropped,
      "streaming.backlog_rows_end" -> backlogEnd,
      "streaming.triggers" -> dutyP.size.toLong,
      "streaming.rollup_trigger_ms_p50" -> Stats.median(trig(rollupP, "triggerExecution")),
      "generator.lag_ms_max" -> lagMax,
      "sources.write_segment_ms_p50" -> Stats.median(writeMs.asScala.toSeq),
      "sources.write_segment_ms_p90" -> Stats.pct(writeMs.asScala.toSeq, 0.9),
      "sources.segment_files" -> segFilesBefore,
      "sources.stored_bytes_per_row" -> segBytes.toDouble / math.max(1L, segRows),
      "sources.compact_s" -> compactS)
    val p50 = Stats.median(samples); val p90 = Stats.pct(samples, 0.9)
    Outcome(attempted, failed,
      Map("setup_s" -> (setupS, "s"), "op_p50_ms" -> (p50, "ms"),
        "throughput_per_s" -> (liveRate, "1/s")),
      Map("stream_drain_rows_per_s" -> drainRate,
        "stream_rows_per_busy_s" -> liveRate,
        "stream_latency_p50_s" -> p50 / 1000, "stream_latency_p90_s" -> p90 / 1000,
        "latency_samples" -> samples.size.toLong,
        "emitting_batches" -> timed.map(_._1).distinct.size.toLong,
        "readings_per_appliance_window" -> Rate.toDouble / Playback / ApplianceWeights * Conf.windowSec,
        "offered_rows_per_s" -> Rate,
        "live_s" -> args.seconds.toLong, "playback" -> Playback, "backlog_rows" -> BacklogRows,
        "cold_drain_s" -> drainS, "trigger_ms" -> TriggerMs, "checks" -> checks),
      layers)
  }

  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall-clock time in ms with sub-millisecond resolution. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def countFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L
  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L
}
