package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans recorded by the harness around each call into an engine
  * layer. Off (a plain call) unless the run is traced; written out once, at
  * the end of the run.
  */
object Trace {
  case class Span(
      id: Long, parent: Long, name: String, layer: String, req: Long,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, layer: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, layer, req, t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def count: Long = done.size.toLong

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children. */
  def selfTimes(): Seq[(Span, Long)] = {
    val all = done.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s -> (s.endNs - s.startNs - covered)
    }
  }

  /** Per layer: self time (ms) and span count. */
  def layerTable(): Map[String, Any] =
    if (!enabled) Map.empty
    else selfTimes().groupBy(_._1.layer).flatMap { case (layer, xs) =>
      Seq(s"$layer.self_ms" -> xs.map(_._2).sum / 1e6, s"$layer.spans" -> xs.size.toLong)
    }

  def writeSpans(path: String): Unit = {
    val rows = selfTimes().sortBy(_._1.startNs).map { case (s, self) =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rows.mkString("[", ",\n", "]"))
  }
}

/** Engine-side counters for a traced run: a SparkListener (jobs, stages,
  * tasks, task time, shuffle, spill, skew) and a QueryExecutionListener
  * (analysis / optimizer / planning / execution time of every action). */
class EngineListener extends SparkListener with QueryExecutionListener {
  private val jobs = new AtomicLong
  private val lastJobEnd = new AtomicLong(-1)
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskNs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]
  private val actions = new AtomicLong
  private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val execNs = new AtomicLong

  def reset(): Unit = synchronized {
    Seq(jobs, stages, tasks, taskNs, cpuNs, gcMs, shuffleBytes, spillBytes, actions, execNs)
      .foreach(_.set(0)); taskTimes.clear(); skews.clear(); phaseMs.clear()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet(); lastJobEnd.set(e.jobId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized {
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    synchronized {
      taskTimes.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (ts.size >= 2 && med > 0) skews += ts.max / med
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet(); execNs.addAndGet(durationNs)
    synchronized {
      qe.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait for the (asynchronous) listener bus to deliver every event up to
    * now: run one marker job and wait until its end is seen. */
  private def drain(spark: SparkSession): Unit = {
    spark.sparkContext.setJobGroup("perfbench-marker", "marker")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val marker = spark.sparkContext.statusTracker.getJobIdsForGroup("perfbench-marker").max
    val deadline = System.currentTimeMillis() + 10000
    while (lastJobEnd.get() < marker && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  private var session: SparkSession = _

  def snapshot(): Map[String, Any] = {
    drain(session)
    synchronized {
      Map(
        "spark.jobs" -> jobs.get(), "spark.stages" -> stages.get(),
        "spark.tasks" -> tasks.get(), "spark.task_ms" -> taskNs.get() / 1e6,
        "spark.task_cpu_ms" -> cpuNs.get() / 1e6, "spark.gc_ms" -> gcMs.get().toDouble,
        "spark.shuffle_write_bytes" -> shuffleBytes.get(), "spark.spill_bytes" -> spillBytes.get(),
        "spark.task_skew_p90" -> (if (skews.isEmpty) 1.0 else Stats.pct(skews.toSeq, 0.9)),
        "sql.actions" -> actions.get(),
        "sql.analysis_ms" -> phaseMs("analysis").toDouble,
        "sql.optimizer_ms" -> phaseMs("optimization").toDouble,
        "sql.planning_ms" -> phaseMs("planning").toDouble,
        "sql.exec_ms" -> execNs.get() / 1e6)
    }
  }
}

object EngineListener {
  private var current: Option[EngineListener] = None

  def install(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    l.session = spark
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    current = Some(l)
    l
  }

  /** Also count the actions of another session of the same context (each
    * session keeps its own QueryExecutionListeners). No-op when untraced. */
  def attach(spark: SparkSession): Unit = current.foreach(spark.listenerManager.register)
}

/** The per-layer metrics the benchmark scores in a traced run. Every
  * workload reports every one of them: engine counters plus the self time
  * of the session-glue spans, which every workload crosses. */
object PerLayer {
  val Units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.task_skew_p90" -> "ratio", "sql.actions" -> "count",
    "sql.analysis_ms" -> "ms", "sql.optimizer_ms" -> "ms", "sql.planning_ms" -> "ms",
    "sql.exec_ms" -> "ms", "session.self_ms" -> "ms")

  def scored(engine: Map[String, Any], spans: Map[String, Any]): Map[String, (Double, String)] = {
    val all = engine ++ spans
    Units.map { case (k, u) =>
      val v = all.get(k) match {
        case Some(n: Long) => n.toDouble
        case Some(n: Int) => n.toDouble
        case Some(d: Double) => d
        case _ => 0.0
      }
      k -> (v, u)
    }.toMap
  }
}
