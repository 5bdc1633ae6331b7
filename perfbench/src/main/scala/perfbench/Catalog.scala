package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `catalog`: a fixed subset of `SparkEntry.queries` on the fixed catalog
  * tables (gen_tables.py), each run with `count()` in a seeded order. One
  * cold pass is the set-up; timed passes then repeat until `--seconds` have
  * passed (at least three). Every count must equal the query's DuckDB twin
  * (`SparkEntry.oracleSql`) over the same tables, stored in
  * catalog_counts.json.
  */
object Catalog {

  /** Layer of a catalog query: the engine module that defines it. */
  def layerOf(name: String): String = {
    import graft.operators._
    import graft.text._
    val byModule: Seq[(Map[String, _], String)] = Seq(
      Grid.queries -> "operators", Dashboard.queries -> "operators",
      Relational.queries -> "operators", Extended.queries -> "operators",
      Behavioral.queries -> "operators", GraphOps.queries -> "operators",
      QualityChecks.queries -> "operators",
      TextOps.queries -> "text", CorpusPipeline.queries -> "text",
      CurationOps.queries -> "text", FilterRules.queries -> "text",
      QualityClassifier.queries -> "text",
      graft.dedup.DedupOps.queries -> "dedup", graft.ann.SimilarityOps.queries -> "ann",
      graft.multimodal.MediaOps.queries -> "multimodal",
      graft.sources.ZOrderLayout.queries -> "sources")
    byModule.collectFirst { case (m, l) if m.contains(name) => l }.getOrElse("other")
  }

  /** The fixed query subset: one heavy query of each family only this
    * workload reaches that has one (text, ann, multimodal, ZOrderLayout) plus
    * eleven light ones (~0.2 s warm each on 4 cores, dedup among them), so
    * the median measures the fixed per-query overhead and p90 the heavy
    * tail. `q_minhash_lsh_pairs` (~2 s warm) is left out: it alone took a
    * third of a pass, and a run has no time for it (perfbench/NOTES.md). */
  val Subset: Seq[String] = Seq(
    "q_tfidf_topterms", "q_ivf_topk", "q_audio_neardup", "q_zorder_stats",
    "q_lang_id", "q_token_stats", "q_gopher_rules", "q_media_meta", "q_image_ahash",
    "q_quantize_sq8", "q_label_stats", "q_dedup_exact", "q_simhash_fp",
    "q_power_by_house", "q_recent_range")

  def loadCounts(benchDir: String): Map[String, Long] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchDir, "catalog_counts.json")), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  case class Exec(name: String, layer: String, ms: Double, buildMs: Double, planMs: Double,
      countMs: Double, ok: Boolean)

  def once(spark: SparkSession, dir: String, name: String, expected: Long, req: Long): Exec = {
    val layer = layerOf(name)
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try {
      val df = Trace.span("query.build", layer, req)(fn(spark, dir))
      val t1 = System.nanoTime()
      // traced runs time the query's own physical planning separately
      if (Trace.enabled) Trace.span("plan.executed", "plans", req)(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val n = Trace.span("query.count", layer, req)(df.count())
      val t3 = System.nanoTime()
      if (n != expected) System.err.println(s"[perfbench] $name counted $n, DuckDB $expected")
      Exec(name, layer, (t3 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        n == expected)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        Exec(name, layer, Double.PositiveInfinity, 0, 0, 0, ok = false)
    }
  }

  def run(spark: SparkSession, args: Main.Args): Outcome = {
    val counts = loadCounts(args.benchDir)
    val order = new Random(args.seed).shuffle(Subset)
    var req = 0L
    def pass(): Seq[Exec] = order.map { q => req += 1; once(spark, args.tables, q, counts(q), req) }
    // set-up: one untimed cold pass
    val s0 = System.nanoTime()
    val cold = pass()
    val setupS = (System.nanoTime() - s0) / 1e9
    // timed passes until --seconds have passed, and at least three, so that
    // every query's median is the middle of an odd count: with a pass count
    // that changed near the deadline, the median moved with it
    val t0 = System.nanoTime()
    val timed = Iterator.continually(pass())
      .scanLeft((Seq.empty[Exec], 0)) { case ((acc, n), p) => (acc ++ p, n + 1) }
      .dropWhile { case (_, n) => n < 3 || System.nanoTime() - t0 < args.seconds * 1000000000L }
      .next()._1
    val loopS = (System.nanoTime() - t0) / 1e9
    // per query, the median of its executions; the scored p50 is the median
    // over queries, so a single slow execution (a GC pause) moves nothing
    val perQuery = timed.groupBy(_.name).map { case (q, xs) => q -> Stats.median(xs.map(_.ms)) }
    val ms = perQuery.values.toSeq
    val passes = timed.size / order.size
    val byLayer = timed.groupBy(_.layer).map { case (l, xs) =>
      s"catalog.${l}_s" -> xs.map(_.ms).filterNot(_.isInfinite).sum / 1000 / passes }
    val layers: Map[String, Any] = byLayer ++ Map(
      "catalog.build_s" -> timed.map(_.buildMs).sum / 1000 / passes,
      "catalog.plan_s" -> timed.map(_.planMs).sum / 1000 / passes,
      "catalog.exec_s" -> timed.map(_.countMs).sum / 1000 / passes,
      "catalog.passes" -> passes.toLong)
    val failed = (cold ++ timed).count(!_.ok).toLong
    val p50 = Stats.median(ms); val p90 = Stats.pct(ms, 0.9)
    Outcome((cold ++ timed).size.toLong, failed,
      Map("setup_s" -> (setupS, "s"), "op_p50_ms" -> (p50, "ms"),
        "throughput_per_s" -> (timed.count(_.ok) / loopS, "1/s")),
      Map("catalog_s" -> perQuery.values.sum / 1000, "catalog_query_p50_ms" -> p50,
        "catalog_query_p90_ms" -> p90, "queries" -> order.size.toLong, "passes" -> passes.toLong,
        "executions" -> timed.size.toLong,
        "count_mismatch" -> (cold ++ timed).filterNot(_.ok).map(_.name).distinct,
        "query_ms" -> perQuery),
      layers)
  }
}
