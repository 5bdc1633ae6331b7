package perfbench

import java.nio.file.{Files, Paths}

/** Authoring tool for the catalog workload: runs every `SparkEntry.queries`
  * entry once on the catalog tables and writes its Spark row count and time
  * (`spark_counts.json`) plus every DuckDB twin (`oracle_sql.json`), which
  * oracle_counts.py turns into catalog_counts.json.
  *
  *   java -cp <classpath> perfbench.CatalogSurvey <tablesDir> <outDir>
  */
object CatalogSurvey {
  def main(args: Array[String]): Unit = {
    val Array(tables, out) = args
    val spark = graft.GraftSession.create("perfbench-survey", "local[4]", shufflePartitions = 4)
    Files.createDirectories(Paths.get(out))
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val n = try fn(spark, tables).count() catch { case e: Exception =>
        System.err.println(s"[survey] $name failed: $e"); -1L }
      name -> Map("count" -> n, "ms" -> (System.nanoTime() - t0) / 1e6, "layer" -> Catalog.layerOf(name))
    }
    Files.writeString(Paths.get(out, "spark_counts.json"), Json.value(rows.toMap))
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.value(graft.SparkEntry.oracleSql))
    spark.stop()
  }
}
