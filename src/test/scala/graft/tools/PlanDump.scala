package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries — the round's plan
  * receipts (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: tools/run.sh graft.tools.PlanDump <sfDir> <outDir> <suffix> [names...]
  *
  * Iterative queries that run driver actions while BUILDING the frame
  * (g1/g2, kmeans, d7) execute those rounds during the dump; the
  * captured plan is the final frame's — noted in OPTIMIZATION_r17.md
  * where it matters.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val wanted = args.drop(3).toSet
    val spark = graft.LocalSession()
    Files.createDirectories(Paths.get(outDir))
    val selected =
      if (wanted.isEmpty) graft.SparkEntry.queries
      else graft.SparkEntry.queries.filter { case (n, _) => wanted(n) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
