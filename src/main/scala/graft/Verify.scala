package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json (the selected queries' DuckDB twins) for the DuckDB
  * compare in tools/oracle_check.py. Exits 1, after writing everything
  * else, when a selected query threw, a requested name is unknown or a
  * sketch answer is outside its error bound; stderr names each one. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args = subset of query names (local iteration;
    // the driver passes exactly two and dumps the full suite)
    val (sfDir, outDir) = (args(0), args(1))
    val wanted = args.drop(2).toSet
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => wanted(n) }
    // a query that throws, or a requested name that does not exist, fails
    // the run: the exit status, not a missing output dir, reports it
    val failed = scala.collection.mutable.ArrayBuffer.from(
      (wanted -- SparkEntry.queries.keySet).toSeq.sorted)
    failed.foreach(n => System.err.println(s"[verify] $n failed: no such query"))
    selected.foreach { case (name, fn) =>
      // drop a previous run's output first, so a query that fails before
      // its write starts cannot leave a stale result behind
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries cache intermediates (shingle sets, corpora) and pin
      // localCheckpoint blocks (d7 labels) that clearCache never sees;
      // release both so later queries aren't squeezed by earlier ones
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Sketch queries (q20 HLL++, q30 quantile summaries) are rows-only
    // in the DuckDB gate (engines' sketches differ); check them here
    // against the EXACT Spark answer and their documented error bounds,
    // so the gate artifact — not just a spec — carries the receipt
    // every round. q20: approx_count_distinct(rsd=0.05) within 3·rsd of
    // countDistinct per group. q30: each approx_percentile(φ, acc=1e4)
    // value v must be a valid φ±ε quantile in the tie-safe rank sense
    // (count(<v) ≤ (φ+ε)n and count(≤v) ≥ (φ−ε)n), ε = 1/acc plus one
    // row of discreteness slack.
    val sketchChecks = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (selected.contains("q20_approx_distinct")) try {
      import org.apache.spark.sql.functions._
      val approx = SparkEntry.queries("q20_approx_distinct")(spark, sfDir)
        .select(col("event_type"), col("n_users_approx")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = graft.Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val relErrs = exact.map { case (k, ex) =>
        math.abs(approx(k) - ex).toDouble / math.max(1L, ex) }
      val maxRel = if (relErrs.isEmpty) 0.0 else relErrs.max
      val bound = 3 * 0.05
      sketchChecks("q20_approx_distinct") =
        s"""{"max_rel_err":$maxRel,"bound":$bound,"ok":${maxRel <= bound}}"""
      if (maxRel > bound) {
        failed += "q20_approx_distinct"
        System.err.println(s"[verify] q20 sketch OUT OF BOUND: $maxRel > $bound")
      }
    } catch { case e: Throwable =>
      failed += "q20_approx_distinct"
      System.err.println(s"[verify] q20 bound check failed: ${e.getMessage}") }
    if (selected.contains("q30_approx_percentiles")) try {
      import org.apache.spark.sql.functions._
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("event_type"), col("value")).cache()
      val rows = SparkEntry.queries("q30_approx_percentiles")(spark, sfDir).collect()
      var maxViol = 0.0
      rows.foreach { r =>
        val et = r.getString(0)
        val grp = ev.filter(col("event_type") === et)
        val n = grp.count().toDouble
        Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2), 0.99 -> r.getDouble(3))
          .foreach { case (phi, v) =>
            val below = grp.filter(col("value") < v).count().toDouble
            val atOrBelow = grp.filter(col("value") <= v).count().toDouble
            val eps = 1.0 / 10000 + 1.5 / n
            // violation in rank units (fraction of n) beyond the band
            val viol = math.max(0.0,
              math.max(below / n - (phi + eps), (phi - eps) - atOrBelow / n))
            maxViol = math.max(maxViol, viol)
          }
      }
      ev.unpersist(blocking = false)
      sketchChecks("q30_approx_percentiles") =
        s"""{"max_rank_violation":$maxViol,"bound":0.0,"ok":${maxViol == 0.0}}"""
      if (maxViol > 0.0) {
        failed += "q30_approx_percentiles"
        System.err.println(s"[verify] q30 sketch OUT OF BOUND: rank violation $maxViol")
      }
    } catch { case e: Throwable =>
      failed += "q30_approx_percentiles"
      System.err.println(s"[verify] q30 bound check failed: ${e.getMessage}") }
    if (sketchChecks.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/sketch_bounds.json"),
        sketchChecks.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",", "}"))

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] failed: ${failed.distinct.mkString(" ")}")
      sys.exit(1)
    }
  }
}
