package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-family scale probe (round 11): materializes a ×F replica of a
  * fixture directory under /tmp and times a representative heavy slice
  * of `SparkEntry.queries` at ×1 and ×F, so the "would this hold at 10×
  * the data" question gets a measured answer per operator family
  * instead of a per-part receipt only (the n=4M semantic-dedup
  * assignment receipt, SURVEY.md's d9 row).
  *
  * Replication is referentially consistent: fact tables get per-replica
  * key offsets (orderkey/doc_id/vec_id/event_id); dimension tables are
  * copied verbatim so FK joins stay valid and dims stay broadcast-able
  * — exactly how a larger corpus grows (more facts, same dims).
  * Replica 0 is bit-identical to the source; replicas i>0 perturb:
  *  - documents.text gets a ' r<i>' suffix (every replica family is a
  *    near-dup cluster — the worst realistic case for the MinHash /
  *    Jaccard / SimHash banding and the d7 component loop),
  *  - embeddings get +sin(id·64+j)·1e-3 per dim (distinct vectors, no
  *    degenerate cosine ties),
  * so the ×F corpus stresses the candidate-generation paths instead of
  * collapsing into exact duplicates.
  *
  * Usage: tools/run.sh graft.ScaleSuiteProbe [factor] [srcDir] [outRoot]
  * (needs test-classes appended to the runner's -cp:
  *  target/scala-2.13/classes, target/scala-2.13/test-classes, the
  *  spark jars dir).
  * Prints one JSON line: per-query ×1/×F medians and the growth ratio.
  */
object ScaleSuiteProbe {

  /** One heavy representative per operator family — the queries whose
    * shuffles/joins/loops would be the 100 TB bottlenecks.
    */
  val ProbeQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q4_broadcast_join_agg", "q9_latest_per_key",
    "q21_sessionize",
    "d1_jaccard_pairs", "d2_minhash_pairs", "d3_simhash_pairs",
    "d7_dup_clusters", "d11_bloom_decontaminate",
    "t19_paragraph_dedup", "t22_gopher_filter", "t25_c4_filter", "t33_bm25",
    "s1_cosine_topk", "s13_probe_sweep", "s3b_kmeans_fixed",
    "m1_vocabulary", "m19_bigram_nll",
    "g1b_pagerank_fixed", "g4_triangles")

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val root = if (args.length > 2) args(2) else "/tmp/graft-scale"
    // optional trailing args = subset of queries (e.g. the ×50 headroom
    // pass skips the quadratic-output pair enumerators). Any
    // SparkEntry.queries name is accepted, so one-off shape A/Bs (the
    // round-11 m19 experiment) can probe queries outside ProbeQueries.
    val wanted = args.drop(3).toSet
    val probeQs =
      if (wanted.isEmpty) ProbeQueries
      else SparkEntry.queries.keys.toSeq.filter(wanted)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // core count honors SPARK_GRAFT_CPUS (via LocalSession, default 32)
    // so the ×10/×50 probes can measure core-scaling (8 vs 32) — the r17
    // verdict's ask: sf0.1 wall-clock can no longer price parallelism
    // (the 8-core driver run beat the 32-core one), so scale receipts
    // must come from a size where cores matter.
    val spark = LocalSession()

    /** ×f copies of `df`; key columns in `offsets` shift by
      * replica · (max+1) so every replica owns a disjoint key range.
      */
    def replicate(df: DataFrame, f: Int, keys: Seq[String]): DataFrame = {
      val offs = keys.map { k =>
        k -> (df.agg(max(col(k))).first().getLong(0) + 1L)
      }
      var out = df.select(col("*"),
        explode(sequence(lit(0L), lit(f - 1L))).as("rep"))
      for ((k, off) <- offs)
        out = out.withColumn(k, col(k) + col("rep") * off)
      out
    }

    def writeScaled(f: Int, outDir: String): Unit = {
      val fs = java.nio.file.Paths.get(outDir)
      java.nio.file.Files.createDirectories(fs)
      def save(df: DataFrame, name: String): Unit =
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      // dims verbatim — a bigger corpus has more facts, not more dims
      for (t <- Seq("region", "nation", "customer", "supplier", "part"))
        save(spark.read.parquet(s"$src/$t.parquet"), t)
      save(replicate(spark.read.parquet(s"$src/orders.parquet"), f,
        Seq("o_orderkey")).drop("rep"), "orders")
      save(replicate(spark.read.parquet(s"$src/lineitem.parquet"), f,
        Seq("l_orderkey")).drop("rep"), "lineitem")
      save(replicate(Tables.events(spark, src), f,
        Seq("event_id")).drop("rep"), "events")
      save(replicate(Tables.documents(spark, src), f, Seq("doc_id"))
        .withColumn("text", when(col("rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("rep"))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("rep"), "documents")
      save(replicate(Tables.embeddings(spark, src), f, Seq("vec_id"))
        .withColumn("embedding", when(col("rep") === 0, col("embedding"))
          .otherwise(expr(
            "transform(embedding, (x, j) -> cast(x + sin(vec_id * 64 + j) * 0.001d as float))")))
        .drop("rep"), "embeddings")
    }

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // double-GC with a drain pause: the first gc() enqueues dead
      // broadcasts/shuffles on the ContextCleaner's reference queue,
      // the pause lets the (async) cleaner process them, the second
      // gc() reclaims what the cleanup itself released — without this
      // the LAST queries of a multi-query JVM inherit heap pressure
      // (measured: m25/m26 ×10 legs ran 2.1×/3.2× their solo-JVM time)
      System.gc()
      Thread.sleep(300)
      System.gc()
    }
    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[scale-probe] $name failed at $dir: ${e.getMessage}")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      cleanup()
      elapsed
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }

    val d1 = s"$root/x1"; val dF = s"$root/x$factor"
    // SPARK_GRAFT_SCALE_REUSE=1 reuses an already-materialized replica
    // (the write is deterministic, so a follow-up pass — e.g. re-timing
    // a flagged query standalone — needn't pay the ×F rewrite)
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dF/documents.parquet"))
    if (!reuse) {
      System.err.println(s"[scale-probe] writing x1 -> $d1, x$factor -> $dF")
      writeScaled(1, d1)
      writeScaled(factor, dF)
    } else System.err.println(s"[scale-probe] reusing $d1 / $dF")
    cleanup()
    // warm codegen/scans on the small copy before any timed pass
    probeQs.foreach(n => timed(n, d1))
    val base = (1 to runs).map { _ =>
      probeQs.map(n => n -> timed(n, d1)).toMap }
    val big = (1 to runs).map { _ =>
      probeQs.map(n => n -> timed(n, dF)).toMap }
    val rows = probeQs.map { n =>
      val b = median(base.map(_(n))); val g = median(big.map(_(n)))
      (n, b, g, if (b > 0) g / b else -1.0)
    }
    val json = rows.map { case (n, b, g, r) =>
      f""""$n":{"x1":$b%.3f,"x$factor":$g%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    val tb = rows.map(_._2).sum; val tg = rows.map(_._3).sum
    val line = f"""{"metric":"scale_probe","factor":$factor,"runs":$runs,"src":"$src","total_x1":$tb%.2f,"total_x$factor":$tg%.2f,"total_ratio":${tg / tb}%.2f,"queries":$json}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"target/scale-probe-x$factor.json"),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
