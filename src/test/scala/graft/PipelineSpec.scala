package graft

import graft.queries.Extraction
import graft.sources.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end incremental ingest: two overlapping runs append exactly
  * the delta, and the processed table matches applying the process
  * stage directly; the process stage sees only unstored articles, and
  * the concurrent appends keep their failure and path contracts.
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def stores(): (String, String) = {
    val tmp = java.nio.file.Files.createTempDirectory("pipeline").toString
    (s"$tmp/links", s"$tmp/articles")
  }

  private def docIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def ingestThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == "ingest-append" && t.isAlive)

  test("two overlapping ingest runs are incremental and exactly-once per key") {
    val (links, articles) = stores()

    val firstHalf = (df: DataFrame) => df.filter(col("doc_id") < 300)
    val overlap = (df: DataFrame) => df.filter(col("doc_id") >= 150)

    val (l1, a1) = Pipeline.ingestRun(spark, dir, links, articles, firstHalf)
    assert(l1 > 0 && a1 > 0)
    val (l2, a2) = Pipeline.ingestRun(spark, dir, links, articles, overlap)

    // link keys are exactly-once across runs
    val storedLinks = spark.read.parquet(links)
    assert(storedLinks.count() == storedLinks.select("loc").distinct().count())
    assert(storedLinks.count() == l1 + l2)

    // articles: exactly-once per doc_id, and the union of both runs
    val stored = spark.read.parquet(articles)
    assert(stored.count() == stored.select("doc_id").distinct().count())
    assert(stored.count() == a1 + a2)

    // content equals applying the process stage to the full doc range
    val expected = Pipeline.processArticles(Tables.documents(spark, dir))
    assert(stored.count() == expected.count())
    val got = stored.select("doc_id", "n_words_clean", "polarity")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val exp = expected.select("doc_id", "n_words_clean", "polarity")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(got == exp)
  }

  test("date-partitioned appendUnique prunes the existing-keys read") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("partsink").toString + "/links"
    val day1 = Seq(("u1", "2022-08-27"), ("u2", "2022-08-27"), ("u3", "2022-08-28"))
      .toDF("url", "ingest_date")
    val day2 = Seq(("u3", "2022-08-28"), ("u4", "2022-08-29"), ("u5", "2022-08-29"))
      .toDF("url", "ingest_date")
    val n1 = sources.Sinks.appendUnique(spark, day1, tmp, "url", Some("ingest_date"))
    val n2 = sources.Sinks.appendUnique(spark, day2, tmp, "url", Some("ingest_date"))
    assert(n1 == 3 && n2 == 2, s"$n1/$n2") // u3 deduped across runs
    // hive-style partition directories on disk
    val dirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("ingest_date="))
    assert(dirs.toSet == Set("ingest_date=2022-08-27", "ingest_date=2022-08-28",
      "ingest_date=2022-08-29"))
    // the anti-join's key read carries a partition filter and scans ONLY
    // the batch's partitions (1 of 3), never the whole key history
    val keys = sources.Sinks.existingKeys(spark, tmp, "url",
      Some("ingest_date"), Seq("2022-08-28"))
    keys.collect()
    val scan = keys.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan in the existing-keys plan"))
    assert(scan.partitionFilters.nonEmpty, "partition filter missing")
    assert(scan.relation.location.inputFiles.length > 1, "fixture must span partitions")
    assert(scan.metrics("numFiles").value == 1,
      s"scan read ${scan.metrics("numFiles").value} files — pruning lost")
  }

  test("a second overlapping ingest processes only the articles never stored") {
    val (links, articles) = stores()
    Pipeline.ingestRun(spark, dir, links, articles, _.filter(col("doc_id") < 300))
    val before = docIds(spark.read.parquet(articles))

    // the same legs ingestRun builds, with a process stage that records
    // every doc_id it is evaluated on
    val seen = spark.sparkContext.collectionAccumulator[Long]("processed")
    val tap = udf { (id: Long) => seen.add(id); true }.asNondeterministic()
    val feed = Tables.documents(spark, dir).filter(col("doc_id") >= 150)
    val (_, a2) = Pipeline.ingest(spark, Extraction.x1Links(feed), "loc",
      feed, "doc_id", links, articles,
      df => Pipeline.processArticles(df.filter(tap(col("doc_id")))))

    val after = docIds(spark.read.parquet(articles))
    val processed = seen.value.asScala.toSet
    assert(docIds(feed).intersect(before).size > 50, "the feed must re-deliver stored articles")
    assert(a2 == after.size - before.size && a2 > 0)
    assert(processed.intersect(before).isEmpty,
      s"process ran on ${processed.intersect(before).size} stored articles")
    assert((after -- before).subsetOf(processed))
  }

  test("appendUnique's count prunes the step's UDFs") {
    val (_, articles) = stores()
    val docs = Tables.documents(spark, dir)
    Sinks.appendUnique(spark, docs.filter(col("doc_id") < 300), articles, "doc_id",
      step = Pipeline.processArticles(_))
    def udfs(p: LogicalPlan): Seq[ScalaUDF] =
      p.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    val fresh = Sinks.freshRows(spark, docs, articles, "doc_id", None,
      Pipeline.processArticles(_))
    assert(udfs(fresh.queryExecution.optimizedPlan).nonEmpty, "the step carries no UDF")
    val counted = fresh.groupBy().count().queryExecution.optimizedPlan
    assert(udfs(counted).isEmpty, counted.treeString)
  }

  test("a failing leg is rethrown, the other store stays key-unique, no ingest thread lingers") {
    val (links, articles) = stores()
    val docs = Tables.documents(spark, dir)
    val boom = new IllegalStateException("process failed")
    val e = intercept[IllegalStateException] {
      Pipeline.ingest(spark, Extraction.x1Links(docs), "loc", docs, "doc_id",
        links, articles, _ => throw boom)
    }
    assert(e eq boom)
    val stored = spark.read.parquet(links)
    assert(stored.count() == Extraction.x1Links(docs).count())
    assert(stored.count() == stored.select("loc").distinct().count())
    assert(!new java.io.File(articles).exists())
    // shutdown() lets idle workers exit; give them a moment to do so
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (ingestThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(ingestThreads.isEmpty, ingestThreads.map(_.getName).mkString(", "))
  }

  test("ingest refuses one path for both stores") {
    val (links, _) = stores()
    val docs = Tables.documents(spark, dir)
    intercept[IllegalArgumentException] {
      Pipeline.ingest(spark, Extraction.x1Links(docs), "loc", docs, "doc_id",
        links, links, Pipeline.processArticles(_))
    }
    assert(!new java.io.File(links).exists())
  }

  test("re-appending an all-duplicate batch returns 0 and writes no file") {
    val (_, path) = stores()
    val batch = Tables.documents(spark, dir).filter(col("doc_id") < 100)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f.getPath)
      walk(new java.io.File(path)).toSet
    }
    assert(Sinks.appendUnique(spark, batch, path, "doc_id") == 100)
    val before = files()
    assert(Sinks.appendUnique(spark, batch, path, "doc_id") == 0)
    assert(files() == before)
  }
}
