package graft

import graft.functions.PosLemma.posFilterLemmatize
import graft.functions.Sentiment.sentimentUdf
import graft.functions.TextFunctions._
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's scheduled ingest run (E1, bbc_news_dag.py:78-152) as
  * one composable batch function: sitemap-parsed links → unique-key
  * append (t2 get_urls) → select new articles → the full process stage
  * (t4, data_preparation.py:82-103) → unique-key append → run counts
  * (t1 get_docs_count's XCom values are just the returned longs).
  *
  * Plan shape: everything before the writes is narrow (map-only) except
  * the two anti-joins inside appendUnique — the same wide dependencies
  * the reference hides in its unique Mongo index. The link and article
  * appends write different stores and share no data, so they run at
  * the same time, and the process stage runs only on articles the
  * store lacks (appendUnique's `step`). Incremental by construction:
  * re-running over an overlapping feed appends only the delta. If one
  * append fails, the other may still have landed; a re-run then
  * appends only what is missing.
  */
object Pipeline {

  /** The t4 process stage over raw articles: dropna → n_words → keep >
    * minWords → clean+POS+lemmatize → n_words_clean → sentiment (E3's
    * per-article scores, fused here so one pass produces the
    * analytics-ready table). `carryCols` are the identifying columns
    * carried through unchanged — doc_id for the synthetic fixture,
    * url/date/menu_submenu/title/subtitle for the reference-shaped BBC
    * corpus (the columns data_preparation.py:95-101 keeps after its
    * drop(columns=[images, topic_name, …])).
    */
  def processArticles(raw: DataFrame, minWords: Int = 50,
      carryCols: Seq[String] = Seq("doc_id")): DataFrame =
    raw.na.drop("any")
      .withColumn("n_words", wordCount(col("text")))
      .filter(col("n_words") > minWords)
      .withColumn("toks", posFilterLemmatize(contentTokens(tokenize(cleanChain(col("text"))))))
      .withColumn("article_clean", array_join(col("toks"), " "))
      .withColumn("n_words_clean", size(col("toks")))
      .withColumn("s", sentimentUdf(col("article_clean")))
      .select(carryCols.map(col) ++ Seq(col("text"), col("n_words"),
        col("article_clean"), col("n_words_clean"),
        round(col("s.polarity"), 6).as("polarity"),
        round(col("s.subjectivity"), 6).as("subjectivity")): _*)

  /** One incremental ingest over caller-supplied link and article
    * frames — the reference DAG's t2→t4 with the Mongo unique index
    * replaced by appendUnique's anti-join. Returns (newLinks,
    * newArticles), the reference's XCom doc counts.
    *
    * The two appends run concurrently on threads named `ingest-append`;
    * both are awaited, and the first failure, links before articles,
    * is rethrown. `process` runs as the article append's `step`, after
    * the anti-join, so it must keep to that contract (row-wise, keeps
    * `articleKey`). The two stores must be different paths: the
    * single-writer contract of appendUnique holds per store.
    */
  def ingest(
      spark: SparkSession,
      links: DataFrame, linkKey: String,
      articles: DataFrame, articleKey: String,
      linksPath: String, articlesPath: String,
      process: DataFrame => DataFrame): (Long, Long) = {
    require(linksPath != articlesPath,
      s"links and articles need separate stores, both are $linksPath")
    val legs = Seq(
      () => Sinks.appendUnique(spark, links, linksPath, linkKey),
      () => Sinks.appendUnique(spark, articles, articlesPath, articleKey,
        step = process))
    val counts = Concurrent.map(spark, "ingest-append", legs)(_())
    (counts(0), counts(1))
  }

  /** The fixture-table ingest run: one read of `documents` feeds both
    * legs — links parsed from it as in x1, articles processed from it.
    * `feedFilter` selects the feed's documents.
    */
  def ingestRun(
      spark: SparkSession,
      sfDir: String,
      linksPath: String,
      articlesPath: String,
      feedFilter: DataFrame => DataFrame = identity): (Long, Long) = {
    val docs = feedFilter(Tables.documents(spark, sfDir))
    ingest(spark,
      queries.Extraction.x1Links(docs), "loc",
      docs, "doc_id",
      linksPath, articlesPath,
      processArticles(_))
  }
}
