package graft.tools

import graft.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regenerates the SELF-GOLDEN fixtures that pin the engine's own
  * output (src/test/resources/bbc/articles_processed.jsonl) — run after
  * any deliberate change to the sentiment lexicon or the clean chain,
  * then review the diff before committing:
  *
  *   sbt -batch "Test/runMain graft.tools.RegenGoldens"
  *
  * The REFERENCE goldens (articles_sentiments.csv — verbatim reference
  * output) are never touched. Also prints the BBC-fixture polarity /
  * subjectivity means so BbcCorpusSpec's tolerance band can be kept
  * honest.
  */
object RegenGoldens {

  private val rawSchema = StructType(Seq(
    StructField("url", StringType), StructField("date", StringType),
    StructField("link", StringType), StructField("menu_submenu", StringType),
    StructField("title", StringType), StructField("subtitle", StringType),
    StructField("authors", ArrayType(StringType)),
    StructField("text", StringType),
    StructField("topic_name", ArrayType(StringType)),
    StructField("topic_url", ArrayType(StringType)),
    StructField("images", ArrayType(StringType))))

  def main(args: Array[String]): Unit = {
    // the test session's settings, so the golden is what BbcCorpusSpec sees
    val spark = graft.LocalSession(4)

    val res = "src/test/resources/bbc"
    val raw = spark.read.schema(rawSchema).json(s"$res/articles_raw.jsonl")
    val shaped = raw
      .drop("images", "topic_name", "topic_url", "link", "authors")
      .withColumn("date",
        date_format(to_timestamp(col("date")), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val processed: DataFrame = Pipeline.processArticles(shaped, 50,
      Seq("url", "date", "menu_submenu", "title", "subtitle"))

    val tmp = java.nio.file.Files.createTempDirectory("golden").toString
    processed.coalesce(1).write.mode("overwrite").json(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".json")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$res/articles_processed.jsonl"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    val stats = processed.agg(
      count(lit(1)), avg("polarity"), avg("subjectivity"),
      min("polarity"), max("polarity")).head
    println(s"[regen] rows=${stats.getLong(0)} " +
      f"meanP=${stats.getDouble(1)}%.4f meanS=${stats.getDouble(2)}%.4f " +
      f"minP=${stats.getDouble(3)}%.4f maxP=${stats.getDouble(4)}%.4f")
    println(s"[regen] wrote $res/articles_processed.jsonl")
    spark.stop()
  }
}
