package graft.queries

import graft.{Tables, TestSpark}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t19's paragraph dedup core ([[Text.paragraphDedupFrame]]): one pass
  * over the paragraph split with two exchanges, and the first
  * occurrence of a paragraph wins at (doc_id, idx) grain.
  */
class TextSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  /** A 16-token paragraph of `w` repeated. */
  private def para(w: String): String = Seq.fill(16)(w).mkString(" ")

  test("paragraphDedupFrame's executed plan has 2 exchanges") {
    val df = Text.paragraphDedupFrame(Tables.documents(spark, dir))
    df.collect() // finalize the adaptive plan
    val shuffles = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.size == 2, df.queryExecution.executedPlan.toString)
  }

  test("a doc repeating its own paragraph keeps the lowest idx; a doc whose paragraphs were all seen drops out") {
    val docs = Seq(
      1L -> Seq(para("a"), para("b"), para("a")).mkString(" "),
      2L -> Seq(para("b"), para("a")).mkString(" "),
      3L -> Seq(para("a"), para("c")).mkString(" ")).toDF("doc_id", "text")
    val rows = Text.paragraphDedupFrame(docs).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows == Seq(
      (1L, 3L, 2L, s"${para("a")} ${para("b")}"),
      (3L, 2L, 1L, para("c"))))
  }
}
