package graft.functions

import graft.{Tables, TestSpark}
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SimFunctions column helpers vs their plain-Scala definitions. */
class SimFunctionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def unitOf(v: Seq[Double], nrm: Double): MlVector =
    Vectors.dense(v.map(_ / math.max(nrm, 1e-12)).toArray)

  test("unitVector equals v / max(nrm, 1e-12) bit for bit on the embeddings fixture") {
    import SimFunctions.{l2Norm, toDoubleVec, unitVector}
    val rows = Tables.embeddings(spark, TestSpark.sfDir)
      .select(toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .select(col("v"), col("nrm"), unitVector(col("v"), col("nrm")).as("fv"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = unitOf(r.getSeq[Double](0), r.getDouble(1)).toArray
      val got = r.getAs[MlVector](2).toArray
      assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        want.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
  }

  test("unitVector maps a zero vector to zeros, not NaN") {
    val got = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
      .withColumn("nrm", SimFunctions.l2Norm(col("v")))
      .select(SimFunctions.unitVector(col("v"), col("nrm")))
      .head().getAs[MlVector](0)
    assert(got == Vectors.dense(0.0, 0.0, 0.0))
    assert(!got.toArray.exists(_.isNaN))
  }
}
