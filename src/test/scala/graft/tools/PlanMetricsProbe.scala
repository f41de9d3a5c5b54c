package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Execute declared queries through the noop sink and print, per
  * physical operator, the populated SQL metrics (rows, shuffle bytes,
  * broadcast size...) of the FINAL adaptive plan — the per-exchange
  * breakdown the round-level MetricsListener totals can't give.
  *
  * Usage: tools/run.sh graft.tools.PlanMetricsProbe <sfDir> [names...]
  */
object PlanMetricsProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PlanMetricsProbe <sfDir> [names...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val wanted = args.drop(1).toSet
    val spark = graft.LocalSession()
    val selected = graft.SparkEntry.queries.filter { case (n, _) => wanted(n) }

    def dump(plan: SparkPlan, depth: Int, out: StringBuilder): Unit = {
      val interesting = plan.metrics.filter { case (k, m) =>
        m.value > 0 && (k.toLowerCase.contains("bytes") ||
          k.toLowerCase.contains("rows") || k.toLowerCase.contains("size") ||
          k.toLowerCase.contains("spill") || k.toLowerCase.contains("records"))
      }
      val ms = interesting.toSeq.sortBy(_._1).map { case (k, m) =>
        s"$k=${m.value}"
      }.mkString(" ")
      out.append("  " * depth).append(plan.nodeName)
      if (ms.nonEmpty) out.append("  [").append(ms).append("]")
      out.append('\n')
      plan match {
        case a: AdaptiveSparkPlanExec => dump(a.executedPlan, depth + 1, out)
        case q: QueryStageExec => dump(q.plan, depth + 1, out)
        case r: ReusedExchangeExec => dump(r.child, depth + 1, out)
        case _ => plan.children.foreach(c => dump(c, depth + 1, out))
      }
    }

    selected.foreach { case (name, fn) =>
      try {
        spark.sparkContext.setJobDescription(name)
        val df = fn(spark, sfDir)
        val t0 = System.nanoTime()
        // execute the df's OWN query execution (a noop write would wrap
        // the plan in a fresh execution and leave these metrics empty);
        // toRdd materializes every column of every row, like the noop sink
        df.queryExecution.toRdd.foreach(_ => ())
        val dt = (System.nanoTime() - t0) / 1e9
        val out = new StringBuilder
        out.append(f"== $name%s  ($dt%.2f s) ==\n")
        dump(df.queryExecution.executedPlan, 0, out)
        println(out.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[planmetrics] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
