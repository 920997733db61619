package graft.tools

import graft.plans.RangeBandJoinRule
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Naive (nested-loop) vs RangeBandJoinRule-banded range join, same
  * query, same session — the measured justification for the rule.
  * Runs the q_join_13 shape (part × part price window) at the given SF.
  */
object RangeJoinBench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val p = Tables(spark, d, "part")
    val a = p.select(col("p_partkey").as("pk"),
      (col("p_retailprice") - 5.0).as("lo"), (col("p_retailprice") + 5.0).as("hi"))
    val b = p.select(col("p_retailprice").as("bp"))
    def q() = a.join(b, col("bp") >= col("lo") && col("bp") <= col("hi")).count()

    def time(name: String): Long = {
      q() // warm
      val t0 = System.nanoTime(); val n = q()
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n pairs")
      n
    }
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[RangeBandJoinRule])
    val n1 = time("naive (nested loop)")
    RangeBandJoinRule.install(spark)
    val n2 = time("banded (rule)      ")
    assert(n1 == n2, s"result mismatch: $n1 != $n2")
    spark.stop()
  }
}
