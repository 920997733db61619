package graft.tools

import graft.expressions.VectorExpressions
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** HOF cosine vs native-codegen cosine, all-pairs over a 500-vector slice
  * of embeddings (≈125k pairs × 64 dims). Prints steady-state timings and
  * verifies the two produce bit-identical sums.
  */
object Microbench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    VectorExpressions.register(spark)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val e = Tables(spark, d, "embeddings").filter(col("vec_id") < 500)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib"))

    val hof = pairs.select(sum(VectorFunctions.cosineHof(col("va"), col("vb"))).as("s"))
    val native = pairs.select(sum(expr("cosine_similarity(va, vb)")).as("s"))

    def time(name: String, f: => Double): Double = {
      f // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); val v = f
        ((System.nanoTime() - t0) / 1e9, v)
      }
      println(f"$name: ${runs.map(_._1).min}%.3f s (best of 3), sum=${runs.head._2}%.9f")
      runs.head._2
    }
    val s1 = time("hof   ", hof.collect()(0).getDouble(0))
    val s2 = time("native", native.collect()(0).getDouble(0))
    println(s"bit-identical: ${java.lang.Double.doubleToLongBits(s1) == java.lang.Double.doubleToLongBits(s2)}")
    spark.stop()
  }
}
