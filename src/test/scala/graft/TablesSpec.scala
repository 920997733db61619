package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `graft.sources.Tables` contract: every call returns the table's
  * file schema (events.ts normalized) as a fresh relation, and only the
  * first call per application pays schema inference.
  */
class TablesSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every table's schema is its file schema; events.ts is TimestampType") {
    tables.foreach { t =>
      val raw = spark.read.parquet(s"$sf/$t.parquet").schema
      val expected =
        if (t == "events")
          StructType(raw.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        else raw
      assert(sources.Tables(spark, sf, t).schema == expected, t)
    }
  }

  test("a repeat Tables call starts no Spark job") {
    tables.foreach(t => sources.Tables(spark, sf, t))
    val group = "tables-spec-repeat"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "repeat Tables calls")
    try {
      tables.foreach(t => sources.Tables(spark, sf, t).schema)
      graft.tools.PlanLint.waitForListenerBus(spark)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"${jobs.get} Spark jobs started by repeat Tables calls")
  }

  test("two Tables(orders) self-join on o_orderkey with fresh attribute ids") {
    val a = sources.Tables(spark, sf, "orders")
    val b = sources.Tables(spark, sf, "orders")
    val n = a.count()
    assert(n > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == n)
    assert(a.select(col("o_orderkey")).distinct().count() == n, "o_orderkey must be unique")
  }
}
