package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's JVM pieces: digest stability under row
  * order and partitioning, digest sensitivity, listener aggregation by job
  * group, and fixture-generator determinism. Prints one line per check and
  * exits non-zero on the first failure. Usage: SelfTest <scratchDir>
  */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def digest(df: DataFrame): String = {
    df.queryExecution.executedPlan
    Digest.of(df).toString
  }

  private def digestTests(spark: SparkSession): Unit = {
    val base = spark.range(0, 2000, 1, 3).select(
      col("id"),
      (col("id") * 0.1).as("d"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
      array(col("id"), col("id") + 1).as("a"),
      map(col("id").cast("string"), col("id") * 2).as("m"),
      struct(col("id").as("x"), (col("id") % 3).as("y")).as("st"))
    val d0 = digest(base)
    check("digest: same under row order", digest(base.orderBy(col("d").desc)) == d0)
    check("digest: same under repartitioning", digest(base.repartition(7)) == d0)
    check("digest: same under coalesce(1)", digest(base.coalesce(1)) == d0)
    check("digest: changed value changes it",
      digest(base.withColumn("d", when(col("id") === 1234, 0.5).otherwise(col("d")))) != d0)
    check("digest: dropped row changes it", digest(base.filter(col("id") =!= 5)) != d0)
    check("digest: duplicated row changes it",
      digest(base.union(base.filter(col("id") === 5))) != d0)
    check("digest: null differs from empty string",
      digest(base.na.fill("", Seq("s"))) != d0)
    check("digest: swapped columns change it",
      digest(base.select(col("id"), col("d"), col("s"), col("a"),
        col("m"), struct(col("st.y").as("x"), col("st.x").as("y")).as("st"))) != d0)
    check("digest: counts every row", Digest.of(base).rows == 2000L)
    check("digest: last-bit float drift is absorbed",
      Digest.canonDouble(0.1 + 0.2) == Digest.canonDouble(0.3) &&
        Digest.canonDouble(0.3) != Digest.canonDouble(0.3000001))
    check("digest: -0.0 equals 0.0", Digest.canonDouble(-0.0) == Digest.canonDouble(0.0))
  }

  private def listenerTests(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val l = new Listener
    sc.addSparkListener(l)
    sc.setJobGroup("qa|1|exec", "self-test", false)
    spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count().collect()
    sc.setJobGroup("qb|1|build", "self-test", false)
    spark.range(0, 100, 1, 2).collect()
    sc.clearJobGroup()
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(l)
    val (counts, spans) = l.drain()
    val a = counts.get("qa|1|exec")
    val b = counts.get("qb|1|build")
    check("listener: both groups seen", a.isDefined && b.isDefined, counts.keys.mkString(","))
    check("listener: group b ran one job of two tasks",
      b.exists(c => c.jobs == 1 && c.tasks == 2), b.map(c => s"${c.jobs}/${c.tasks}").toString)
    check("listener: group a ran its four map tasks and shuffled",
      a.exists(c => c.tasks >= 4 && c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0),
      a.map(c => s"tasks=${c.tasks} sw=${c.shuffleWriteBytes}").toString)
    check("listener: task run time within task duration",
      counts.values.forall(c => c.runMs <= c.taskDurationMs))
    val jobSpans = spans.filter(_.kind == "job")
    check("listener: job spans carry their group",
      jobSpans.map(_.parent).toSet == Set("qa|1|exec", "qb|1|build"),
      jobSpans.map(_.parent).mkString(","))
    check("listener: stage spans nest inside their job",
      spans.filter(_.kind == "stage").forall { s =>
        jobSpans.exists(j => j.id.toString == s.parent && j.startMs <= s.startMs && s.endMs <= j.endMs)
      })
    check("listener: drain resets", l.drain()._1.isEmpty)
  }

  private def fileHashes(dir: Path): Map[String, String] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(dir).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
  }

  private def generatorTests(spark: SparkSession, scratch: Path): Unit = {
    def gen(dir: String, seed: Long, factor: Int, base: Option[Path]): Path = {
      val p = scratch.resolve(dir)
      Fixture.generate(spark, p, seed, factor, base, Seq("orders", "lineitem", "documents"))
      p
    }
    val a = gen("a", 42, 1, None)
    val b = gen("b", 42, 1, None)
    val c = gen("c", 7, 1, None)
    val ha = fileHashes(a)
    check("generator: same seed, byte-identical files", ha == fileHashes(b))
    check("generator: fixed file names", ha.keys.forall(k =>
      k == "manifest.tsv" || k.matches("[a-z]+\\.parquet/part-\\d{5}\\.parquet")), ha.keys.mkString(","))
    check("generator: other seed, other data",
      ha.filter(_._1.startsWith("lineitem")) != fileHashes(c).filter(_._1.startsWith("lineitem")))
    val x1 = gen("x3a", 42, 3, Some(a))
    val x2 = gen("x3b", 42, 3, Some(a))
    check("generator: replication is deterministic", fileHashes(x1) == fileHashes(x2))
    val li = spark.read.parquet(x1.resolve("lineitem.parquet").toString)
    check("generator: x3 lineitem has 3x the rows", li.count() == 3 * Fixture.baseRows("lineitem"))
    val orders = spark.read.parquet(x1.resolve("orders.parquet").toString)
    val joined = li.join(orders, li("l_orderkey") === orders("o_orderkey")).count()
    val baseJoined = {
      val bl = spark.read.parquet(a.resolve("lineitem.parquet").toString)
      val bo = spark.read.parquet(a.resolve("orders.parquet").toString)
      bl.join(bo, bl("l_orderkey") === bo("o_orderkey")).count()
    }
    check("generator: key offsets keep join fan-out exact", joined == 3 * baseJoined,
      s"$joined vs 3 x $baseJoined")
    val docs = spark.read.parquet(x1.resolve("documents.parquet").toString)
    check("generator: replica text shares no tokens with the base",
      docs.filter(col("doc_id") >= Fixture.baseRows("documents") && !col("text").startsWith("r"))
        .count() == 0)
  }

  def main(args: Array[String]): Unit = {
    val scratch = Files.createDirectories(java.nio.file.Paths.get(args(0)))
    val spark = Harness.session(scratch.resolve("spark").toString)
    try {
      digestTests(spark)
      listenerTests(spark)
      generatorTests(spark, scratch)
    } finally spark.stop()
    println(if (failures == 0) "all JVM self-tests passed" else s"$failures JVM self-test(s) failed")
    if (failures != 0) sys.exit(1)
  }
}
