package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own fixture generator.
  *
  * [[baseTable]] builds the ten tables of the engine's fixture schema (region,
  * nation, customer, supplier, part, orders, lineitem, events, documents,
  * embeddings) at the row counts of the reference sf0.1 set. Every value
  * is a pure function of (generator seed, table, column, row id) through
  * `xxhash64`, and every table is written from `spark.range` partitions
  * without a shuffle, so the same seed gives byte-identical Parquet on any
  * machine running the same Spark version.
  *
  * [[replica]] derives the copies of a ×factor fixture by key-offset
  * replication: replica i shifts every key domain (and every foreign key)
  * by i·span, so joins keep their fan-out and each replica is a disjoint
  * copy of the business. Names derived from keys are rebuilt from the
  * shifted key, replica text gets an `r<i>x` token prefix so replicas
  * share no shingles, and replica vectors get a small deterministic
  * jitter so nearest-neighbour queries see no exact ties.
  *
  * Files get fixed names (`part-00000.parquet`, ...) so the directory
  * listing, and with it the scan order, never depends on a write UUID.
  */
object Fixture {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Row counts of the base fixture (the reference sf0.1 sizes). */
  val baseRows: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 15000L, "supplier" -> 1000L,
    "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L,
    "events" -> 100000L, "documents" -> 5000L, "embeddings" -> 2000L)

  private val partitions: Map[String, Int] =
    Map("lineitem" -> 4, "orders" -> 2, "events" -> 2).withDefaultValue(1)

  val vocab: Seq[String] = Seq("spark", "group", "query", "row", "data", "slow",
    "small", "filter", "fast", "value", "scan", "sort", "a", "hash", "batch", "part",
    "line", "column", "order", "agg", "key", "window", "table", "stream", "merge",
    "big", "join", "vector", "customer", "the")

  private val adjectives = Seq("blue", "cold", "hot", "red", "small", "new", "old", "large")
  private val nouns = Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")

  /** Uniform double in [0, 1) from (seed, tag, key columns). */
  private def u(seed: Long, tag: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(1L << 30)).cast("double") /
      lit((1L << 30).toDouble)

  private def pick(values: Seq[String], r: Column): Column =
    element_at(typedLit(values), (floor(r * values.size) + 1).cast("int"))

  private def money(c: Column): Column = round(c, 2)

  private def day(start: String, days: Int, r: Column): Column =
    timestamp_seconds(unix_timestamp(lit(start + " 00:00:00")) +
      floor(r * days).cast("long") * 86400L)

  /** One base table as a DataFrame (no I/O). */
  def baseTable(spark: SparkSession, name: String, seed: Long): DataFrame = {
    val n = baseRows(name)
    val ids = spark.range(0, n, 1, partitions(name)).withColumnRenamed("id", "_id")
    val id = col("_id")
    def r(tag: String, extra: Column*): Column = u(seed, s"$name.$tag", (id +: extra): _*)
    name match {
      case "region" =>
        ids.select(id.cast("int").as("r_regionkey"),
          pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id.cast("double") / 5)
            .as("r_name"))
      case "nation" =>
        ids.select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      case "customer" =>
        ids.select(id.as("c_custkey"),
          concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
          floor(r("nation") * 25).cast("int").as("c_nationkey"),
          money(lit(-999.99) + r("acct") * 10999.98).as("c_acctbal"),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), r("seg"))
            .as("c_mktsegment"))
      case "supplier" =>
        ids.select(id.as("s_suppkey"),
          concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
          floor(r("nation") * 25).cast("int").as("s_nationkey"),
          money(lit(-999.99) + r("acct") * 10999.98).as("s_acctbal"))
      case "part" =>
        ids.select(id.as("p_partkey"),
          concat(pick(adjectives, r("adj")), lit(" "), pick(nouns, r("noun"))).as("p_name"),
          concat(lit("Brand#"), (floor(r("brand") * 25) + 1).cast("int").cast("string"))
            .as("p_brand"),
          pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), r("type"))
            .as("p_type"),
          (floor(r("size") * 50) + 1).cast("int").as("p_size"),
          money(lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10).as("p_retailprice"))
      case "orders" =>
        ids.select(id.as("o_orderkey"),
          floor(r("cust") * baseRows("customer")).cast("long").as("o_custkey"),
          pick(Seq("F", "O", "P"), r("status")).as("o_orderstatus"),
          money(lit(1000.0) + r("price") * 499000.0).as("o_totalprice"),
          day("1995-01-01", 2404, r("date")).as("o_orderdate"),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), r("prio"))
            .as("o_orderpriority"))
      case "lineitem" =>
        val qty = (floor(r("qty") * 50) + 1).cast("double")
        ids.select(floor(r("order") * baseRows("orders")).cast("long").as("l_orderkey"),
          floor(r("part") * baseRows("part")).cast("long").as("l_partkey"),
          floor(r("supp") * baseRows("supplier")).cast("long").as("l_suppkey"),
          (floor(r("line") * 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          money(qty * (lit(900.0) + r("unit") * 1200.0)).as("l_extendedprice"),
          (floor(r("disc") * 11) / 100).as("l_discount"),
          (floor(r("tax") * 9) / 100).as("l_tax"),
          pick(Seq("A", "N", "R"), r("flag")).as("l_returnflag"),
          pick(Seq("F", "O"), r("status")).as("l_linestatus"),
          day("1995-01-02", 2498, r("ship")).as("l_shipdate"))
      case "events" =>
        // increasing timestamps over 30 days, jittered inside each slot
        val slotMicros = 30L * 86400L * 1000000L / n
        ids.select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + id * slotMicros +
            floor(r("jitter") * slotMicros).cast("long")).as("ts"),
          floor(r("user") * 1500).cast("long").as("user_id"),
          pick(Seq("click", "error", "purchase", "signup", "view"), r("type")).as("event_type"),
          money(least(lit(560.0), -log(lit(1.0) - r("value")) * 50.0)).as("value"),
          concat(lit("{\"k\": "), floor(r("k") * 100).cast("int").cast("string"), lit("}"))
            .as("props"))
      case "documents" =>
        // ~5% of documents are near-copies of a recent one (one token
        // replaced), so the dedup operators have real clusters to find
        val dup = r("dup") < 0.05 && id >= 50
        val src = when(dup, id - 1 - floor(r("back") * 50).cast("long")).otherwise(id)
        val nTok = (floor(u(seed, "documents.len", src) * 80) + 10).cast("int")
        val mutAt = floor(r("mutpos") * nTok).cast("int")
        val tokens = transform(sequence(lit(0), nTok - 1), j =>
          when(dup && j === mutAt, pick(vocab, u(seed, "documents.mut", id)))
            .otherwise(pick(vocab, u(seed, "documents.tok", src, j))))
        ids.select(id.as("doc_id"), array_join(tokens, " ").as("text"),
            pick(Seq("en", "en", "de", "es", "fr", "zh"), r("lang")).as("lang"),
            concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // ten label clusters: centre(label) * 0.1 + N(0, 0.12) per dim
        val label = floor(r("label") * 10).cast("int")
        val vec = transform(sequence(lit(0), lit(63)), j => {
          val centre = u(seed, "embeddings.centre", label.cast("long"), j) * 2 - 1
          val gauss = sqrt(lit(-2.0) * log(lit(1.0) - r("g1", j))) * cos(r("g2", j) * (2 * math.Pi))
          (centre * 0.1 + gauss * 0.12).cast("float")
        })
        ids.select(id.as("vec_id"), vec.as("embedding"), label.as("label"))
    }
  }

  /** Span of each key domain: max key + 1 in the base fixture. */
  private val keySpan: Map[String, Long] = Map(
    "cust" -> baseRows("customer"), "supp" -> baseRows("supplier"), "part" -> baseRows("part"),
    "ord" -> baseRows("orders"), "ev" -> baseRows("events"), "user" -> 1500L,
    "doc" -> baseRows("documents"), "vec" -> baseRows("embeddings"))

  private val remap: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "cust"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "ord", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "ord", "l_partkey" -> "part", "l_suppkey" -> "supp"),
    "events" -> Seq("event_id" -> "ev", "user_id" -> "user"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec")).withDefaultValue(Seq.empty)

  /** Replica `i` of one base table (replica 0 is the base itself). */
  def replica(base: DataFrame, name: String, i: Int): DataFrame = {
    if (i == 0) return base
    val shifted = remap(name).foldLeft(base) { case (df, (c, dom)) =>
      df.withColumn(c, col(c) + lit(i * keySpan(dom)))
    }
    name match {
      case "customer" => shifted.withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0")))
      case "supplier" => shifted.withColumn("s_name",
        concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0")))
      case "documents" =>
        shifted.withColumn("text", array_join(
            transform(split(col("text"), " "), t => concat(lit(s"r${i}x"), t)), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" => shifted.withColumn("embedding",
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, j) => (x + ((lit(i) * 131 + j * 17) % 13 - 6).cast("float") * lit(0.0005f))
            .cast("float")))
      case _ => shifted
    }
  }

  /** Write `df` to `<dir>/<name>.parquet/part-NNNNN.parquet`. */
  private def write(df: DataFrame, dir: Path, name: String): Unit = {
    val out = dir.resolve(s"$name.parquet")
    df.write.mode("overwrite").parquet(out.toString)
    Files.list(out).toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val f = p.getFileName.toString
      if (f.startsWith("part-") && f.endsWith(".parquet"))
        Files.move(p, out.resolve(f.take(10) + ".parquet"))
      else Files.delete(p)
    }
  }

  private def session(): SparkSession = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Generate into `dir` (which must not exist yet), then write
    * `manifest.tsv`: table, rows, bytes. */
  def generate(spark: SparkSession, dir: Path, seed: Long, factor: Int,
               baseDir: Option[Path], only: Seq[String] = tables): Unit = {
    Files.createDirectories(dir)
    val manifest = new StringBuilder
    only.foreach { t =>
      val base = baseDir match {
        case Some(b) => spark.read.parquet(b.resolve(s"$t.parquet").toString)
        case None => baseTable(spark, t, seed)
      }
      val copies = if (remap(t).isEmpty) 1 else factor
      write((0 until copies).map(replica(base, t, _)).reduce(_ union _), dir, t)
      val files = Files.list(dir.resolve(s"$t.parquet")).toArray.map(_.asInstanceOf[Path])
      val bytes = files.map(Files.size).sum
      manifest.append(s"$t\t${baseRows(t) * copies}\t$bytes\n")
    }
    Files.writeString(dir.resolve("manifest.tsv"), manifest.toString)
  }

  /** Usage: Fixture <outDir> <seed> <factor> [baseDir] */
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val spark = session()
    try generate(spark, out, args(1).toLong, args(2).toInt, args.lift(3).map(Paths.get(_)))
    finally spark.stop()
  }
}
