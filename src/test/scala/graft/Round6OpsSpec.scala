package graft

import org.apache.spark.sql.functions._

/** Round-6 core operators: brute-force Scala replications over the
  * collected sf0.001 fixtures, plus plan-level evidence for the two
  * pushdown queries (aggregate pushdown / dynamic partition pruning).
  */
class Round6OpsSpec extends SparkSpec {

  test("q_agg_42_bitmap_distinct: bitmap count == exact count, agree everywhere") {
    val rows = Registry.byName("q_agg_42_bitmap_distinct").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = graft.sources.Tables(spark, sf, "lineitem")
      .select("l_returnflag", "l_suppkey").collect()
      .map(r => (r.getString(0), r.getLong(1))).distinct
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      assert(r.getLong(1) == expected(r.getString(0)), s"flag ${r.getString(0)}")
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == 1L)
    }
  }

  test("q_stat_31_durbin_watson: replicates the quantized residual walk; 0 < dw < 4") {
    val dly = graft.sources.Tables(spark, sf, "orders")
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val k = dly.length.toDouble
    val sx = dly.map(_._1).sum.toDouble
    val sy = dly.map(_._2).sum.toDouble
    val sxx = dly.map(p => p._1 * p._1).sum.toDouble
    val sxy = dly.map(p => p._1 * p._2).sum.toDouble
    val b = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    val a = sy / k - b * (sx / k)
    val e3 = dly.map { case (x, y) => math.floor((y - a - b * x) * 1000 + 0.5).toLong }
    val sd = e3.sliding(2).filter(_.length == 2)
      .map(w => (w(1) - w(0)) * (w(1) - w(0))).sum
    val se = e3.map(v => v * v).sum
    val expDw = math.floor(sd.toDouble / se * 1000000 + 0.5) / 1000000
    val got = Registry.byName("q_stat_31_durbin_watson").fn(spark, sf).collect().head
    assert(got.getLong(0) == dly.length.toLong)
    assert(got.getDouble(2) == expDw)
    assert(got.getDouble(2) > 0 && got.getDouble(2) < 4)
  }

  test("q_win_27_stochastic: %K replicates on the last full window; bounds hold") {
    val daily = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val got = Registry.byName("q_win_27_stochastic").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    got.foreach { case (_, kk, dd) =>
      assert(kk >= 0 && kk <= 100 && dd >= 0 && dd <= 100)
    }
    if (daily.length >= 16 && got.nonEmpty) {
      val (lastDay, kGot, _) = got.last
      val idx = daily.indexWhere(_._1 == lastDay)
      val win = daily.slice(idx - 13, idx + 1).map(_._2)
      val (ll, hh, c) = (win.min, win.max, daily(idx)._2)
      val k6 = if (hh == ll) 500000L
        else math.floor((c - ll).toDouble * 1000000 / (hh - ll) + 0.5).toLong
      assert(kGot == math.floor(k6.toDouble / 10000 * 100 + 0.5) / 100)
    }
  }

  test("q_scan_21_agg_pushdown: values match a plain scan AND the v2 plan pushes the aggregate") {
    val aggKey = "spark.sql.parquet.aggregatePushdown"
    val v1Key = "spark.sql.sources.useV1SourceList"
    val before = (spark.conf.getOption(aggKey), spark.conf.getOption(v1Key))
    val df = Registry.byName("q_scan_21_agg_pushdown").fn(spark, sf)
    assert((spark.conf.getOption(aggKey), spark.conf.getOption(v1Key)) == before,
      "q_scan_21 must restore both confs it flips")
    // the query's OWN plan answers from footers, although it is planned
    // after the confs were restored
    val own = df.queryExecution.executedPlan.toString
    assert(own.contains("PushedAggregation"), own.take(800))
    val got = df.collect().head
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val exp = li.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey")).collect().head
    assert(got.getLong(0) == exp.getLong(0))
    assert(got.getLong(1) == exp.getLong(1) && got.getLong(2) == exp.getLong(2))
    // plan evidence: same conf flip the query uses must yield a
    // footer-only scan (PushedAggregation in the v2 scan node)
    val conf = spark.conf
    val oldAgg = conf.getOption("spark.sql.parquet.aggregatePushdown")
    val oldV1 = conf.getOption("spark.sql.sources.useV1SourceList")
    try {
      conf.set("spark.sql.parquet.aggregatePushdown", "true")
      conf.set("spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text")
      val plan = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(count(lit(1)), min("l_orderkey"), max("l_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"), plan.take(800))
    } finally {
      oldAgg.fold(conf.unset("spark.sql.parquet.aggregatePushdown"))(
        v => conf.set("spark.sql.parquet.aggregatePushdown", v))
      oldV1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
        v => conf.set("spark.sql.sources.useV1SourceList", v))
    }
  }

  test("q_scan_22_dynamic_prune: values match a plain aggregation AND DPP fires on the partitioned join") {
    val got = Registry.byName("q_scan_22_dynamic_prune").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exp = graft.sources.Tables(spark, sf, "orders")
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("ym"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .filter(expr("ym div 100") === 1995)
      .groupBy("ym")
      .agg(count(lit(1)).as("n"),
        graft.functions.Num.round(sum("cents").cast("double") / 100, 2).as("rev"))
      .orderBy("ym")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == exp.toSeq)
    // plan evidence: the partitioned-fact join carries a dynamicpruning
    // partition filter (the tmp layout was written by the query above)
    val tmp = graft.operators.Round6Ops.dppCachePath(spark, sf)
    val fact = spark.read.parquet(tmp)
    val dim = spark.read.parquet(tmp).select(col("ym")).distinct()
      .withColumn("y", (col("ym") / 100).cast("long")).filter(col("y") === 1995)
    val plan = fact.join(broadcast(dim.select("ym")), Seq("ym"))
      .groupBy("ym").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(800))
  }

  test("q_time_21_dow_profile: weekday counts replicate; ratios sum to ~7") {
    val o = graft.sources.Tables(spark, sf, "orders")
      .select(((datediff(col("o_orderdate"), lit("1970-01-01")) + 4) % 7).cast("long").as("dow"))
      .collect().map(_.getLong(0))
    val expected = o.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = Registry.byName("q_time_21_dow_profile").fn(spark, sf).collect()
    rows.foreach(r => assert(r.getLong(1) == expected(r.getLong(0))))
    val ratioSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(ratioSum - 7.0) < 0.01)
  }

  test("q_udtf_2_first_steps: step-1 population == users; generator matches the ranking window") {
    val rows = Registry.byName("q_udtf_2_first_steps").fn(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
    val nUsers = graft.sources.Tables(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.filter(_._1._1 == 1L).map(_._2).sum == nUsers)
    // replicate step 2 via the plain window (no generator)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val exp = graft.sources.Tables(spark, sf, "events")
      .select(col("event_type"), row_number().over(w).as("rn"))
      .filter(col("rn") === 2)
      .groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    rows.filter(_._1._1 == 2L).foreach { case ((_, et), n) => assert(exp(et) == n) }
  }

  test("q_set_8_month_jaccard: one month pair replicates exactly") {
    val ms = graft.sources.Tables(spark, sf, "lineitem")
      .select((year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).cast("long").as("mi"),
        col("l_suppkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byM = ms.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = Registry.byName("q_set_8_month_jaccard").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.take(3).foreach { r =>
      val (mi, np, nn, nc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (sa, sb) = (byM(mi), byM(mi + 1))
      assert(np == sa.size.toLong && nn == sb.size.toLong && nc == (sa & sb).size.toLong)
      val j = math.floor((sa & sb).size.toDouble / (sa | sb).size * 1000000 + 0.5) / 1000000
      assert(r.getDouble(4) == j)
    }
  }
}
