package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{BlockCleanup, Q, Registry}
import graft.sources.Tables

/** The benchmark's JVM side. It reads a plan file written by `run.py`
  * (`key=value` lines, plus one `order=` line per pass; the first is the
  * cold pass), runs the named graft queries through their public entry
  * points, and writes raw samples as JSON for `run.py` to reduce.
  *
  * Per query execution the work is split at the layer boundaries:
  * `operators.build` (the `Q.fn` call, including any eager checkpoint or
  * collect it does), `plans.optimize` (forcing the executed plan),
  * `exec.run` (running that plan and folding every output value into a
  * [[Digest]]) and `storage.cleanup` (`BlockCleanup`). Each phase runs
  * under its own job group `query|pass|phase`. Traced passes record these
  * as spans and register a [[Listener]]; untraced passes do the same work
  * without either.
  *
  * `mode=setup` stops after set-up: session, native-function
  * registration and input resolution.
  */
object Harness {

  private val epochBase = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  /** Wall clock in epoch milliseconds at nanosecond resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Exec(pass: Int, traced: Boolean, q: String, build: Double, optimize: Double,
                        exec: Double, cleanup: Double, total: Double, digest: String,
                        error: String, persisted: Int, blockBytes: Long)

  final case class Span(name: String, pass: Int, q: String, start: Double, end: Double)

  def session(tmp: String, cores: Int = 4): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session, native functions, and every fixture table's schema. */
  def setUp(tmp: String, fixture: String): SparkSession = {
    val spark = session(tmp)
    graft.expressions.VectorExpressions.register(spark)
    graft.expressions.StringExpressions.register(spark)
    graft.expressions.BloomRuntime.register(spark)
    Fixture.tables.foreach(t => Tables(spark, fixture, t).schema)
    spark
  }

  private def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def poolsMb(heap: Boolean, peak: Boolean): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => if (heap) p.getType == java.lang.management.MemoryType.HEAP
                   else p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .map(p => (if (peak) p.getPeakUsage else p.getUsage).getUsed).sum / 1048576.0
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0))).toArray.map(_.toString)
    val kv = lines.flatMap(l => l.split("=", 2) match {
      case Array(k, v) if k != "order" => Some(k -> v)
      case _ => None
    }).toMap
    val orders = lines.filter(_.startsWith("order=")).map(_.drop(6).split(",").toSeq).toSeq
    val fixture = kv("fixture")
    val out = Paths.get(kv("out"))

    val spark = setUp(kv("tmp"), fixture)
    val readyMs = System.currentTimeMillis()
    println(s"PERFBENCH_READY $readyMs")
    Console.out.flush()
    val json = new Json
    json.num("ready_ms", readyMs)
    if (kv("mode") == "setup") finish(out, json)

    val byName: Map[String, Q] = Registry.all.map(q => q.name -> q).toMap
    val sc = spark.sparkContext
    val trace = kv("trace") == "1"
    val seconds = kv("seconds").toDouble
    val minPasses = kv("min_passes").toInt
    val execs = mutable.ArrayBuffer.empty[Exec]
    val spans = mutable.ArrayBuffer.empty[Span]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val groups = mutable.ArrayBuffer.empty[(String, Listener#Counts)]
    val sparkSpans = mutable.ArrayBuffer.empty[Listener#Span]
    val listener = new Listener

    def execute(q: Q, pass: Int, traced: Boolean): Exec = {
      val tag = s"${q.name}|$pass"
      val t0 = now()
      var t1, t2, t3 = t0
      var persisted = 0
      var blockBytes = 0L
      var digest = ""
      var error: String = null
      try {
        sc.setJobGroup(s"$tag|build", q.name, false)
        val df = q.fn(spark, fixture)
        t1 = now()
        sc.setJobGroup(s"$tag|optimize", q.name, false)
        df.queryExecution.executedPlan
        t2 = now()
        sc.setJobGroup(s"$tag|exec", q.name, false)
        digest = Digest.of(df).toString
        t3 = now()
        if (traced) {
          persisted = sc.getPersistentRDDs.size
          blockBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      }
      sc.clearJobGroup()
      val t4a = now()
      BlockCleanup(spark)
      val t4 = now()
      if (error != null) { t1 = t4; t2 = t4; t3 = t4 }
      if (traced) {
        spans += Span("query", pass, q.name, t0, t4)
        spans += Span("operators.build", pass, q.name, t0, t1)
        spans += Span("plans.optimize", pass, q.name, t1, t2)
        spans += Span("exec.run", pass, q.name, t2, t3)
        spans += Span("storage.cleanup", pass, q.name, t4a, t4)
      }
      System.err.println(f"PERFBENCH_QUERY pass=$pass ${q.name} ${(t4 - t0) / 1e3}%.3f s" +
        (if (error != null) s" ERROR $error" else ""))
      Exec(pass, traced, q.name, (t1 - t0) / 1e3, (t2 - t1) / 1e3, (t3 - t2) / 1e3,
        (t4 - t4a) / 1e3, (t4 - t0) / 1e3, digest, error, persisted, blockBytes)
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) sc.addSparkListener(listener)
      val t0 = now()
      orders(pass).foreach(name => execs += execute(byName(name), pass, traced))
      passes += ((pass, traced, (now() - t0) / 1e3))
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        val (c, s) = listener.drain()
        groups ++= c
        sparkSpans ++= s
      }
    }

    runPass(0, traced = false)
    val timedStart = now()
    var pass = 1
    while (pass < orders.size &&
           (pass <= minPasses || (now() - timedStart) / 1e3 < seconds)) {
      // traced and untraced passes in ABBA order, so a warm-up trend
      // biases neither side of the tracing-overhead comparison
      runPass(pass, traced = trace && (pass - 1) % 4 / 2 == (pass - 1) % 2)
      pass += 1
    }
    val probes = if (trace) Probes.run(spark, fixture) else Seq.empty

    json.arr("execs", execs.toSeq) { (j, e) =>
      j.num("pass", e.pass).bool("traced", e.traced).str("q", e.q)
        .num("build", e.build).num("optimize", e.optimize).num("exec", e.exec)
        .num("cleanup", e.cleanup).num("total", e.total).str("digest", e.digest)
        .str("error", e.error).num("persisted", e.persisted).num("block_bytes", e.blockBytes)
    }
    json.arr("passes", passes.toSeq) { (j, p) =>
      j.num("pass", p._1).bool("traced", p._2).num("wall", p._3)
    }
    json.arr("groups", groups.toSeq) { (j, g) =>
      val c = g._2
      j.str("group", g._1).num("jobs", c.jobs).num("stages", c.stages).num("tasks", c.tasks)
        .num("failed_tasks", c.failedTasks).num("task_duration_ms", c.taskDurationMs)
        .num("run_ms", c.runMs).num("cpu_ns", c.cpuNs).num("gc_ms", c.gcMs)
        .num("shuffle_read_bytes", c.shuffleReadBytes)
        .num("shuffle_write_bytes", c.shuffleWriteBytes).num("fetch_wait_ms", c.fetchWaitMs)
        .num("spill_bytes", c.spillBytes).num("peak_exec_mem", c.peakExecMem)
        .num("input_rows", c.inputRows).num("input_bytes", c.inputBytes)
        .num("output_bytes", c.outputBytes)
    }
    json.arr("spans", spans.toSeq) { (j, s) =>
      j.str("name", s.name).num("pass", s.pass).str("q", s.q).num("start", s.start).num("end", s.end)
    }
    json.arr("spark_spans", sparkSpans.toSeq) { (j, s) =>
      j.str("kind", s.kind).num("id", s.id).str("parent", s.parent)
        .num("start", s.startMs).num("end", s.endMs)
    }
    json.obj("probes") { j => probes.foreach { case (k, v) => j.num(k, v) } }
    json.obj("jvm") { j =>
      j.num("jit_end_ms", jitMs())
        .num("code_cache_mb", poolsMb(heap = false, peak = false))
        .num("heap_peak_mb", poolsMb(heap = true, peak = true))
        .num("vm_hwm_mb", vmHwmMb())
    }
    finish(out, json)
  }

  /** Write the output and end the JVM at once: nothing after this point is
    * measured, and the caller deletes the run's temp directory. */
  private def finish(out: java.nio.file.Path, json: Json): Nothing = {
    Files.writeString(out, json.result())
    Console.out.flush()
    Runtime.getRuntime.halt(0)
    throw new IllegalStateException("unreachable")
  }
}

/** Minimal JSON object writer for the harness output. */
final class Json {
  private val sb = new StringBuilder("{")
  private var first = true
  private def key(k: String): StringBuilder = {
    if (!first) sb.append(',')
    first = false
    sb.append(Json.quote(k)).append(':')
  }
  def num(k: String, v: Double): Json = {
    key(k).append(if (v.isNaN || v.isInfinite) "null" else v.toString); this
  }
  def num(k: String, v: Long): Json = { key(k).append(v); this }
  def bool(k: String, v: Boolean): Json = { key(k).append(v); this }
  def str(k: String, v: String): Json = {
    key(k).append(if (v == null) "null" else Json.quote(v)); this
  }
  def obj(k: String)(f: Json => Unit): Json = {
    val j = new Json; f(j); key(k).append(j.result()); this
  }
  def arr[A](k: String, xs: Seq[A])(f: (Json, A) => Unit): Json = {
    key(k).append(xs.map { x => val j = new Json; f(j, x); j.result() }.mkString("[", ",", "]"))
    this
  }
  def result(): String = sb.toString + "}"
}

object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
