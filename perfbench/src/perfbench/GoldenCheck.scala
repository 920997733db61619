package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checks the benchmark's queries against the repository's golden
  * snapshots (`src/test/resources/golden_sf0001.txt`: query, row count, MD5
  * of the rows' concatenated string forms in output order), computed the
  * same way and at the same local[8] / 8-partition setting the snapshots
  * were taken at. Usage: GoldenCheck <sf0.001 dir> <golden file> <tmp> q1,q2,...
  */
object GoldenCheck {
  def main(args: Array[String]): Unit = {
    val golden = Files.readAllLines(Paths.get(args(1))).asScala
      .map(_.split(",")).collect { case Array(q, n, h) => q -> (n.toLong, h) }.toMap
    val spark = Harness.session(args(2), cores = 8)
    val byName = graft.Registry.all.map(q => q.name -> q).toMap
    var bad = 0
    try args(3).split(",").foreach { name =>
      golden.get(name) match {
        case None => println(s"skip $name: no golden snapshot")
        case Some((n, h)) =>
          val rows = byName(name).fn(spark, args(0)).collect()
          val md = java.security.MessageDigest.getInstance("MD5")
          rows.foreach(r => md.update(r.mkString("", "", "").getBytes("UTF-8")))
          val got = md.digest().map("%02x".format(_)).mkString
          val ok = rows.length == n && got == h
          if (!ok) bad += 1
          println(s"${if (ok) "ok  " else "FAIL"} $name rows=${rows.length} md5=$got" +
            (if (ok) "" else s" expected rows=$n md5=$h"))
          graft.BlockCleanup(spark)
      }
    } finally spark.stop()
    if (bad != 0) sys.exit(1)
  }
}
