package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `perfbench/run.py` builds and launches
  * it; it runs one workload, then writes everything it observed as one
  * JSON file (`--out`) for run.py to check and summarise.
  *
  * Arguments: --workload tier_sync|catalog --seed N --seconds S
  * --trace 0|1 --cores N --work DIR --out FILE [--data DIR]. All scratch
  * data goes under --work.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      work: String,
      out: String,
      data: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      cores = need("cores").toInt,
      work = need("work"),
      out = need("out"),
      data = m.getOrElse("data", ""))
  }

  /** Session settings of `graft.Bench`, with scratch space under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in kB; -1 where unavailable. */
  def peakRssKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores, a.work)
    val run = new Run(new Tracer(spark))
    try {
      a.workload match {
        case "tier_sync" => Workloads.tierSync(spark, a, run)
        case "catalog" => Workloads.catalog(spark, a, run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case NonFatal(e) =>
        run.values("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    run.values("peak_rss_kb") = peakRssKb()
    Files.write(Paths.get(a.out), run.toJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
