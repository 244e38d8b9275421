package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** What one benchmark run observed: operation timings, failures, counts
  * and the trace. Statistics are left to the caller of the harness, which
  * reads the JSON written by `toJson`. */
final class Run(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  /** (traced seconds, untraced seconds) of paired operations. */
  val pairs = mutable.ArrayBuffer[(Double, Double)]()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 50) errors += msg
  }

  /** Run one operation. A thrown exception counts it as failed and records
    * no timing; otherwise its seconds are sampled under `name`. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      sample(name, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$name: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** An output check of one operation already counted as attempted. A
    * failed (or throwing) check counts that operation as failed. */
  def check(name: String)(ok: => Boolean, detail: => String): Boolean = {
    val passed =
      try ok
      catch { case NonFatal(e) => fail(s"check $name threw ${e.getClass.getName}: ${e.getMessage}"); return false }
    if (!passed) fail(s"check $name failed: $detail")
    passed
  }

  def toJson: String = {
    val jobs = tracer.listener.synchronized(tracer.listener.jobs.values.toSeq)
    Run.mapper.writeValueAsString(Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "values" -> values.toMap,
      "pairs" -> pairs.map { case (t, u) => Seq(t, u) }.toSeq,
      "spans" -> tracer.spans.toSeq.map(s =>
        Seq(s.id, s.parent, s.name, s.startMs, s.endMs)),
      "jobs" -> jobs.map(j =>
        Seq(j.id, j.startMs, j.endMs, j.cpuNs, j.gcMs, j.shuffleBytes,
          j.spillBytes, j.inputBytes, j.outputBytes))))
  }
}

object Run {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
