package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into a layer. Times are epoch milliseconds on the same
  * clock Spark stamps job events with; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** One Spark job with the task metrics of all its stages summed. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Records jobs and their task metrics while registered. Events arrive on
  * the listener-bus thread; read `jobs` only after `Bus.drain`. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Spans kept in memory and written out once, at the end of the run.
  * Spans are recorded only inside `traced`, which also registers the job
  * listener; outside it both cost nothing. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new JobListener
  private var open: List[Int] = Nil
  private var nextId = 1
  private var on = false
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = nowMs
      try f
      finally {
        open = open.tail
        spans += Span(id, parent, name, t0, nowMs)
      }
    }

  /** Run `f` traced. The bus is drained after `f` returns, so callers that
    * time inside `f` do not pay for the drain. */
  def traced[T](f: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    on = true
    try f
    finally {
      on = false
      Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** `f` traced when `yes`, plain otherwise. */
  def tracedIf[T](yes: Boolean)(f: => T): T = if (yes) traced(f) else f
}
