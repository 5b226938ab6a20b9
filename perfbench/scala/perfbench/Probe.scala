package perfbench

import scala.collection.mutable
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters of one layer call, as the difference of two [[Probe]] reads. */
final case class Delta(wallS: Double, planS: Double, jobs: Long, tasks: Long,
                       shuffleMb: Double, spillMb: Double, peakExecMb: Double)

/** Job, task, shuffle and spill counts from the scheduler's events. These
  * counts do not depend on host noise, so they sit beside every wall time.
  */
final class Probe extends SparkListener {
  private var jobs, tasks, shuffleBytes, spillBytes, peakBytes = 0L
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      peakBytes = math.max(peakBytes, m.peakExecutionMemory)
    }
  }

  def jobCount: Long = synchronized(jobs)
  def taskCount: Long = synchronized(tasks)

  /** Runs `body` and returns its result with the counters it caused.
    * `planS` is the span's wall time outside any Spark job: analysis,
    * optimization, planning and other driver work.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Delta) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val (j0, t0, s0, sp0) = synchronized {
      peakBytes = 0L
      (jobs, tasks, shuffleBytes, spillBytes)
    }
    val wall0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - n0) / 1e9
    val wall1 = System.currentTimeMillis()
    ListenerBusDrain(sc)
    synchronized {
      val inside = jobSpans.filter { case (s, e) => s >= wall0 && e <= wall1 }
        .sortBy(_._1)
      var busyMs, reach = 0L
      inside.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) busyMs += e - from
        reach = math.max(reach, e)
      }
      jobSpans.clear()
      (out, Delta(wallS, math.max(0.0, wallS - busyMs / 1e3), jobs - j0,
        tasks - t0, (shuffleBytes - s0) / 1e6, (spillBytes - sp0) / 1e6,
        peakBytes / 1e6))
    }
  }
}

/** One span per layer boundary, held in memory and written once at the end. */
final case class Span(name: String, parent: String, runId: String,
                      startMs: Long, endMs: Long, delta: Delta)

final class Tracer(spark: SparkSession, probe: Probe, runId: String) {
  val spans = mutable.ArrayBuffer[Span]()

  def span[T](name: String, parent: String)(body: => T): (T, Delta) = {
    val start = System.currentTimeMillis()
    val (out, d) = probe.measure(spark)(body)
    spans += Span(name, parent, runId, start, System.currentTimeMillis(), d)
    (out, d)
  }

  def json(namespace: String): String = spans.map { s =>
    val d = s.delta
    s"""  {"name": ${Json.str(s.name)}, "parent": ${Json.str(s.parent)}, """ +
      s""""run_id": ${Json.str(s.runId)}, "start_ms": ${s.startMs}, """ +
      s""""end_ms": ${s.endMs}, "wall_s": ${d.wallS}, "plan_s": ${d.planS}, """ +
      s""""jobs": ${d.jobs}, "tasks": ${d.tasks}, "shuffle_mb": ${d.shuffleMb}, """ +
      s""""spill_mb": ${d.spillMb}, "peak_exec_mb": ${d.peakExecMb}}"""
  }.mkString(s"""{"namespace": $namespace,\n "spans": [\n""", ",\n", "\n]}\n")
}
