package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One interval in epoch milliseconds ([[Clock.wall]]). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

object Clock {
  /** Monotonic milliseconds, for durations. */
  def mono: Double = System.nanoTime() / 1e6
  /** Epoch milliseconds, the clock Spark stamps its listener events with,
    * so benchmark spans and Spark spans compare directly. */
  def wall: Double = System.currentTimeMillis().toDouble
}

/** Spark events. Job and stage ids restart with every SparkContext, so
  * each event also carries the number of the context it came from. */
final case class JobEv(ctx: Int, jobId: Int, op: String, start: Double, var end: Double) {
  def key: (Int, Int) = (ctx, jobId)
}
final case class StageEv(ctx: Int, stageId: Int, attempt: Int, start: Double, end: Double) {
  def key: (Int, Int) = (ctx, stageId)
}
final case class TaskEv(ctx: Int, stageId: Int, stageAttempt: Int, launch: Double, finish: Double,
                        failed: Boolean, runMs: Double, cpuMs: Double, gcMs: Double,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long) {
  def stageKey: (Int, Int) = (ctx, stageId)
}

/** Spark listener registered through the public API. The benchmark sets
  * the local property [[Probe.Prop]] to the current operation's id before
  * each call; Spark copies local properties into every job the call
  * submits, also from threads the program starts during the call, so each
  * job, its stages and its tasks are attributed to exactly one operation.
  * Events are kept in memory; the benchmark reads them after
  * [[Probe.detach]]. */
final class Probe extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobEv]
  private val jobById = mutable.HashMap.empty[(Int, Int), JobEv]
  private val stageJob = mutable.HashMap.empty[(Int, Int), JobEv]
  private val stages = ArrayBuffer.empty[StageEv]
  private val tasks = ArrayBuffer.empty[TaskEv]
  private var current: SparkContext = _
  private var ctx = 0

  /** Starts listening on `sc`. */
  def attach(sc: SparkContext): Unit = {
    synchronized { if (sc ne current) { current = sc; ctx += 1 } }
    sc.addSparkListener(this)
  }

  /** Stops listening on `sc` once the listener bus has delivered every
    * queued event. */
  def detach(sc: SparkContext): Unit = {
    org.apache.spark.graftshim.BusFlush.waitEmpty(sc)
    sc.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).map(_.getProperty(Probe.Prop)).orNull
    val j = JobEv(ctx, e.jobId, op, e.time.toDouble, Double.NaN)
    jobs += j
    jobById(j.key) = j
    e.stageIds.foreach(id => stageJob((ctx, id)) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get((ctx, e.jobId)).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageEv(ctx, i.stageId, i.attemptNumber(), s.toDouble, c.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += TaskEv(ctx, e.stageId, e.stageAttemptId, i.launchTime.toDouble, i.finishTime.toDouble, i.failed,
      m.fold(0.0)(_.executorRunTime.toDouble), m.fold(0.0)(_.executorCpuTime / 1e6),
      m.fold(0.0)(_.jvmGCTime.toDouble), m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      m.fold(0L)(x => x.diskBytesSpilled + x.memoryBytesSpilled),
      m.fold(0L)(_.inputMetrics.bytesRead), m.fold(0L)(_.outputMetrics.bytesWritten))
  }

  def snapshot: (Vector[JobEv], Vector[StageEv], Vector[TaskEv], Map[(Int, Int), JobEv]) = synchronized {
    (jobs.toVector, stages.toVector, tasks.toVector, stageJob.toMap)
  }
}

object Probe {
  val Prop = "perfbench.op"
}

object Intervals {
  /** Length of the union of `xs`, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time: the span's duration minus what its children cover. */
  def self(s: Span, children: Iterable[Span]): Double =
    s.ms - covered(children.map(c => (c.start, c.end)), s.start, s.end)
}
