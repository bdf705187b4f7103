package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer counters for one traced process.
  *
  * The harness wraps its own calls into each layer's public functions in
  * [[span]]. Spans run one after another on the main thread, so every
  * Spark job is attributed to the span whose wall interval holds the job's
  * submission time; its stages and tasks follow the job. Catalyst phase
  * times from `QueryExecution.tracker` are attributed by the start time of
  * each phase. Listener events arrive asynchronously: read [[report]] only
  * after `SparkSession.stop()`, which drains the listener bus.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  private final case class Interval(start: Long, end: Long)
  private final case class Stage(jobStart: Long, callStack: String,
                                 var taskMs: Long = 0, var tasks: Long = 0,
                                 var shuffleWrite: Long = 0, var spill: Long = 0,
                                 var gcMs: Long = 0, var wallMs: Long = 0,
                                 taskDurations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)

  private val spans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Interval]]
  private val jobs = mutable.Map.empty[Int, Interval]
  private val stages = mutable.Map.empty[Int, Stage]
  private val phases = mutable.Set.empty[(Int, String, Long, Long)]

  /** Time `body` as one interval of span `name` (wall clock, ms). */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally synchronized {
      spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Interval(t0, System.currentTimeMillis())
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Interval(e.time, e.time)
    for (s <- e.stageInfos if !stages.contains(s.stageId))
      stages(s.stageId) = Stage(e.time, s.details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (st <- stages.get(info.stageId); s <- info.submissionTime; c <- info.completionTime)
      st.wallMs = c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (st <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      st.tasks += 1
      st.taskMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
      st.taskDurations += m.executorRunTime
    }
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    val id = System.identityHashCode(qe)
    for ((phase, p) <- qe.tracker.phases) phases += ((id, phase, p.startTimeMs, p.endTimeMs))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = recordPhases(qe)

  /** Span name holding time `t`, if any. */
  private def spanAt(t: Long): Option[String] =
    spans.collectFirst { case (n, ivs) if ivs.exists(i => i.start <= t && t <= i.end) => n }

  /** Total length of the union of `ivs`, in ms. */
  private def unionMs(ivs: Seq[Interval]): Long =
    ivs.sortBy(_.start).foldLeft((0L, Long.MinValue)) { case ((acc, reach), i) =>
      val s = math.max(i.start, reach)
      (acc + math.max(0L, i.end - s), math.max(reach, i.end))
    }._1

  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2).toDouble
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Counters per span, plus task seconds per source file on the stack
    * that issued each stage, as `name -> value`. Spans that never ran are
    * absent. */
  def report(sites: Seq[String]): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val MB = 1024.0 * 1024.0
    for ((name, ivs) <- spans) {
      val spanJobs = jobs.values.filter(j => spanAt(j.start).contains(name)).toSeq
      val spanStages = stages.values.filter(s => spanAt(s.jobStart).contains(name)).toSeq
      val busy = unionMs(spanJobs.map(j => Interval(math.max(j.start, ivs.map(_.start).min), j.end)))
      val slowest = spanStages.filter(_.tasks > 0).sortBy(-_.wallMs).headOption
      val catalystMs = phases.toSeq.collect { case (_, _, s, e) if spanAt(s).contains(name) => e - s }.sum
      val wallMs = ivs.map(i => i.end - i.start).sum
      out ++= Seq(
        s"$name.s" -> wallMs / 1000.0,
        s"$name.self_s" -> math.max(0L, wallMs - busy) / 1000.0,
        s"$name.jobs" -> spanJobs.size.toDouble,
        s"$name.tasks" -> spanStages.map(_.tasks).sum.toDouble,
        s"$name.task_s" -> spanStages.map(_.taskMs).sum / 1000.0,
        s"$name.shuffle_write_mb" -> spanStages.map(_.shuffleWrite).sum / MB,
        s"$name.spill_mb" -> spanStages.map(_.spill).sum / MB,
        s"$name.gc_s" -> spanStages.map(_.gcMs).sum / 1000.0,
        s"$name.catalyst_s" -> catalystMs / 1000.0,
        s"$name.skew" -> slowest.map { s =>
          val m = median(s.taskDurations.toSeq); if (m > 0) s.taskDurations.max / m else 1.0
        }.getOrElse(0.0))
    }
    // a stage's details are the user frames of the call that issued it,
    // e.g. "graft.ops.IdAssign$.assignCore(IdAssign.scala:87)"
    for (site <- sites)
      out(s"site.$site.task_s") =
        stages.values.filter(_.callStack.contains(s"($site.scala:")).map(_.taskMs).sum / 1000.0
    out("task_s") = stages.values.map(_.taskMs).sum / 1000.0
    out.toMap
  }
}
