package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One call into a graft layer, as the benchmark saw it from outside.
  *
  * `startMs`/`returnedMs`/`endMs` are wall-clock milliseconds, the clock Spark
  * stamps job, stage and task events with, so the listener's counts can be
  * attributed to the call that was running when each event happened. Calls
  * never overlap: the benchmark makes them one at a time. `returnedMs` splits
  * the call into the part inside the function (planning plus eager jobs) and
  * the action that materializes its result.
  */
final case class Span(id: Int, parent: Int, workload: String, phase: String,
    layer: String, fn: String, startMs: Long, returnedMs: Long, endMs: Long,
    wallS: Double, callS: Double, failed: Boolean) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
}

/** Spark work attributed to one span. */
final case class Counts(jobs: Int = 0, jobsInCall: Int = 0, stages: Int = 0,
    tasks: Int = 0, taskCpuS: Double = 0, shuffleWriteMb: Double = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, jobsInCall + o.jobsInCall,
    stages + o.stages, tasks + o.tasks, taskCpuS + o.taskCpuS,
    shuffleWriteMb + o.shuffleWriteMb)
}

/** Records raw scheduler events; [[countsFor]] attributes them to spans by
  * time after the bus has drained. Registered only in traced runs.
  */
final class CountingListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[Long]          // submission times
  private val stages = mutable.ArrayBuffer.empty[Long]        // submission times
  // launch time, executor CPU ns, shuffle bytes written
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val (cpu, shuffle) =
      if (m == null) (0L, 0L) else (m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten)
    tasks += ((e.taskInfo.launchTime, cpu, shuffle))
  }

  /** Counts per span id, for spans that do not overlap in time. */
  def countsFor(spans: Seq[Span]): Map[Int, Counts] = synchronized {
    val sorted = spans.sortBy(_.startMs).toArray
    val starts = sorted.map(_.startMs)
    def owner(t: Long): Option[Span] = {
      // last span that started at or before t
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 =>
          var j = k
          while (j + 1 < starts.length && starts(j + 1) == t) j += 1
          j
        case k => -k - 2
      }
      if (i >= 0 && sorted(i).contains(t)) Some(sorted(i)) else None
    }
    val acc = mutable.Map.empty[Int, Counts].withDefaultValue(Counts())
    jobs.foreach(t => owner(t).foreach { s =>
      acc(s.id) += Counts(jobs = 1, jobsInCall = if (t < s.returnedMs) 1 else 0)
    })
    stages.foreach(t => owner(t).foreach(s => acc(s.id) += Counts(stages = 1)))
    tasks.foreach { case (t, cpu, shuffle) => owner(t).foreach { s =>
      acc(s.id) += Counts(tasks = 1, taskCpuS = cpu / 1e9, shuffleWriteMb = shuffle / 1048576.0)
    } }
    acc.toMap
  }
}
