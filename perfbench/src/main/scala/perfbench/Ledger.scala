package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Attributes Spark jobs, stages and tasks to the request that caused
  * them. The benchmark tags its own calling thread with the local
  * property [[Ledger.Key]]; every job submitted from that thread carries
  * the tag, and the listener folds each job's stages and tasks into the
  * tag's [[Ledger.Agg]]. Untagged jobs are ignored.
  */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobTag = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val aggs = mutable.LinkedHashMap.empty[String, Agg]

  private def agg(tag: String): Agg = aggs.getOrElseUpdate(tag, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Key)).orNull
    if (tag != null) {
      jobTag(e.jobId) = tag
      val j = new JobRec(e.time)
      jobs(e.jobId) = j
      agg(tag).jobList += j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobTag.get)
        .foreach(t => agg(t).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); tag <- jobTag.get(job)) {
      val a = agg(tag)
      a.tasks += 1
      val info = e.taskInfo
      a.taskBusyMs += info.duration
      jobs(job).taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.gcMs += m.jvmGCTime
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Every tag's aggregate, once every queued event has arrived. */
  def aggregates(sc: SparkContext): Map[String, Agg] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(aggs.toMap)
  }
}

object Ledger {
  /** The benchmark's own local property, kept apart from job groups and
    * from any tagging the engine itself does.
    */
  val Key = "perfbench.request"

  final class JobRec(val start: Long) {
    var end: Long = -1L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Job time during which none of its tasks ran (ms). */
    def schedWaitMs: Long =
      if (end < start) 0L
      else (end - start) - Intervals.unionLength(taskIntervals.toSeq, start, end)
  }

  final class Agg {
    val jobList = mutable.ArrayBuffer.empty[JobRec]
    var stages = 0L
    var tasks = 0L
    var taskBusyMs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    def jobs: Long = jobList.size.toLong
    def jobIntervals: Seq[(Long, Long)] =
      jobList.toSeq.filter(j => j.end >= j.start).map(j => (j.start, j.end))
    def schedWaitMs: Long = jobList.map(_.schedWaitMs).sum
  }

  /** Runs `f` with this thread's jobs tagged `tag`, restoring the
    * previous tag afterwards.
    */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try f finally sc.setLocalProperty(Key, prev)
  }
}

object Intervals {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
