package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds (the clock Spark's
  * listener events carry), `parent` is the id of the enclosing span. */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, String] = Map.empty)

/** Task-level totals for one query (or one whole pass). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskWaitMs, taskRunMs, gcMs = 0.0
  var taskCpuNs = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows, output = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskWaitMs += o.taskWaitMs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    taskCpuNs += o.taskCpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
    output += o.output
  }
}

/** Listener the traced passes register: collects Spark job spans and task
  * counters, keyed by the job group the harness sets around each query. */
final class JobTracer extends SparkListener {
  private case class JobRec(group: String, start: Double, var end: Double)

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmitted = mutable.Map[Int, Double]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
  private val byGroup = mutable.Map[String, Counters]()
  private var open = 0

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(g, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).jobs += 1
    open += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    open -= 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    counters(stageGroup.getOrElse(id, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val info = e.taskInfo
    stageSubmitted.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0.0, info.launchTime - s))
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  /** Waits (bounded) until every started job has reported its end: the
    * listener bus delivers events after the action that caused them. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(open > 0) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  /** Removes and returns everything recorded so far: job spans per group,
    * counters per group, and the worst stage's longest/median task ratio. */
  def drain(): (Map[String, Seq[(Double, Double)]], Map[String, Counters], Double) = synchronized {
    val spans = jobs.values.filter(!_.end.isNaN).groupBy(_.group)
      .view.mapValues(_.map(j => (j.start, j.end)).toSeq).toMap
    val skew = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2)
      if (med > 0) s.last / med else 1.0
    }.foldLeft(1.0)(math.max)
    val counts = byGroup.toMap
    jobs.clear(); stageGroup.clear(); stageSubmitted.clear()
    stageTaskMs.clear(); byGroup.clear(); open = 0
    (spans, counts, skew)
  }
}

object Spans {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var started = false
    clipped.foreach { case (a, b) =>
      if (!started) { curA = a; curB = b; started = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (started) total + curB - curA else 0.0
  }
}
