package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side layer counters for the traced run, from Spark's public
  * listener APIs only: job/stage/task events ([[SparkListener]]) give
  * the scheduler and executor layers, each successful query's
  * `QueryExecution.tracker` gives the planning layer.
  *
  * Events arrive on Spark's asynchronous listener bus; each is charged
  * to the operation class current when it arrives ([[Trace.cls]]), and
  * the harness calls [[quiesce]] after every traced operation so the
  * bus has drained before the class changes. Job intervals keep their
  * own timestamps, so the driver gap needs no such care.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite = 0L
    var resultBytes, inputRows, spillBytes = 0L
    var planMs = 0.0
  }

  private val accs = mutable.Map.empty[String, Acc]
  /** (start ms, end ms) of every finished job, wall clock. */
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  @volatile private var events = 0L

  def acc(cls: String): Acc = synchronized(accs.getOrElseUpdate(cls, new Acc))

  /** The sum over `cls` and its refinements `cls.*`. */
  def total(cls: String): Acc = synchronized {
    val t = new Acc
    for ((k, a) <- accs if k == cls || k.startsWith(cls + ".")) {
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.taskRunMs += a.taskRunMs; t.taskCpuNs += a.taskCpuNs
      t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
      t.resultBytes += a.resultBytes; t.inputRows += a.inputRows
      t.spillBytes += a.spillBytes; t.planMs += a.planMs
    }
    t
  }

  private def cur: Acc = acc(Trace.cls)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    cur.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { events += 1; cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val a = cur
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.resultBytes += m.resultSize
      a.inputRows += m.inputMetrics.recordsRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    events += 1
    cur.planMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized { events += 1 }

  /** Wait until every started job has ended and no event has arrived
    * for two consecutive polls (bounded at 2 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    var last = -1L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(5)
      val (n, open) = synchronized((events, jobStart.size))
      if (n == last && open == 0) stable += 1 else stable = 0
      last = n
    }
  }

  /** Job intervals (wall ms) that overlap [fromMs, toMs], clipped. */
  def jobsWithin(fromMs: Long, toMs: Long): Seq[(Long, Long)] = synchronized {
    jobIntervals.toSeq.collect {
      case (s, e) if e > fromMs && s < toMs => (math.max(s, fromMs), math.min(e, toMs))
    }
  }
}
