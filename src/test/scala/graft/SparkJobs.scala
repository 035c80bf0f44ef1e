package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of spec code starts, and their tasks. */
object SparkJobs {
  private val MarkerProp = "graft.spec.jobMarker"

  /** Spark jobs started while `body` runs. */
  def during(session: SparkSession)(body: => Unit): Int =
    withTasks(session)(body)._1

  /** Spark jobs started while `body` runs, and the tasks of their stages.
    * A marker job before and after brackets them: the listener bus
    * delivers events in order, so once the closing marker arrives every
    * job of `body` has been seen. */
  def withTasks(session: SparkSession)(body: => Unit): (Int, Int) = {
    val sc = session.sparkContext
    val seen = new LinkedBlockingQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put((Option(e.properties)
          .flatMap(p => Option(p.getProperty(MarkerProp))).getOrElse(""),
          e.stageInfos.map(_.numTasks).sum))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(MarkerProp, tag)
      try session.range(1).collect() finally sc.setLocalProperty(MarkerProp, null)
    }
    def next(): (String, Int) = {
      val s = seen.poll(60, TimeUnit.SECONDS)
      assert(s != null, "listener bus delivered no job start within 60 s")
      s
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      body
      marker("end")
      while (next()._1 != "begin") {}
      val jobs = Iterator.continually(next()).takeWhile(_._1 != "end").toSeq
      (jobs.size, jobs.map(_._2).sum)
    } finally sc.removeSparkListener(listener)
  }
}
