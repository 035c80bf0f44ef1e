package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark workload in this JVM:
  *
  *   graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *                        <dataDir> <workDir> <size full|tiny> [plant]
  *
  * Builds the session from the program's own defaults
  * ([[graft.GraftSession.builder]]) plus a private warehouse, local dir
  * and temp dir under `workDir`, runs the workload's set-up, then its
  * closed loop of operations for `seconds` of wall time, checks every
  * output outside the timers, and writes `workDir/result.json`. `plant`
  * names a deliberately wrong output the self-test expects to be caught.
  */
object Main {
  /** One timed operation. `cpuMs` is the process CPU time it used,
    * `stealMs` the machine's steal time meanwhile (see [[stealMs]]). */
  final case class Op(cls: String, name: String, startMs: Long, endMs: Long,
                      ms: Double, var rows: Long, callMs: Double,
                      callWindow: (Long, Long), var ok: Boolean,
                      cpuMs: Double, stealMs: Double)

  final class Ctx(val spark: SparkSession, val workload: String,
                  val seed: Long, val seconds: Double, val trace: Boolean,
                  val dataDir: String, val workDir: String,
                  val tiny: Boolean, val plant: Option[String],
                  val probe: Option[Probe]) {
    val ops = ArrayBuffer.empty[Op]
    val failures = ArrayBuffer.empty[String]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var setupS = 0.0
    /** Bulk timings when a bulk pass spans several operations (the
      * query pass sums of `olap_stream`); empty = one bulk operation
      * per sample. */
    var bulkSamples: Seq[Double] = Nil
    var measureStartMs = 0L
    var measureEndMs = 0L
    private var gcAtStart = 0L

    def fail(msg: String): Unit = synchronized {
      failures += msg
      System.err.println(s"[perfbench] FAILED: $msg")
    }

    /** Set-up is over: the first timed operation starts now. */
    def startMeasuring(): Unit = {
      measureStartMs = System.currentTimeMillis()
      gcAtStart = gcMs()
    }

    def stopMeasuring(): Long = {
      measureEndMs = System.currentTimeMillis()
      gcMs() - gcAtStart
    }

    /** Time one closed-loop operation. `body` returns (rows, graft call
      * ms, graft call window); an exception counts the operation as
      * failed. In the traced run the listener bus is drained afterwards
      * so its events are charged to this operation's class (refined by
      * `tag`, when given, as `cls.tag`). */
    def timed(cls: String, name: String, tag: String = "")(
        body: => (Long, Double, (Long, Long))): Op = {
      Trace.cls = if (tag.isEmpty) cls else s"$cls.$tag"
      val s = System.currentTimeMillis()
      val cpu0 = cpuNs()
      val steal0 = stealMs()
      val t0 = System.nanoTime()
      val (rows, callMs, win, ok) =
        try { val (r, c, w) = Trace.span(s"op.$cls")(body); (r, c, w, true) }
        catch { case e: Throwable =>
          fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          (0L, 0.0, (0L, 0L), false)
        }
      val ms = (System.nanoTime() - t0) / 1e6
      val op = Op(cls, name, s, System.currentTimeMillis(), ms, rows, callMs,
        win, ok, (cpuNs() - cpu0) / 1e6, stealMs() - steal0)
      ops += op
      probe.foreach(_.quiesce())
      Trace.cls = ""
      op
    }

    /** Time a graft call inside an operation: (result, ms, window). */
    def call[A](name: String)(body: => A): (A, Double, (Long, Long)) = {
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val a = Trace.span(name)(body)
      (a, (System.nanoTime() - t0) / 1e6, (s, System.currentTimeMillis()))
    }

    def deadlineReached(deadlineNs: Long): Boolean = System.nanoTime() >= deadlineNs
  }

  /** CPU time of the whole process (every thread), in ns. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time the hypervisor took from this machine, summed over its
    * cores, in ms (the `steal` column of Linux's /proc/stat, in 10 ms
    * ticks); 0 where that is not available. The artifact records it per
    * operation, so a slow run can be told from a busy host. */
  def stealMs(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble * 10
      finally src.close()
    } catch { case _: Exception => 0.0 }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a forced GC. Spark's ContextCleaner frees
    * shuffle and broadcast blocks only after a GC has enqueued their
    * references, so collect until two readings agree within 1 MB
    * (at most eight rounds). */
  def heapRetainedMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (nearest rank), and its value; (0, NaN) below eleven samples. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (0, Double.NaN)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (p, s(math.max(1, math.ceil(p / 100.0 * n).toInt) - 1))
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, size) =
      args.take(7)
    val plant = args.lift(7).filter(_.nonEmpty)
    val trace = traceS == "1"
    val wd = new java.io.File(workDir).getAbsolutePath
    val spark = graft.GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"$wd/warehouse")
      .config("spark.local.dir", s"$wd/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = if (trace) Some(new Probe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    Trace.enabled = trace
    Trace.runId = s"$workload-$seedS-${System.currentTimeMillis()}"
    val ctx = new Ctx(spark, workload, seedS.toLong, secondsS.toDouble, trace,
      dataDir, wd, size == "tiny", plant, probe)
    val gcDuring =
      try workload match {
        case "sync" => SyncWorkload.run(ctx)
        case "olap_stream" => OlapStreamWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch { case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        0L
      }
    val heapMb = heapRetainedMb()
    probe.foreach(_.quiesce())
    val json = Report.build(ctx, heapMb, gcDuring)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wd/result.json"), json)
    if (trace)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$wd/spans.json"), Report.spansJson())
    spark.stop()
  }
}
