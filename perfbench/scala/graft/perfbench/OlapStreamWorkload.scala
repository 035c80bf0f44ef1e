package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import Main.Ctx

/** `olap_stream`: graft's Spark-side paths in one closed loop.
  *
  * Each cycle runs one pass of [[OlapQueries]] (bulk operations; the
  * pass sum is one `bulk_ms` sample) and then one fresh [[StreamState]]
  * batch (a step operation). Set-up runs every query cold, then
  * `WarmPasses` untimed passes, while a second thread starts the stream
  * with its bootstrap and warm-up batches. After the window come a
  * replay-only batch plus trim and the checks of the stream's served
  * state and the queries' outputs.
  */
object OlapStreamWorkload {
  private val WarmPasses = 1
  private val MinCycles = 3

  def run(ctx: Ctx): Long = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val olap = new OlapQueries(ctx)
    val stream = new StreamState(ctx)
    try {
      // the stream's set-up runs while the queries run cold and warm
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      try {
        val t0 = System.nanoTime()
        val streamUp = pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = { stream.setUp(); (System.nanoTime() - t0) / 1e9 }
        })
        val cold = olap.coldStart()
        (1 to WarmPasses).foreach(_ => olap.warmPass())
        val queriesS = (System.nanoTime() - t0) / 1e9
        ctx.detail("setup_stream_s") = streamUp.get()
        ctx.detail("setup_queries_s") = queriesS
        ctx.detail("cold_ms") = cold
      } finally pool.shutdown()
      ctx.setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

      ctx.startMeasuring()
      val endNs = System.nanoTime() + (ctx.seconds * 1e9).toLong
      val passSums = ArrayBuffer.empty[Double]
      var cycle = 0
      while ((cycle < MinCycles || !ctx.deadlineReached(endNs)) && stream.hasMore) {
        cycle += 1
        passSums += olap.pass(cycle)
        stream.batch(cycle)
      }
      val gc = ctx.stopMeasuring()
      ctx.bulkSamples = passSums.toSeq
      ctx.detail("cycles") = cycle
      stream.replayAndTrim(1)
      stream.finish()
      olap.check()
      gc
    } finally stream.close()
  }
}
