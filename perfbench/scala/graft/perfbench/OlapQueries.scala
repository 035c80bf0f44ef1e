package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import graft.SparkEntry
import Main.Ctx

/** The query half of `olap_stream`: closed-loop passes of
  * `SparkEntry.queries` through the noop sink.
  *
  *  - scan (`h09_profit_by_nation`): Catalyst, shuffle and executor work
  *    with no driver-side arms.
  *  - iter (`q47_kcore`): a bounded driver arm (a size probe, then the
  *    peel simulated on the driver) between small jobs.
  *
  * Every query of a pass is one bulk operation; `bulk_ms` is the median
  * pass sum. The query order of every pass is shuffled by the seed.
  * [[coldStart]] runs each query once, all at the same time. After the
  * timed passes [[check]] runs each query once more, again all at once,
  * and writes its output, counting the rows it reads from storage; the
  * caller checks that output against the DuckDB oracle.
  */
final class OlapQueries(ctx: Ctx) {
  import OlapQueries._

  private val spark = ctx.spark
  private val rnd = new scala.util.Random(ctx.seed)
  val scanPass = scala.collection.mutable.ArrayBuffer.empty[Double]
  val iterPass = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def run(q: String): Unit =
    SparkEntry.queries(q)(spark, ctx.dataDir)
      .write.format("noop").mode("overwrite").save()

  /** Each query's first run, all at once; returns their wall ms. */
  def coldStart(): Map[String, Double] = concurrently(ctx, Queries)(run)

  /** One untimed pass (set-up warm-up). */
  def warmPass(): Unit = rnd.shuffle(Queries).foreach(run)

  /** One timed pass; returns its sum over the queries. */
  def pass(n: Int): Double = {
    val ops = rnd.shuffle(Queries).map { q =>
      ctx.timed("bulk", s"$q#$n", kind(q)) {
        val (df, ms, win) = ctx.call(s"operators.build.${kind(q)}")(
          SparkEntry.queries(q)(spark, ctx.dataDir))
        df.write.format("noop").mode("overwrite").save()
        (0L, ms, win)
      }
    }
    scanPass += ops.filter(o => Scan.contains(query(o))).map(_.ms).sum
    iterPass += ops.filter(o => Iter.contains(query(o))).map(_.ms).sum
    ops.map(_.ms).sum
  }

  private def writeOutput(q: String): Unit = {
    val df0 = SparkEntry.queries(q)(spark, ctx.dataDir)
    val df = if (ctx.plant.contains("olap") && q == Scan.head) df0.limit(1) else df0
    df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.workDir}/out/$q")
  }

  /** Untimed: write every output for the oracle check, count the rows
    * each query reads, and fill the artifact's query breakdown. */
  def check(): Unit = {
    val counter = new RowsRead
    spark.sparkContext.addSparkListener(counter)
    ctx.detail("check_ms") = concurrently(ctx, Queries)(writeOutput)
    Thread.sleep(200) // let the listener bus deliver the last task ends
    spark.sparkContext.removeSparkListener(counter)
    val rowsRead = counter.synchronized(Queries.map(q =>
      q -> counter.rows.getOrElse(q, 0L)).toMap)
    val ops = ctx.ops.filter(o => Queries.contains(query(o)))
    ops.foreach(o => o.rows = rowsRead(query(o)))
    ctx.detail("olap_queries") = Queries
    ctx.detail("rows_read") = rowsRead
    ctx.detail("scan_pass_ms") = scanPass.toSeq
    ctx.detail("iter_pass_ms") = iterPass.toSeq
    ctx.detail("query_ms") = ops.toSeq.groupBy(query)
      .map { case (q, os) => q -> Main.median(os.map(_.ms)) }
    val oracles = SparkEntry.oracleSql.view.filterKeys(Queries.toSet).toMap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.workDir}/out/oracle_sql.json"),
      Report.json(oracles))
    ctx.probe.foreach { p =>
      for (k <- Seq("scan", "iter")) {
        val a = p.acc(s"bulk.$k")
        ctx.detail(s"operators.build_ms.$k") =
          Trace.spans.filter(_.name == s"operators.build.$k").map(_.ms).sum
        ctx.detail(s"spark.sched.jobs.$k") = a.jobs
        ctx.detail(s"spark.plan.ms.$k") = a.planMs
        ctx.detail(s"spark.exec.task_run_ms.$k") = a.taskRunMs
        ctx.detail(s"spark.exec.result_bytes.$k") = a.resultBytes
        ctx.detail(s"spark.exec.shuffle_read_bytes.$k") = a.shuffleRead
        ctx.detail(s"spark.exec.shuffle_write_bytes.$k") = a.shuffleWrite
        ctx.detail(s"spark.exec.spill_bytes.$k") = a.spillBytes
      }
    }
  }
}

object OlapQueries {
  val Scan = Seq("h09_profit_by_nation")
  val Iter = Seq("q47_kcore")
  val Queries: Seq[String] = Scan ++ Iter

  private def kind(q: String) = if (Scan.contains(q)) "scan" else "iter"
  private def query(o: Main.Op) = o.name.takeWhile(_ != '#')

  private val QueryProp = "perfbench.query"

  /** Rows read from storage per query, for queries run with the
    * [[QueryProp]] local property set; jobs carry the property, so
    * concurrent queries are told apart. */
  private final class RowsRead extends SparkListener {
    private val stageQuery = scala.collection.mutable.Map.empty[Int, String]
    val rows = scala.collection.mutable.Map.empty[String, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(QueryProp)))
        .foreach(q => e.stageIds.foreach(stageQuery(_) = q))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (q <- stageQuery.get(e.stageId) if e.taskMetrics != null)
        rows(q) = rows.getOrElse(q, 0L) + e.taskMetrics.inputMetrics.recordsRead
    }
  }

  /** Run `f` for every query, one thread per query: the untimed set-up
    * and check runs. Returns each query's wall ms. */
  private def concurrently(ctx: Ctx, queries: Seq[String])(f: String => Unit)
      : Map[String, Double] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(queries.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(queries) { q => Future {
      ctx.spark.sparkContext.setLocalProperty(QueryProp, q)
      val t0 = System.nanoTime()
      try f(q) finally ctx.spark.sparkContext.setLocalProperty(QueryProp, null)
      q -> (System.nanoTime() - t0) / 1e6
    }}, Duration.Inf).toMap
    finally pool.shutdown()
  }
}
