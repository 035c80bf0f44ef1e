package graft.perfbench

import java.sql.{DriverManager, SQLException}
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType
import graft.sources.{DerbyDialect, GraftDerbyDialect, SyncConf, TableSync}
import graft.streaming.{JdbcIncremental, StreamSync}
import Main.Ctx

/** `sync`: the reference's whole purpose, JDBC database → JDBC database.
  *
  * Source and target are in-memory embedded Derby databases (nothing is
  * flushed to disk on either side). The source holds `ORDERS` (BIGINT
  * primary key), `LINEITEM` (no key) and `CUSTOMER` (primary key) from
  * the generated tables.
  *
  * The measured phase is a closed loop of cycles; each cycle is one
  * bulk operation and `RoundsPerCycle` step operations, so both classes
  * see the same stretch of the run.
  *  - bulk: `TableSync.syncAll` into the target with `SyncConf()`
  *    defaults. After every pass, outside the timer, each table's row
  *    count and SQL content checksum must match.
  *  - step: a CDC round. It appends a seeded change batch (new keys,
  *    updates skewed to hot keys, keys with several versions in one
  *    round) to a versioned source table, then one
  *    `JdbcIncremental.syncIncrement` applies it to a keyed target.
  *    After every round the target must equal the latest version of
  *    each key; at the end that truth is re-derived in SQL from the
  *    source.
  */
object SyncWorkload {
  private val Src = "jdbc:derby:memory:gb_src"
  private val Tgt = "jdbc:derby:memory:gb_tgt"
  private val CdcSrc = "jdbc:derby:memory:gb_cdc_src"
  private val CdcTgt = "jdbc:derby:memory:gb_cdc_tgt"
  private val Cdc = "CDC_SRC"
  private val WarmCycles = 1
  private val MinCycles = 2
  private val RoundsPerCycle = 3
  private val WarmRoundsPerCycle = 4

  private val Ddl = Seq(
    "ORDERS" -> ("O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, O_CUSTKEY BIGINT, " +
      "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
      "O_ORDERPRIORITY VARCHAR(15)"),
    "LINEITEM" -> ("L_ORDERKEY BIGINT, L_PARTKEY BIGINT, L_SUPPKEY BIGINT, " +
      "L_LINENUMBER INT, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, " +
      "L_DISCOUNT DOUBLE, L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), " +
      "L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP"),
    "CUSTOMER" -> ("C_CUSTKEY BIGINT NOT NULL PRIMARY KEY, C_NAME VARCHAR(25), " +
      "C_NATIONKEY INT, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(10)"))

  private def exec(url: String, sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try { val st = conn.createStatement(); sqls.foreach(st.execute); st.close() }
    finally conn.close()
  }

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () } // 08006 = dropped; XJ004 = absent

  private def freshDb(url: String): Unit = {
    dropDb(url)
    val conn = DriverManager.getConnection(s"$url;create=true")
    try DerbyHash.install(conn) finally conn.close()
  }

  /** One CDC change row; the target keeps the greatest SEQ per K. */
  final case class Change(seq: Long, k: Long, v: Double, note: String) {
    def hash: Long = DerbyHash.mix(DerbyHash.mix(DerbyHash.mix(
      DerbyHash.hl(seq), DerbyHash.hl(k)), DerbyHash.hd(v)), DerbyHash.hs(note))
  }

  /** Seeded change-batch generator: ~35% new keys, ~10% re-versions of a
    * key already changed this round, the rest updates skewed towards
    * the oldest (hot) keys. */
  final class Changes(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val keys = mutable.ArrayBuffer.empty[Long]
    private var nextKey = 0L
    private var nextSeq = 1L
    val latest = mutable.HashMap.empty[Long, Change]

    def batch(round: Int, n: Int): Seq[Change] = {
      val inRound = mutable.ArrayBuffer.empty[Long]
      (0 until n).map { i =>
        val u = rnd.nextDouble()
        val k =
          if (keys.isEmpty || u < 0.35) { nextKey += 1; keys += nextKey; nextKey }
          else if (u < 0.45 && inRound.nonEmpty) inRound(rnd.nextInt(inRound.size))
          else keys((keys.size * math.pow(rnd.nextDouble(), 3)).toInt)
        inRound += k
        val c = Change(nextSeq, k, rnd.nextInt(10000000) / 100.0, s"r$round-$i")
        nextSeq += 1
        latest(k) = c
        c
      }
    }

    def expected: (Long, Long) = (latest.size.toLong, latest.valuesIterator.map(_.hash).sum)
  }

  private def append(rows: Seq[Change]): Unit = {
    val conn = DriverManager.getConnection(CdcSrc)
    try {
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(s"INSERT INTO $Cdc VALUES (?, ?, ?, ?)")
      rows.foreach { c =>
        ps.setLong(1, c.seq); ps.setLong(2, c.k); ps.setDouble(3, c.v)
        ps.setString(4, c.note); ps.addBatch()
      }
      ps.executeBatch(); ps.close(); conn.commit()
    } finally conn.close()
  }

  def run(ctx: Ctx): Long = {
    val spark = ctx.spark
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    GraftDerbyDialect.ensureRegistered()
    val conf = SyncConf(sourceUrl = Src, targetUrl = Tgt, database = "APP")
    val cdcConf = SyncConf(sourceUrl = CdcSrc, targetUrl = CdcTgt, database = "APP")
    val roundRows = if (ctx.tiny) 100 else 1000
    var changes: Changes = null
    var mark = 0L
    var sourceSums = Map.empty[String, (Long, Long)]
    var tableRows = 0L

    val polled = mutable.ArrayBuffer.empty[Long]
    val applied = mutable.ArrayBuffer.empty[Long]

    /** One CDC round: append a seeded change batch to the source, then
      * apply it with `syncIncrement`. A timed round is a step operation
      * and is checked: the target must equal the latest version of each
      * key. The traced run calls `syncIncrement`'s own two calls, with
      * a span around each. */
    def cdcRound(round: Int, timed: Boolean): Unit = {
      val batch = changes.batch(round, roundRows)
      append(batch)
      if (!timed) {
        mark = JdbcIncremental.syncIncrement(spark, cdcConf, Cdc, "SEQ",
          Seq("K"), mark, DerbyDialect)
        return
      }
      val op = ctx.timed("step", s"cdc#$round") {
        val (m, ms, win) =
          if (!ctx.trace) ctx.call("streaming.sync.syncIncrement")(
            JdbcIncremental.syncIncrement(spark, cdcConf, Cdc, "SEQ", Seq("K"),
              mark, DerbyDialect))
          else ctx.call("streaming.sync.syncIncrement") {
            val inc = Trace.span("streaming.sync.poll")(
              JdbcIncremental.poll(spark, cdcConf, Cdc, "SEQ", mark, DerbyDialect))
            try inc.newMark match {
              case Some(m) =>
                polled += inc.rows
                applied += batch.map(_.k).distinct.size
                Trace.span("streaming.sync.upsert")(
                  StreamSync.upsertBatch(cdcConf, DerbyDialect, Cdc, Seq("K"),
                    orderCol = Some("SEQ"))(inc.df, m))
                m
              case None => mark
            } finally inc.df.unpersist()
          }
        mark = m
        (batch.size.toLong, ms, win)
      }
      if (op.ok) {
        val got = DerbyHash.tableSum(CdcTgt, Cdc)
        if (got != changes.expected) {
          op.ok = false
          ctx.fail(s"${op.name}: target (rows, checksum) $got != latest " +
            s"version per key ${changes.expected}")
        }
      }
    }

    /** The whole set-up: fresh databases, seeding, an initial CDC round
      * and `WarmCycles` untimed cycles of one `syncAll` pass and
      * `WarmRoundsPerCycle` CDC rounds. */
    def setUp(): Double = {
      val t0 = System.nanoTime()
      def lap(k: String) = ctx.detail(s"setup_$k" + "_s") = (System.nanoTime() - t0) / 1e9
      Seq(Src, Tgt, CdcSrc, CdcTgt).foreach(freshDb)
      // the three tables are seeded at the same time
      Ddl.par.foreach { case (t, cols) =>
        exec(Src, s"CREATE TABLE $t ($cols)")
        val df = spark.read.parquet(s"${ctx.dataDir}/${t.toLowerCase}.parquet")
        df.repartition(spark.sparkContext.defaultParallelism).select(df.columns.map { c =>
          val cc = col(c)
          (if (df.schema(c).dataType == TimestampNTZType) cc.cast("timestamp") else cc)
            .as(c.toUpperCase)
        }: _*).write.mode(SaveMode.Append)
          .option("batchsize", "10000").jdbc(Src, t, new java.util.Properties())
      }
      lap("seeded")
      sourceSums = Ddl.map { case (t, _) => t -> DerbyHash.tableSum(Src, t) }.toMap
      tableRows = sourceSums.values.map(_._1).sum
      val cdcCols = "SEQ BIGINT NOT NULL, K BIGINT NOT NULL, V DOUBLE, NOTE VARCHAR(24)"
      exec(CdcSrc, s"CREATE TABLE $Cdc ($cdcCols, PRIMARY KEY (SEQ))",
        s"CREATE INDEX ${Cdc}_K ON $Cdc (K)")
      // keyed by a plain index, not a PRIMARY KEY: see the notes on
      // Derby's unique index (the check below still demands one row per key)
      exec(CdcTgt, s"CREATE TABLE $Cdc ($cdcCols)", s"CREATE INDEX ${Cdc}_K ON $Cdc (K)")
      changes = new Changes(ctx.seed * 1000003L + 17)
      append(changes.batch(0, roundRows * 2))
      mark = JdbcIncremental.syncIncrement(spark, cdcConf, Cdc, "SEQ", Seq("K"),
        0L, DerbyDialect)
      for (c <- 1 to WarmCycles) {
        TableSync.syncAll(spark, conf, DerbyDialect)
        (1 to WarmRoundsPerCycle).foreach(i =>
          cdcRound(-(c * WarmRoundsPerCycle + i), timed = false))
      }
      lap("warm")
      (System.nanoTime() - t0) / 1e9
    }
    ctx.setupS = sessionS + setUp()
    ctx.detail("setup_session_s") = sessionS
    ctx.detail("snapshot_rows") = tableRows
    ctx.detail("source_rows") = sourceSums.map { case (t, s) => t -> s._1 }

    def checkSnapshot(op: Main.Op): Unit = Ddl.foreach { case (t, _) =>
      val got = DerbyHash.tableSum(Tgt, t)
      if (got != sourceSums(t)) {
        op.ok = false
        ctx.fail(s"${op.name}: $t target (rows, checksum) $got != source ${sourceSums(t)}")
      }
    }

    // the measured phase: cycles of one syncAll pass (a bulk operation)
    // and RoundsPerCycle CDC rounds (step operations)
    ctx.startMeasuring()
    val endNs = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var cycle = 0
    var round = 0
    while (cycle < MinCycles || !ctx.deadlineReached(endNs)) {
      cycle += 1
      val op = ctx.timed("bulk", s"syncAll#$cycle") {
        val (res, ms, win) = ctx.call("sources.syncAll")(
          TableSync.syncAll(spark, conf, DerbyDialect))
        (res.map(_.targetRows).sum, ms, win)
      }
      if (ctx.plant.contains("sync") && cycle == 2)
        exec(Tgt, "DELETE FROM LINEITEM WHERE L_ORDERKEY = " +
          "(SELECT MIN(L_ORDERKEY) FROM LINEITEM)")
      if (op.ok) checkSnapshot(op)
      for (_ <- 1 to RoundsPerCycle) { round += 1; cdcRound(round, timed = true) }
    }
    val gc = ctx.stopMeasuring()

    // the in-memory truth, re-derived in SQL from the versioned source
    val latestSql = {
      val conn = DriverManager.getConnection(CdcSrc)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT COUNT(*), SUM(${DerbyHash.rowExpr(conn, Cdc)}) FROM " +
            s"(SELECT s.* FROM $Cdc s JOIN (SELECT K AS MK, MAX(SEQ) AS MS " +
            s"FROM $Cdc GROUP BY K) m ON s.K = m.MK AND s.SEQ = m.MS) x")
        try { rs.next(); (rs.getLong(1), rs.getLong(2)) } finally rs.close()
      } finally conn.close()
    }
    val finalTgt = DerbyHash.tableSum(CdcTgt, Cdc)
    if (latestSql != finalTgt) {
      ctx.ops.filter(_.cls == "step").lastOption.foreach(_.ok = false)
      def rows(url: String, sql: String): Set[(Long, Long, Double, String)] = {
        val conn = DriverManager.getConnection(url)
        try {
          val rs = conn.createStatement().executeQuery(sql)
          val out = mutable.Set.empty[(Long, Long, Double, String)]
          try while (rs.next())
            out += ((rs.getLong(1), rs.getLong(2), rs.getDouble(3), rs.getString(4)))
          finally rs.close()
          out.toSet
        } finally conn.close()
      }
      val tgt = rows(CdcTgt, s"SELECT SEQ, K, V, NOTE FROM $Cdc")
      val want = changes.latest.valuesIterator.map(c => (c.seq, c.k, c.v, c.note)).toSet
      ctx.fail(s"CDC target $finalTgt != source latest-per-key $latestSql: " +
        s"target-only rows ${(tgt -- want).take(3)}; missing rows ${(want -- tgt).take(3)}")
    }
    ctx.detail("cdc_rounds") = round
    ctx.detail("cycles") = cycle
    ctx.detail("cdc_keys") = finalTgt._1

    if (ctx.trace) traceLayers(ctx, conf, polled.toSeq, applied.toSeq)
    Seq(Src, Tgt, CdcSrc, CdcTgt).foreach(dropDb)
    gc
  }

  /** The `sources` layer one table at a time (traced run only, after
    * the measured phase): readTable set-up, the read alone forced
    * through the noop sink, the whole sync, and the count check that
    * follows the write job. */
  private def traceLayers(ctx: Ctx, conf: SyncConf, polled: Seq[Long],
                          applied: Seq[Long]): Unit = {
    val spark = ctx.spark
    val probe = ctx.probe.get
    for ((t, kind) <- Seq("ORDERS" -> "pk", "LINEITEM" -> "nopk")) {
      Trace.cls = s"layer.$kind"
      val ((df, _), setupMs, _) = ctx.call(s"sources.readTable.$kind")(
        TableSync.readTable(spark, conf, t, DerbyDialect))
      ctx.detail(s"sources.read_setup_ms.$kind") = setupMs
      ctx.detail(s"sources.read_partitions.$kind") = df.rdd.getNumPartitions
      val (_, readMs, _) = ctx.call(s"sources.read.$kind")(
        df.write.format("noop").mode("overwrite").save())
      ctx.detail(s"sources.read_ms.$kind") = readMs
      val (_, syncMs, (s, e)) = ctx.call(s"sources.sync.$kind")(
        TableSync.sync(spark, conf, t, DerbyDialect))
      probe.quiesce()
      ctx.detail(s"sources.sync_ms.$kind") = syncMs
      val lastJobEnd = probe.jobsWithin(s, e).map(_._2).foldLeft(s)(math.max)
      ctx.detail(s"sources.count_check_ms.$kind") = (e - lastJobEnd).toDouble
    }
    Trace.cls = ""
    val bulk = ctx.ops.filter(_.cls == "bulk")
    val cores = graft.GraftSession.defaultCpus
    ctx.detail("sources.task_busy_share") =
      probe.acc("bulk").taskRunMs / (bulk.map(_.ms).sum * cores)
    val spans = Trace.spans
    def total(n: String) = spans.filter(_.name == n).map(_.ms).sum
    ctx.detail("streaming.sync.poll_ms") = total("streaming.sync.poll")
    ctx.detail("streaming.sync.upsert_ms") = total("streaming.sync.upsert")
    ctx.detail("streaming.sync.rows_polled") = polled.sum
    ctx.detail("streaming.sync.rows_applied") = applied.sum
    ctx.detail("streaming.sync.apply_ratio") =
      applied.sum.toDouble / math.max(1L, polled.sum)
  }
}
