package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftConfig, GraftJob}
import graft.streaming.LocalFilePutClient
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The CDC workloads. Both drive the production job (`GraftJob.start`:
  * wal2json, CSVPayload, one ordered lane, `sendWindowSecs = 0`, a fixed
  * `maxRecordsPerTrigger`) over a WAL file written by [[WalGen]].
  *
  *  - `cdc_backlog` (closed loop): the whole WAL is written before the
  *    job starts; the job drains it. This is slot catch-up after an
  *    outage.
  *  - `cdc_live` (open loop): one generator thread appends transactions
  *    at a fixed rate while the job runs; every change is timed from
  *    the moment it was due to be appended.
  */
class CdcWorkload(ctx: RunContext, live: Boolean) {
  import CdcWorkload._

  private val dir = ctx.work.resolve(ctx.workload)
  private val wal = dir.resolve("wal.jsonl")
  private val sink = dir.resolve("sink")
  private val logId = s"${ctx.workload}-${ctx.seed}"

  private def config(walPath: Path, sinkDir: Path, ckpt: Path,
      maxTxns: Long = MaxTxnsPerTrigger): GraftConfig =
    GraftConfig(walPath.toString, sinkDir.toString, ckpt.toString,
      plugin = "wal2json", tablePat = WalGen.TablePat,
      operations = WalGen.Operations, formatter = "CSVPayload",
      sendWindowSecs = 0, maxRecordsPerTrigger = maxTxns,
      sinkLanes = 1)

  /** One set-up: a fresh session, the PK catalog, and a small warm
    * drain through a job of its own, in several triggers, so the
    * per-trigger path is compiled before anything is timed. Returns the session, the catalog
    * and the catalog build time in ms. */
  private def setUp(rep: Int): (SparkSession, DataFrame, Double) = {
    val spark = Session.start(ctx.cores, ctx.work)
    val t0 = System.nanoTime()
    val catalog = graft.catalog.PkCatalog.fromItems(spark, WalGen.catalogItems)
    catalog.collect()
    val catalogMs = (System.nanoTime() - t0) / 1e6
    val warmDir = dir.resolve(s"warm-$rep")
    val gen = new WalGen(ctx.seed ^ 0x5eedL)
    val out = Files.newOutputStream(Files.createDirectories(warmDir).resolve("wal.jsonl"))
    try (1 to WarmTxns).foreach(_ => out.write(gen.next().line)) finally out.close()
    val q = GraftJob.start(spark, config(warmDir.resolve("wal.jsonl"),
      warmDir.resolve("sink"), warmDir.resolve("ckpt"), WarmTxns / WarmTriggers), catalog,
      putClient = new LocalFilePutClient(warmDir.resolve("sink").toString))
    try q.processAllAvailable() finally q.stop()
    (spark, catalog, catalogMs)
  }

  def run(): Outcome = {
    deleteTree(dir)
    Files.createDirectories(dir)
    // inputs first: generating them is the benchmark's work, not the
    // program's, so it stays out of setup_s
    val tGen = System.nanoTime()
    val gen = new WalGen(ctx.seed)
    // a fixed number of changes, not transactions: sizes are skewed, so
    // a fixed transaction count would vary the work with the seed
    val target = if (live) (LiveChangesPerSec * (ctx.seconds + WarmupS + TailMaxS)).toLong
      else ctx.seconds.toLong * BacklogChangesPerSec
    val txns = {
      val b = ArrayBuffer.empty[Txn]
      var n = 0L
      while (n < target) { val t = gen.next(); b += t; n += t.changes }
      b.toArray
    }
    val nTxns = txns.length
    // changes before each transaction, and the first transaction past a
    // given number of changes
    val before = txns.scanLeft(0L)(_ + _.changes)
    def txnAt(changes: Double): Int = before.indexWhere(_ >= changes) match {
      case -1 => nTxns
      case i => math.min(i, nTxns)
    }
    if (!live) {
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(wal), 1 << 20)
      try txns.foreach(t => out.write(t.line)) finally out.close()
    } else Files.createFile(wal)
    val genS = (System.nanoTime() - tGen) / 1e9

    // set up SetupReps times, each on a fresh session; keep the last
    var spark: SparkSession = null
    var catalog: DataFrame = null
    val setupS = ArrayBuffer.empty[Double]
    val catalogMs = ArrayBuffer.empty[Double]
    for (rep <- 1 to SetupReps) {
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      val (s, c, cm) = setUp(rep)
      setupS += (System.nanoTime() - t0) / 1e9
      spark = s; catalog = c; catalogMs += cm
    }

    val probe = new SparkProbe(ctx.spans)
    if (ctx.trace) spark.sparkContext.addSparkListener(probe)
    // Structured Streaming's own per-trigger progress records
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val acks = new ConcurrentLinkedQueue[(Long, Long)]()
    val prevHook = graft.sources.PgReplicationSource.logFlushed
    graft.sources.PgReplicationSource.logFlushed = lsn => acks.add((lsn, System.nanoTime()))

    val appendNs = new Array[Long](nTxns)
    val dueNs = new Array[Long](nTxns)
    val putLog = PutLog(logId)
    val client = new TimedPutClient(new LocalFilePutClient(sink.toString), logId)
    var error: Throwable = null
    val t0 = System.nanoTime()
    val q = GraftJob.start(spark, config(wal, sink, dir.resolve("ckpt")), catalog,
      putClient = client)
    val firstMeasured = if (live) txnAt(WarmupS * LiveChangesPerSec) else 0
    val measured = if (live) txnAt((WarmupS + ctx.seconds) * LiveChangesPerSec) else nTxns
    var windowEnd = 0L
    var head = nTxns
    try {
      if (!live) {
        waitOrStop(q, t0 + HardCapS * 1000000000L)(q.processAllAvailable())
        windowEnd = System.nanoTime()
      } else {
        // each transaction is due when the fixed change rate reaches it
        val start = System.nanoTime()
        (0 until nTxns).foreach(i => dueNs(i) = start + (before(i) * 1e9 / LiveChangesPerSec).toLong)
        val gen = new Generator(wal, txns, dueNs, appendNs)
        gen.start()
        windowEnd = dueNs(measured - 1)
        // keep load on until every measured change is acked: the source
        // acks an epoch only when it plans the next one
        while (System.nanoTime() < dueNs(nTxns - 1) && maxAck(acks) < measured &&
            q.exception.isEmpty)
          Thread.sleep(20)
        gen.halt()
        head = gen.appended
        // then idle: whatever is still unacked stays unacked
        waitOrStop(q, System.nanoTime() + HardCapS * 1000000000L)(q.processAllAvailable())
        Thread.sleep(IdleWaitMs)
      }
    } catch { case t: Throwable => error = t }
    finally {
      try q.stop() catch { case t: Throwable => if (error == null) error = t }
      graft.sources.PgReplicationSource.logFlushed = prevHook
    }
    q.exception.foreach(e => if (error == null) error = e)
    if (error != null) System.err.println(s"perfbench: CDC job failed: $error")

    val check = new CdcCheck(txns, sink, putLog.all, acks.asScala.toSeq,
      if (live) appendNs else null)
    val res = check.verify(firstMeasured, measured, head, windowEnd)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val triggers = progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    // closed loop: a change's latency runs from the start of the trigger
    // that admitted it; open loop: from the moment it was due
    val origin =
      if (live) dueNs
      else {
        val a = Array.fill(nTxns)(t0)
        triggers.foreach { p =>
          val (s, e) = offsets(p)
          (s until math.min(e, nTxns.toLong)).foreach(i => a(i.toInt) = startNs(p))
        }
        a
      }
    val lat = Latencies(res, origin, if (live) dueNs else null, appendNs)

    // traced run only: per-layer figures from Spark's progress records,
    // the job listener and a separate replay of one trigger's slice
    val layers =
      if (!ctx.trace) Nil
      else {
        new CdcLayers(ctx, spark, catalog, txns, wal, dir, progress.asScala.toSeq,
          probe, putLog, res, appendNs, acks.size, head, live).metrics
      }
    // the generated WAL and expected records are the harness's, not the
    // program's: drop them before reading the heap
    val walChanges = txns.map(_.changes.toLong).sum
    java.util.Arrays.fill(txns.asInstanceOf[Array[AnyRef]], null)
    val heapMb = Heap.retainedMb()
    Session.stop(spark)

    // the measured window: the drain, or from the first measured change
    // being due to the return of the last put carrying a measured change
    val windowS =
      if (!live) (windowEnd - t0) / 1e9
      else (math.max(windowEnd, if (res.putEndNs.isEmpty) windowEnd else res.putEndNs.max) -
        dueNs(firstMeasured)) / 1e9
    // WAL changes through the pipeline (delivered or gated) per second;
    // for the drain, the median over its triggers (steady state), with
    // the whole drain's rate kept in the details
    val drainRate = res.attempted / windowS
    val throughput =
      if (live || triggers.isEmpty) drainRate
      else Stats.median(triggers.map { p =>
        val (s, e) = offsets(p)
        (res.cumChanges(e.toInt) - res.cumChanges(s.toInt)) * 1000.0 /
          math.max(1.0, dur(p, "triggerExecution"))
      })
    val failed = res.failures + (if (error != null) 1 else 0)
    // the drain delivers each trigger's changes in one or two puts, so
    // its changes are not independent latency samples: its tail rank is
    // chosen from the number of distinct puts
    val (tailRank, tailMs) =
      if (live) Stats.tail(lat.deliverMs)
      else Stats.tail(lat.deliverMs.distinct) match {
        case (r, _) => (r, Stats.percentile(lat.deliverMs, r))
      }
    val (ackTailRank, ackTailMs) = Stats.tail(lat.ackMs)
    val setupMedian = Stats.median(setupS.toSeq)
    Outcome(
      attempted = res.attempted, failed = failed,
      endToEnd = Seq(
        ("setup_s", setupMedian, "s"),
        ("throughput_per_s", throughput, "1/s"),
        ("latency_p50_ms", Stats.median(lat.deliverMs), "ms"),
        ("latency_tail_ms", tailMs, "ms"),
        ("heap_retained_mb", heapMb, "MB")),
      perLayer = layers ++ Seq(
        ("catalog.build_ms", Stats.median(catalogMs.toSeq), "ms"),
        ("trace.window_s", windowS, "s"),
        ("trace.throughput_per_s", throughput, "1/s"),
        ("trace.latency_p50_ms", Stats.median(lat.deliverMs), "ms")),
      details = Seq(
        "workload" -> ctx.workload,
        "loop" -> (if (live) s"open, $LiveChangesPerSec changes/s" else "closed, one job"),
        "wal_txns" -> nTxns, "wal_changes" -> walChanges,
        "wal_mb" -> (if (live) 0.0 else Files.size(wal) / 1e6),
        "max_txns_per_trigger" -> MaxTxnsPerTrigger,
        "gen_s" -> genS, "setup_s_samples" -> setupS.toSeq,
        "measured_changes" -> res.attempted, "kept_changes" -> res.keptMeasured,
        "failure_reasons" -> res.reasons,
        "cdc_changes_per_s" -> drainRate,
        "triggers" -> triggers.size,
        "cdc_deliver_p50_ms" -> Stats.median(lat.deliverMs),
        s"cdc_deliver_p${fmtRank(tailRank)}_ms" -> tailMs,
        "cdc_deliver_samples" -> lat.deliverMs.size,
        "cdc_ack_p50_ms" -> Stats.median(lat.ackMs),
        s"cdc_ack_p${fmtRank(ackTailRank)}_ms" -> ackTailMs,
        "cdc_ack_samples" -> lat.ackMs.size,
        "cdc_backlog_end_changes" -> res.backlogEndChanges,
        "generator_late_p50_ms" -> lat.lateP50,
        "generator_late_max_ms" -> lat.lateMax,
        "heap_retained_mb" -> heapMb,
        "ops_failed_ratio" -> failed.toDouble / math.max(1, res.attempted)))
  }

  private def fmtRank(r: Double): String =
    if (r == math.rint(r)) r.toInt.toString else r.toString.replace('.', '_')
}

object CdcWorkload {
  /** Transactions admitted per trigger (the source's line cap). */
  val MaxTxnsPerTrigger = 1200L
  /** Backlog size, in changes, per second of `--seconds`. */
  val BacklogChangesPerSec = 16000L
  /** Open-loop rate of `cdc_live`, in changes per second. */
  val LiveChangesPerSec = 1500.0
  /** `cdc_live`: seconds of load before the measured window. */
  val WarmupS = 3.0
  /** `cdc_live`: the longest the load continues after the window. */
  val TailMaxS = 5.0
  val IdleWaitMs = 1000L
  val WarmTxns = 300
  val WarmTriggers = 5
  val SetupReps = 3
  val HardCapS = 100L

  /** A progress record's source offsets: the WAL lines it admitted. */
  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    def lsn(json: String): Long = if (json == null) 0L else json.replaceAll("[^0-9]", "").toLong
    (lsn(p.sources.head.startOffset), lsn(p.sources.head.endOffset))
  }

  def dur(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  /** A trigger's start on the `System.nanoTime` clock. */
  def startNs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + Clock.nanoMinusMillis

  def maxAck(acks: ConcurrentLinkedQueue[(Long, Long)]): Long =
    acks.asScala.foldLeft(0L)((m, a) => math.max(m, a._1))

  /** Runs `body`, stopping the query if it has not returned by
    * `deadlineNs`, so a stuck job cannot outlive the run. */
  def waitOrStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      deadlineNs: Long)(body: => Unit): Unit = {
    val guard = new Thread(() => {
      try {
        while (System.nanoTime() < deadlineNs) Thread.sleep(100)
        System.err.println("perfbench: CDC drain hit the hard time cap; stopping the job")
        q.stop()
      } catch { case _: InterruptedException => () }
    })
    guard.setDaemon(true)
    guard.start()
    try body finally { guard.interrupt(); guard.join() }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** The open-loop load: appends each transaction at its due time (all
  * transactions already due go out in one write) and records when it
  * was actually appended. */
class Generator(wal: Path, txns: Array[Txn], dueNs: Array[Long],
    appendNs: Array[Long]) extends Thread("perfbench-generator") {
  @volatile private var stopped = false
  @volatile var appended = 0
  setDaemon(true)

  def halt(): Unit = { stopped = true; join() }

  override def run(): Unit = {
    val ch = FileChannel.open(wal, StandardOpenOption.WRITE, StandardOpenOption.APPEND)
    try {
      var i = 0
      while (!stopped && i < txns.length) {
        val wait = dueNs(i) - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        else {
          val now = System.nanoTime()
          var j = i
          while (j < txns.length && dueNs(j) <= now) j += 1
          val buf = ByteBuffer.wrap(txns.slice(i, j).flatMap(_.line))
          while (buf.hasRemaining) ch.write(buf)
          val t = System.nanoTime()
          (i until j).foreach(k => appendNs(k) = t)
          i = j
          appended = i
        }
      }
    } finally ch.close()
  }
}
