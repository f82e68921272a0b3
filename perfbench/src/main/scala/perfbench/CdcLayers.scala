package perfbench

import java.nio.file.Path

import graft.functions.Cdc
import graft.streaming.{KplAggregate, LocalFilePutClient, OrderedAggregatingWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

/** Per-layer figures of a traced CDC run, measured from outside the
  * program: Structured Streaming's per-trigger progress records (the
  * micro-batch loop and the source), the job listener, the put log, and
  * a replay of one trigger's slice through the source reader, the
  * `Cdc` functions and the sink writer separately. Also turns the
  * trigger phases, jobs and puts into spans. */
class CdcLayers(ctx: RunContext, spark: SparkSession, catalog: DataFrame,
    txns: Array[Txn], wal: Path, dir: Path, progress: Seq[StreamingQueryProgress],
    probe: SparkProbe, putLog: PutLog, res: CheckResult, appendNs: Array[Long],
    ackCount: Int, head: Int, live: Boolean) {

  import CdcWorkload.{dur, offsets, startNs}

  private val cum = res.cumChanges
  private def changes(from: Long, to: Long): Long =
    cum(math.min(to, txns.length.toLong).toInt) - cum(math.min(from, txns.length.toLong).toInt)
  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private val triggers = progress.filter(_.numInputRows > 0).sortBy(_.batchId)

  /** The trigger loop's phases, in the order MicroBatchExecution runs
    * them. Progress records give durations, not start times: the phases
    * up to walCommit are laid out from the trigger's start, the rest
    * back from its end, so the unreported part of the trigger (where the
    * source acks the previous epoch) is the trigger's own self time. */
  private val Head = Seq("latestOffset" -> "GraftJob.latest_offset",
    "walCommit" -> "GraftJob.wal_commit")
  private val Tail = Seq("getBatch" -> "GraftJob.get_batch",
    "queryPlanning" -> "GraftJob.query_planning", "addBatch" -> "GraftJob.add_batch",
    "commitOffsets" -> "GraftJob.commit_offsets")

  /** Trigger, phase, job and put spans. Jobs hang under their trigger's
    * addBatch phase; a put hangs under the job of its batch that was
    * running when it started. */
  private def buildSpans(): Unit = {
    val s = ctx.spans
    val addBatchOf = scala.collection.mutable.HashMap.empty[Long, Long]
    val built = scala.collection.mutable.ArrayBuffer.empty[Span]
    progress.sortBy(_.batchId).foreach { p =>
      val t0 = startNs(p)
      val end = t0 + (dur(p, "triggerExecution") * 1e6).toLong
      val tid = s.nextId()
      built += Span(tid, 0L, "GraftJob.trigger", s"trigger ${p.batchId}", t0, end)
      def phase(k: String, layer: String, from: Long, to: Long): Unit = if (to > from) {
        val id = s.nextId()
        built += Span(id, tid, layer, s"$k ${p.batchId}", from, to)
        if (k == "addBatch") addBatchOf(p.batchId) = id
      }
      var at = t0
      Head.foreach { case (k, layer) =>
        val d = (dur(p, k) * 1e6).toLong; phase(k, layer, at, at + d); at += d
      }
      at = end
      Tail.reverse.foreach { case (k, layer) =>
        val d = (dur(p, k) * 1e6).toLong; phase(k, layer, at - d, at); at -= d
      }
    }
    val jobs = s.spans.filter(_.layer == "spark.job").map { j =>
      val batch = j.name.split(' ').head.stripPrefix("batch:")
      val parent = scala.util.Try(batch.toLong).toOption.flatMap(addBatchOf.get).getOrElse(0L)
      (batch, j.copy(parent = parent))
    }
    putLog.all.foreach { p =>
      val job = jobs.find { case (b, j) =>
        b == p.batch.toString && j.start <= p.startNs && p.startNs <= j.end }
      val parent = job.map(_._2.id).getOrElse(addBatchOf.getOrElse(p.batch, 0L))
      built += Span(s.nextId(), parent, "streaming.put", s"put ${p.batch}/${p.pos}", p.startNs, p.endNs)
    }
    s.replace(s.spans.filterNot(_.layer == "spark.job") ++ jobs.map(_._2) ++ built)
  }

  /** Replays the median-size trigger's slice: reads it through the
    * source's reader, parses and formats it with the `Cdc` functions,
    * writes the formatted rows with the sink writer, and encodes its
    * aggregates. Each step runs `reps` times; medians are returned. */
  private def replay(reps: Int): Seq[(String, Double, String)] = {
    if (triggers.isEmpty) return Nil
    val p = triggers.sortBy(_.numInputRows).apply(triggers.size / 2)
    val (s, e) = offsets(p)
    val changesIn = changes(s, e).toDouble
    val times = ctx.spans.around(0L, "replay", s"replay of trigger ${p.batchId}") { id =>
      probe.parentFor("pb:replay", id)
      spark.sparkContext.setJobGroup("pb:replay", "pb:replay", interruptOnCancel = false)
      try (1 to reps).map(replaySlice(_, s, e)) finally spark.sparkContext.clearJobGroup()
    }
    fromReplay(p, changesIn, times)
  }

  /** One replay: the step times in ms, then rows out and rows gated. */
  private def replaySlice(k: Int, s: Long, e: Long): Seq[Double] = {
    val t0 = System.nanoTime()
    val (it, handle) = graft.sources.CdcFileSource.lineRange(wal.toString, s, e)
    val lines = try it.toArray finally handle.close()
    val t1 = System.nanoTime()
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(
      lines.toSeq.zipWithIndex.map { case (l, i) => Row(l, s + i) }, 1),
      StructType(Seq(StructField("payload", StringType), StructField("lsn", LongType))))
    val formatted = Cdc.parseWal2Json(raw, "payload", catalog, WalGen.TablePat)
      .withColumn("fmt_msg", Cdc.operationGate(col("operation"),
        Cdc.formatterFor("CSVPayload")(col("xid"), col("table_name"),
          col("operation"), col("pkey")), WalGen.Operations))
      .select(col("lsn"), col("xid"), col("fmt_msg"))
    val t2 = System.nanoTime()
    val rows = formatted.collect()
    val t3 = System.nanoTime()
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
      formatted.schema)
    val client = new TimedPutClient(new LocalFilePutClient(
      dir.resolve(s"replay-$k").toString), s"replay-${ctx.seed}-$k")
    val t4 = System.nanoTime()
    new OrderedAggregatingWriter(client).writeBatch(batch, 0L)
    val t5 = System.nanoTime()
    // the aggregates the writer packs: records in LSN order, cut at
    // the 1 MB bound
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])])
    var est = 20
    rows.filter(!_.isNullAt(2)).foreach { r =>
      val rec = (String.valueOf(r.getLong(1)), r.getString(2).getBytes("UTF-8"))
      val cost = KplAggregate.recordOverhead(rec._1, rec._2.length)
      if (groups.last.nonEmpty && est + cost > (1 << 20)) {
        groups += scala.collection.mutable.ArrayBuffer.empty; est = 20
      }
      groups.last += rec; est += cost
    }
    val t6 = System.nanoTime()
    groups.foreach(g => KplAggregate.encode(g.toSeq))
    val t7 = System.nanoTime()
    val gated = rows.count(_.isNullAt(2))
    Seq((t1 - t0) / 1e6, (t3 - t2) / 1e6, (t5 - t4) / 1e6, (t7 - t6) / 1e6,
      rows.length.toDouble, gated.toDouble)
  }

  private def fromReplay(p: StreamingQueryProgress, changesIn: Double,
      times: Seq[Seq[Double]]): Seq[(String, Double, String)] = {
    def med(i: Int): Double = Stats.median(times.map(_(i)))
    val per1k = 1000.0 / math.max(1.0, changesIn)
    Seq(
      ("sources.read_ms_per_1k", med(0) * per1k, "ms"),
      ("functions.Cdc.parse_format_ms_per_1k", med(1) * per1k, "ms"),
      ("functions.Cdc.rows_out_per_in", med(4) / math.max(1.0, changesIn), "ratio"),
      ("functions.Cdc.gated_share", med(5) / math.max(1.0, med(4)), "ratio"),
      ("streaming.write_batch_ms_per_1k", med(2) * per1k, "ms"),
      ("streaming.kpl_encode_ms_per_1k", med(3) * per1k, "ms"),
      ("replay.changes", changesIn, "count"),
      ("replay.add_batch_ms", dur(p, "addBatch"), "ms"),
      ("replay.parse_format_ms", med(1), "ms"),
      ("replay.write_batch_ms", med(2), "ms"))
  }

  def metrics: Seq[(String, Double, String)] = {
    buildSpans()
    val work = probe.work(_.startsWith("batch:"))
    val puts = putLog.all.filter(_.lane < 0)
    // the WAL head when each trigger started, for the source's lag
    val lags = triggers.map { p =>
      val t = startNs(p)
      val headAt = if (!live) txns.length.toLong
        else appendNs.indices.count(i => appendNs(i) > 0 && appendNs(i) <= t).toLong
      changes(offsets(p)._2, headAt).toDouble
    }
    val maxAck = res.txnAckNs.lastIndexWhere(_ >= 0) + 1
    val acked = res.ackNs.indices.filter(res.ackNs(_) >= 0)
    val ackMs = acked.map(k => (res.ackNs(k) - res.putEndNs(k)) / 1e6)
    Seq(
      ("sources.latest_offset_ms", p50(triggers.map(dur(_, "latestOffset"))), "ms"),
      ("sources.lag_changes", p50(lags), "count"),
      ("sources.changes_per_trigger", p50(triggers.map { p =>
        val (s, e) = offsets(p); changes(s, e).toDouble }), "count"),
      ("sources.acks", ackCount.toDouble, "count"),
      ("sources.unacked_after_idle_changes", changes(maxAck, head).toDouble, "count"),
      ("sources.put_to_ack_p50_ms", p50(ackMs), "ms"),
      ("GraftJob.triggers", triggers.size.toDouble, "count"),
      ("GraftJob.trigger_ms", p50(triggers.map(dur(_, "triggerExecution"))), "ms"),
      ("GraftJob.query_planning_ms", p50(triggers.map(dur(_, "queryPlanning"))), "ms"),
      ("GraftJob.wal_commit_ms", p50(triggers.map(dur(_, "walCommit"))), "ms"),
      ("GraftJob.commit_offsets_ms", p50(triggers.map(dur(_, "commitOffsets"))), "ms"),
      ("GraftJob.add_batch_ms", p50(triggers.map(dur(_, "addBatch"))), "ms"),
      ("GraftJob.tasks_per_stage_p50", p50(work.tasksPerStage.toSeq), "count"),
      ("GraftJob.executor_cpu_ms", work.executorCpuNs / 1e6, "ms"),
      ("streaming.put_busy_ms", puts.map(p => (p.endNs - p.startNs) / 1e6).sum, "ms"),
      ("streaming.puts", puts.size.toDouble, "count"),
      ("streaming.put_attempts", putLog.attempts.get.toDouble, "count"),
      ("streaming.throttles", putLog.throttles.get.toDouble, "count"),
      ("streaming.put_bytes", puts.map(_.bytes.toDouble).sum, "bytes"),
      ("streaming.records_per_put", res.keptMeasured.toDouble / math.max(1, puts.size), "count")
    ) ++ Layers.selfTimes(ctx.spans.spans) ++ replay(3)
  }
}
