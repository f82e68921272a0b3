package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Result of checking one CDC run. Arrays are indexed by the expected
  * records of the measured transactions that reached the sink. */
case class CheckResult(attempted: Long, keptMeasured: Long,
    failures: Long, reasons: Map[String, Long],
    txnOf: Array[Int], putEndNs: Array[Long], ackNs: Array[Long],
    backlogEndChanges: Long, firstMeasured: Int, measuredEnd: Int,
    txnAckNs: Array[Long], cumChanges: Array[Long])

/** Checks the sink against the generator's expected records, without
  * the engine: every record of the measured transactions must be in
  * the sink exactly once, the sink as a whole must be a gap-free prefix
  * of the expected sequence in LSN order (one lane), and no change may
  * be acked before the put that carried it returned. Every violation is
  * one failure; nothing is filtered out. */
class CdcCheck(txns: Array[Txn], sink: Path, puts: Seq[PutRec],
    acks: Seq[(Long, Long)], appendNs: Array[Long]) {

  private val FileName = """rec-(\d+)-(\d+)""".r

  def verify(firstMeasured: Int, measuredEnd: Int, head: Int,
      windowEndNs: Long = Long.MaxValue): CheckResult = {
    val reasons = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    // expected sequence over every appended transaction
    val eTxn = mutable.ArrayBuilder.make[Int]
    val index = new java.util.HashMap[(String, String), java.util.ArrayDeque[Integer]]()
    var n = 0
    for (i <- 0 until head; r <- txns(i).expected) {
      eTxn += i
      index.computeIfAbsent(r, _ => new java.util.ArrayDeque[Integer]()).add(n)
      n += 1
    }
    val txnOfE = eTxn.result()
    val putEndOfE = Array.fill(n)(-1L)

    // first return of each (batch, position) record put
    val putEnd = mutable.HashMap.empty[(Long, Long), Long]
    puts.filter(_.lane < 0).foreach { p =>
      val k = (p.batch, p.pos)
      putEnd(k) = math.min(putEnd.getOrElse(k, Long.MaxValue), p.endNs)
    }
    val files =
      if (!Files.isDirectory(sink)) Seq.empty[Path]
      else {
        val s = Files.list(sink)
        try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
      }
    var last = -1
    files.foreach { f =>
      val end = f.getFileName.toString match {
        case FileName(b, p) => putEnd.get((b.toLong, p.toLong))
        case _ => None
      }
      if (end.isEmpty) reasons("record_without_logged_put") += 1
      graft.streaming.KplAggregate.decode(Files.readAllBytes(f)).foreach { case (k, d) =>
        val q = index.get((k, new String(d, "UTF-8")))
        if (q == null || q.isEmpty) reasons("unexpected_or_duplicate") += 1
        else {
          val e = q.poll().intValue
          if (e < last) reasons("out_of_order") += 1
          last = math.max(last, e)
          putEndOfE(e) = end.getOrElse(-1L)
        }
      }
    }

    // ack time of each transaction: the first feedback LSN past its line
    val txnAck = Array.fill(txns.length)(-1L)
    var acked = 0L
    acks.sortBy(_._2).foreach { case (lsn, t) =>
      if (lsn < acked) reasons("ack_regressed") += 1
      while (acked < math.min(lsn, txns.length.toLong)) {
        txnAck(acked.toInt) = t; acked += 1
      }
    }

    val txnOf = mutable.ArrayBuilder.make[Int]
    val putEndNs = mutable.ArrayBuilder.make[Long]
    val ackNs = mutable.ArrayBuilder.make[Long]
    var e = 0
    while (e < n) {
      val i = txnOfE(e)
      val measuredTxn = i >= firstMeasured && i < measuredEnd
      if (putEndOfE(e) < 0) {
        // missing: always inside the measured window; beyond it only
        // when a later record was delivered (a gap, not an unread tail)
        if (measuredTxn || e < last) reasons("missing") += 1
      } else {
        if (txnAck(i) >= 0 && txnAck(i) < putEndOfE(e)) reasons("acked_before_put") += 1
        if (measuredTxn) {
          txnOf += i; putEndNs += putEndOfE(e); ackNs += txnAck(i)
        }
      }
      e += 1
    }

    val cum = new Array[Long](txns.length + 1)
    txns.indices.foreach(i => cum(i + 1) = cum(i) + txns(i).changes)
    // WAL head minus delivered position when the window closed
    val headAtEnd =
      if (appendNs == null) head
      else (0 until head).count(i => appendNs(i) > 0 && appendNs(i) <= windowEndNs)
    var deliveredPos = 0
    e = 0
    while (e < n) {
      if (putEndOfE(e) >= 0 && putEndOfE(e) <= windowEndNs)
        deliveredPos = math.max(deliveredPos, txnOfE(e) + 1)
      e += 1
    }
    val failures = reasons.values.sum
    CheckResult(
      attempted = cum(measuredEnd) - cum(firstMeasured),
      keptMeasured = txnOf.length, failures = failures, reasons = reasons.toMap,
      txnOf = txnOf.result(), putEndNs = putEndNs.result(), ackNs = ackNs.result(),
      backlogEndChanges = math.max(0L, cum(headAtEnd) - cum(math.min(deliveredPos, headAtEnd))),
      firstMeasured = firstMeasured, measuredEnd = measuredEnd,
      txnAckNs = txnAck, cumChanges = cum)
  }
}

/** Per-change latencies of the delivered measured changes, from each
  * transaction's `originNs`: to the return of the put that carried the
  * change, and to the first ack covering it. With `dueNs`, also how late
  * the generator appended each transaction. */
case class Latencies(deliverMs: Seq[Double], ackMs: Seq[Double],
    lateP50: Double, lateMax: Double)

object Latencies {
  def apply(r: CheckResult, originNs: Array[Long], dueNs: Array[Long],
      appendNs: Array[Long]): Latencies = {
    val deliver = r.txnOf.indices.map(k => (r.putEndNs(k) - originNs(r.txnOf(k))) / 1e6)
    val ack = r.txnOf.indices.filter(k => r.ackNs(k) >= 0)
      .map(k => (r.ackNs(k) - originNs(r.txnOf(k))) / 1e6)
    val late =
      if (dueNs == null) Seq(0.0)
      else (r.firstMeasured until r.measuredEnd).map(i => (appendNs(i) - dueNs(i)) / 1e6)
    Latencies(deliver, ack, Stats.median(late), late.max)
  }
}

object Heap {
  /** Driver heap in use after full collections, in MB. Spark frees
    * broadcast and shuffle blocks from its ContextCleaner thread after a
    * collection finds them unreachable, so this collects, lets the
    * cleaner run, and repeats until the figure settles. */
  def retainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(250); mem.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 8 && math.abs(prev - cur) > 0.5) {
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }
}
