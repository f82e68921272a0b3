package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{PutClient, ThrottlingException}

/** One returned put: which record file it wrote (batch, lane, position
  * within the batch's lane), its size and when it ran. */
case class PutRec(batch: Long, lane: Int, pos: Long, bytes: Int,
    startNs: Long, endNs: Long)

/** Everything the put clients of one run observed. */
final class PutLog {
  val puts = new ConcurrentLinkedQueue[PutRec]()
  val attempts = new java.util.concurrent.atomic.AtomicLong()
  val throttles = new java.util.concurrent.atomic.AtomicLong()
  def all: Seq[PutRec] = puts.asScala.toSeq
}

object PutLog {
  private val logs = new ConcurrentHashMap[String, PutLog]()
  def apply(id: String): PutLog = logs.computeIfAbsent(id, _ => new PutLog)
}

/** Wraps the sink's put client and records every attempt, throttle and
  * returned put into the [[PutLog]] named `logId`. The writer ships the
  * client to its tasks by serialization, so state is kept per task
  * copy and the log is found by name in the (local-mode) JVM. The
  * wrapper mirrors the wrapped client's record naming: position counts
  * returned puts since the last `beginBatch`. */
class TimedPutClient(inner: PutClient, logId: String) extends PutClient {
  private var batch = -1L
  private var lane = -1
  private var pos = 0L

  override def beginBatch(batchId: Long): Unit = {
    inner.beginBatch(batchId); batch = batchId; lane = -1; pos = 0L
  }
  override def beginBatch(batchId: Long, l: Int): Unit = {
    inner.beginBatch(batchId, l); batch = batchId; lane = l; pos = 0L
  }
  override def deliveredCount(): Long = inner.deliveredCount()

  override def put(seq: Long, data: Array[Byte]): Unit = {
    val log = PutLog(logId)
    log.attempts.incrementAndGet()
    val t0 = System.nanoTime()
    try inner.put(seq, data)
    catch {
      case e: ThrottlingException => log.throttles.incrementAndGet(); throw e
    }
    log.puts.add(PutRec(batch, lane, pos, data.length, t0, System.nanoTime()))
    pos += 1
  }
}
