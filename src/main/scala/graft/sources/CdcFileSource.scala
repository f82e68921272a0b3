package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util
import java.util.Optional
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** "cdc-file": a DataSourceV2 MicroBatchStream with the exact contract
  * of the reference's replication-slot source (S1/K2/K3, SURVEY.md
  * §2.1), backed by a tailed text file instead of a walsender socket:
  *
  *  - one payload line per WAL message; the line number IS the LSN
  *    (a totally ordered, ever-growing position — same algebra as a
  *    Postgres LSN),
  *  - offsets are LSN ranges; Structured Streaming's checkpoint plays
  *    the role of the client-side restart position,
  *  - `commit(end)` — invoked by the engine only after the epoch is
  *    durably committed — appends the LSN to a `.feedback` file: the
  *    analog of `send_feedback(flush_lsn=...)` (reference
  *    __main__.py:101-104). Crash before commit ⇒ replay ⇒ the same
  *    at-least-once contract (reference README.rst:15-18),
  *  - `maxRecordsPerTrigger` caps each micro-batch (K3 backpressure:
  *    unread lines simply stay in the file, as unread WAL stays in
  *    the slot).
  *
  * The tail is O(appended bytes) per trigger: [[WalTail]] scans only
  * the bytes written since its last scan and keeps a sparse line→byte
  * index, so a batch's reader seeks near its first line instead of
  * re-reading the WAL prefix. Lines are numbered exactly as
  * `Files.lines` numbers them ([[LineCursor]]).
  *
  * A production Postgres source swaps the file tail for a replication
  * connection and keeps every interface here; nothing downstream
  * changes.
  */
class CdcFileSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFileSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcFileTable(properties.get("path"),
      Option(properties.get("maxRecordsPerTrigger")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      Option(properties.get("peek")).exists(_.toBoolean))
  override def supportsExternalMetadata(): Boolean = true
}

object CdcFileSource {
  /** payload + lsn + data_size, mirroring psycopg2's ReplicationMessage
    * envelope (payload, data_start, data_size). */
  val Schema: StructType = StructType(Seq(
    StructField("payload", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("data_size", LongType, nullable = false)))

  /** Bytes per read from the WAL file, for the tail and the reader. */
  private[graft] val BufferBytes = 64 * 1024
  /** The tail indexes every line whose number is a multiple of this, so
    * a reader skips fewer than this many lines to reach its start. */
  private[graft] val IndexStride = 256

  /** Lines [start, end) of the WAL at `path`, numbered as by
    * `Files.lines`, through the reader the source's partitions use.
    * With no tail index at hand it starts at the file's first byte and
    * skips `start` lines without decoding them. */
  def lineRange(path: String, start: Long, end: Long)
      : (Iterator[String], AutoCloseable) = {
    val r = new WalReader(path, 0L, 0L, start, end)
    (Iterator.continually(r.next()).takeWhile(identity).map(_ => r.text), r)
  }
}

/** Files.lines' line rule over the raw bytes of a WAL file, read in
  * chunks: '\n', '\r' and "\r\n" each end a line, and a last line with
  * no terminator counts once it holds a byte. The rule looks only at
  * those two ASCII bytes, which UTF-8 never uses inside a multi-byte
  * character, so a chunk may end anywhere; a '\r' that ends one chunk
  * still swallows a '\n' that starts the next, and the line state
  * survives `attach`, so the same holds across scans of a growing
  * file. [[WalTail]] and [[WalReader]] both scan with this class, so
  * they cannot number lines differently. */
private[graft] class LineCursor {
  /** Lines ended so far: the number of the line being read. */
  var line = 0L
  /** File offset of the current line's first byte; -1 until it is read. */
  var start = -1L
  private var afterCr = false
  private val buf = new Array[Byte](CdcFileSource.BufferBytes)
  private val bb = ByteBuffer.wrap(buf)
  private var bufAt = 0L // file offset of buf(0)
  private var i = 0
  private var lim = 0
  private var ch: FileChannel = _
  private var kept = new Array[Byte](256)
  private var keptLen = 0

  /** File offset of the next byte to read. */
  def pos: Long = bufAt + i

  /** Lines in the bytes read so far, as `Files.lines` would count them
    * now: the current line counts once it holds a byte. */
  def lines: Long = if (start >= 0) line + 1 else line

  /** The bytes kept by the last `endLine(keep = true)`. */
  def bytes: Array[Byte] = util.Arrays.copyOf(kept, keptLen)
  def text: String = new String(kept, 0, keptLen, StandardCharsets.UTF_8)

  /** Called once per line, when its first byte is read. */
  protected def begun(line: Long, at: Long): Unit = ()

  /** Reads on from offset `at` of `ch`, which must be where the bytes
    * this cursor has seen end. */
  def attach(ch: FileChannel, at: Long): Unit = {
    this.ch = ch; bufAt = at; i = 0; lim = 0
  }

  /** Forgets every byte seen: the next read starts line 0 at offset 0. */
  protected def rewind(): Unit = {
    line = 0L; start = -1L; afterCr = false; bufAt = 0L; i = 0; lim = 0
  }

  /** Reads to the end of the current line. True: a terminator ended it
    * and `line` has moved past it. False: the file ended first, and the
    * line stays open for bytes appended later. With `keep`, the line's
    * bytes so far are in `bytes` either way. */
  def endLine(keep: Boolean): Boolean = {
    while (i < lim || fill()) {
      if (afterCr && buf(i) == '\n') { afterCr = false; i += 1 }
      else {
        afterCr = false
        if (start < 0) { start = bufAt + i; keptLen = 0; begun(line, start) }
        var j = i
        while (j < lim && buf(j) != '\n' && buf(j) != '\r') j += 1
        if (keep) append(i, j)
        if (j < lim) {
          afterCr = buf(j) == '\r'
          i = j + 1; line += 1; start = -1L
          return true
        }
        i = j
      }
    }
    false
  }

  private def append(from: Int, until: Int): Unit = {
    val n = until - from
    if (keptLen + n > kept.length)
      kept = util.Arrays.copyOf(kept, math.max(kept.length * 2, keptLen + n))
    System.arraycopy(buf, from, kept, keptLen, n)
    keptLen += n
  }

  private def fill(): Boolean = {
    bufAt += lim; i = 0; lim = 0
    bb.clear()
    val n = ch.read(bb, bufAt)
    if (n > 0) lim = n
    n > 0
  }
}

/** The source's incremental tail of a WAL file that only grows: its
  * line count, the bytes scanned, the state of the line after the last
  * terminator, and a line→byte index with one entry every
  * [[CdcFileSource.IndexStride]] lines. `advance` reads only the bytes
  * appended since the last call. If the file is now shorter than the
  * bytes scanned, or the last bytes scanned changed (the file was
  * rewritten in place), it rescans from byte 0, so the source's
  * regression guard sees the rewritten file's line count. */
private[graft] final class WalTail(path: String) extends LineCursor {
  private val index = new util.TreeMap[java.lang.Long, java.lang.Long]()
  // the last bytes scanned, re-read on each advance to detect a rewrite
  private var mark = Array.emptyByteArray
  /** Bytes read by the last `advance`. */
  var lastScanBytes = 0L

  override protected def begun(line: Long, at: Long): Unit =
    if (line % CdcFileSource.IndexStride == 0) index.put(line, at)

  override protected def rewind(): Unit = {
    super.rewind(); index.clear(); mark = Array.emptyByteArray
  }

  def advance(): Unit = {
    val p = Paths.get(path)
    if (!Files.exists(p)) { rewind(); lastScanBytes = 0L; return }
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try {
      if (ch.size() < pos ||
          !util.Arrays.equals(readAt(ch, pos - mark.length, mark.length), mark))
        rewind()
      val from = pos
      attach(ch, from)
      while (endLine(keep = false)) ()
      lastScanBytes = pos - from
      val n = math.min(64L, pos).toInt
      mark = readAt(ch, pos - n, n)
    } finally ch.close()
  }

  private def readAt(ch: FileChannel, at: Long, n: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(n)
    while (b.hasRemaining && ch.read(b, at + b.position()) > 0) ()
    b.array()
  }

  /** The indexed line at or before `line` and its byte offset; line 0
    * at byte 0 when none is. */
  def seekPoint(line: Long): (Long, Long) =
    Option(index.floorEntry(line)).fold((0L, 0L))(e => (e.getKey, e.getValue))

  /** Drops the entries below the last one at or before `line`: no
    * later batch of this stream starts before `line`. */
  def prune(line: Long): Unit =
    Option(index.floorKey(line)).foreach(k => index.headMap(k).clear())
}

/** Reads lines [start, end) of the WAL at `path` from byte `fromByte`,
  * the first byte of line `fromLine` ≤ start: it skips the lines before
  * `start` without decoding them, and yields at most `end - start`
  * lines, the last of which may be unterminated. */
private[graft] final class WalReader(path: String, fromLine: Long,
    fromByte: Long, start: Long, end: Long) extends AutoCloseable {
  private val cur = new LineCursor
  private val ch =
    if (end <= start || !Files.exists(Paths.get(path))) null
    else FileChannel.open(Paths.get(path), StandardOpenOption.READ)
  private var done = ch == null
  /** LSN of the current line. */
  var lsn = -1L
  if (ch != null) { cur.line = fromLine; cur.attach(ch, fromByte) }

  /** Moves to the next line of the range; false past its last line. */
  def next(): Boolean = {
    while (!done && cur.line < end) {
      val n = cur.line
      if (!cur.endLine(keep = n >= start)) {
        done = true // end of file: an open line with a byte is the last
        if (cur.start >= 0 && n >= start) { lsn = n; return true }
      } else if (n >= start) { lsn = n; return true }
    }
    false
  }

  def bytes: Array[Byte] = cur.bytes
  def text: String = cur.text

  override def close(): Unit = if (ch != null) ch.close()
}

class CdcFileTable(path: String, maxPerTrigger: Long,
    peek: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"cdc-file($path)"
  override def schema(): StructType = CdcFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = CdcFileSource.Schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new CdcFileMicroBatchStream(path, maxPerTrigger, peek)
    }
}

case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = s"""{"lsn":$lsn}"""
}

class CdcFileMicroBatchStream(path: String, maxPerTrigger: Long,
    peek: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with ReportsSourceMetrics {
  // The last offset this stream instance has *planned*: a batch ending
  // beyond it is a restart's re-plan (planInputPartitions), and it is
  // the admitted LSN the progress metrics report.
  private var lastPlanned: Long = -1L
  // Highest offset restored from the checkpoint log (deserializeOffset
  // runs during recovery): the engine has durably planned/committed up
  // to here, so the WAL head may NEVER be below it — see guardRegression.
  private var restoredFloor: Long = 0L
  private val tail = new WalTail(path)

  /** Fail-fast on WAL regression (slot recreated / WAL file replaced
    * under a live checkpoint). Without this the source would sit on
    * empty batches until the NEW WAL grows past the old offset and
    * then silently skip its first `floor` records — data loss wearing
    * a clean progress log. The reference has the same failure mode
    * (a recreated slot restarts at a fresh restart_lsn and its
    * checkpointless client just follows); with a durable checkpoint
    * the only safe move is to halt and make the operator choose:
    * fresh checkpoint, or stop recreating slots under running jobs. */
  private def guardRegression(head: Long, floor: Long): Unit =
    if (head < floor) throw new IllegalStateException(
      s"WAL position regressed: head=$head < checkpointed/planned=" +
        s"$floor for $path — the slot/WAL was dropped or recreated " +
        "while this checkpoint exists. Restart with a FRESH checkpoint " +
        "to consume the recreated slot from its new origin.")

  override def initialOffset(): Offset = LsnOffset(0L)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "the engine passes the batch start: latestOffset(start, limit)")

  /** Admits at most maxRecordsPerTrigger lines past `start`, the end of
    * the last batch. On a restart `start` is the checkpoint's position:
    * this stream instance has planned nothing yet, and counting from 0
    * would re-admit lines the checkpoint has already committed. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    tail.advance()
    val total = tail.lines
    val base = start.asInstanceOf[LsnOffset].lsn
    guardRegression(total, math.max(base, restoredFloor))
    // saturating add: base + Long.MaxValue must not wrap negative, or
    // the offset oscillates and the engine schedules empty batches
    // forever (processAllAvailable never converges)
    val admitted =
      if (maxPerTrigger > total - base) total else base + maxPerTrigger
    lastPlanned = math.max(base, admitted)
    LsnOffset(lastPlanned)
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LsnOffset].lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    // Restart-replan of a planned-but-uncommitted batch (e beyond
    // anything THIS stream instance planned): its tail has not scanned
    // the file yet, and the WAL must still hold every line of the
    // batch. In steady state latestOffset has just scanned and guarded.
    if (e > lastPlanned) {
      tail.advance()
      guardRegression(tail.lines, e)
      lastPlanned = e // keep the admission tracker consistent
    }
    val (line, byte) = tail.seekPoint(s)
    Array(CdcFilePartition(path, s, e, line, byte))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcFileReaderFactory

  /** The 2-phase-commit ack: only after the engine has durably
    * committed the epoch does the slot learn it may discard WAL.
    * Note the engine invokes this while constructing the NEXT batch,
    * so feedback trails the sink by one epoch — a conservative lag
    * that can only cause replay, never loss (at-least-once preserved,
    * same contract as the reference's post-put send_feedback). */
  override def commit(end: Offset): Unit = {
    val lsn = end.asInstanceOf[LsnOffset].lsn
    tail.prune(lsn)
    // peek mode (pg_logical_slot_peek_changes parity): consume without
    // acking — the slot's restart pointer never advances, so a later
    // real run replays everything from the same position
    if (peek) { PgReplicationSource.logPeeked(lsn); return }
    Files.write(Paths.get(path + ".feedback"),
      s"$lsn\n".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // reference __main__.py:103-104: every feedback ack logs its LSN
    PgReplicationSource.logFlushed(lsn)
  }

  override def deserializeOffset(json: String): Offset = {
    val lsn = json.replaceAll("[^0-9]", "").toLong
    // recovery path: remember the checkpoint's horizon for the
    // regression guard
    if (lsn > restoredFloor) restoredFloor = lsn
    LsnOffset(lsn)
  }

  /** How far behind the WAL the stream is, for
    * `StreamingQueryProgress.sources(i).metrics`: the head as of the
    * last scan, the admitted end, their difference, and the bytes that
    * scan read. */
  override def metrics(latestConsumedOffset: Optional[Offset])
      : util.Map[String, String] = {
    val admitted = math.max(lastPlanned, 0L)
    Map("walHeadLsn" -> tail.lines, "admittedLsn" -> admitted,
      "backlogLines" -> math.max(tail.lines - admitted, 0L),
      "lastScanBytes" -> tail.lastScanBytes)
      .map { case (k, v) => k -> v.toString }.asJava
  }

  override def stop(): Unit = ()
}

/** Lines [start, end); `fromByte` is where line `fromLine` ≤ start
  * begins, the reader's seek point. */
case class CdcFilePartition(path: String, start: Long, end: Long,
    fromLine: Long, fromByte: Long) extends InputPartition

class CdcFileReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcFilePartition]
    val r = new WalReader(p.path, p.fromLine, p.fromByte, p.start, p.end)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = {
        val b = r.bytes
        new GenericInternalRow(Array[Any](
          UTF8String.fromBytes(b), r.lsn, b.length.toLong))
      }
      override def close(): Unit = r.close()
    }
  }
}
