package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.{PgReplicationSource, ReplicationStream, WalRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** THE source contract, proven identically for every CDC transport:
  * LSN-range offsets (k-th message has lsn k, head = message count),
  * at-least-once with exactly-once across a checkpoint resume,
  * maxRecordsPerTrigger admission, and commit(end) → transport ack
  * (feedback may trail by one epoch — engine behavior). The file
  * source and the walsender-backed pg source run the SAME suite, so a
  * job composed on one transport behaves identically on the other.
  */
trait CdcSourceFixture {
  def name: String
  /** Extend the WAL with payload messages (lsn = arrival index). */
  def append(payloads: Seq[String]): Unit
  /** Fresh readStream DataFrame over this transport. */
  def stream(maxPerTrigger: Long = Long.MaxValue): DataFrame
  /** LSNs the transport has been told are flushed (K2 acks). */
  def acked: Seq[Long]
  /** DROP-AND-RECREATE the slot under the consumer: the WAL restarts
    * from position 0 holding only `payloads` (the new slot's fresh
    * restart_lsn world). The regression-contract test uses this. */
  def reset(payloads: Seq[String]): Unit
}

abstract class CdcSourceContractSpec extends SparkSpec {
  def mkFixture(): CdcSourceFixture

  protected def tmpDir(): String =
    Files.createTempDirectory("graft-contract").toString

  /** Run to quiescence through foreachBatch, collecting (lsn, payload,
    * data_size) into `sink`; returns query progress row counts. */
  protected def drain(df: DataFrame, ckpt: String,
      sink: scala.collection.mutable.Buffer[(Long, String, Long)])
      : Seq[Long] = {
    val counts = scala.collection.mutable.Buffer.empty[Long]
    val q = df.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val rows = batch.collect()
          sink.synchronized {
            sink ++= rows.map(r => (r.getLong(1), r.getString(0), r.getLong(2)))
          }
          ()
      }
      .start()
    q.processAllAvailable()
    q.recentProgress.foreach(p => if (p.numInputRows > 0)
      counts += p.numInputRows)
    q.stop()
    counts.toSeq
  }

  test("contract: messages arrive exactly once, in LSN order, sized") {
    val f = mkFixture()
    val msgs = (0 until 25).map(i => s"""{"m": $i}""")
    f.append(msgs)
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(f.stream(), tmpDir() + "/ckpt", sink)
    val got = sink.sortBy(_._1)
    assert(got.map(_._1) == (0L until 25L))
    assert(got.map(_._2) == msgs)
    assert(got.forall { case (_, p, sz) =>
      sz == p.getBytes(StandardCharsets.UTF_8).length.toLong })
  }

  test("contract: maxRecordsPerTrigger bounds every micro-batch") {
    val f = mkFixture()
    f.append((0 until 20).map(i => s"m$i"))
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val counts = drain(f.stream(maxPerTrigger = 7), tmpDir() + "/ckpt", sink)
    assert(sink.size == 20)
    assert(counts.forall(_ <= 7), s"a batch exceeded the cap: $counts")
    assert(counts.size >= 3, s"expected >= ceil(20/7) batches: $counts")
  }

  test("contract: checkpoint resume processes appended messages exactly once") {
    val f = mkFixture()
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    f.append((0 until 10).map(i => s"a$i"))
    drain(f.stream(), ckpt, sink)
    assert(sink.size == 10)
    f.append((0 until 10).map(i => s"b$i"))
    drain(f.stream(), ckpt, sink)
    val got = sink.sortBy(_._1)
    assert(got.size == 20, "resume must neither replay nor drop")
    assert(got.map(_._1) == (0L until 20L))
    assert(got.map(_._2) ==
      (0 until 10).map(i => s"a$i") ++ (0 until 10).map(i => s"b$i"))
  }

  test("contract: commits ack flushed LSNs to the transport, monotonically") {
    val f = mkFixture()
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    f.append((0 until 6).map(i => s"x$i"))
    drain(f.stream(), ckpt, sink)
    // feedback trails by one epoch: run a second round so the first
    // round's epochs are certainly acked
    f.append((0 until 6).map(i => s"y$i"))
    drain(f.stream(), ckpt, sink)
    val acks = f.acked
    assert(acks.nonEmpty, "no feedback reached the transport")
    assert(acks == acks.sorted, s"feedback regressed: $acks")
    assert(acks.last >= 6L, s"first round never acked: $acks")
    assert(acks.last <= 12L, s"acked beyond delivered WAL: $acks")
  }

  test("contract: slot recreation under a live checkpoint fails fast, never replays from 0") {
    // The reference's --recreate-slot drops retained WAL and restarts
    // the slot at a fresh restart_lsn (slot.py:96-120). Its
    // checkpointless client just follows; THIS engine holds a durable
    // offset, and silently following would wait for the new WAL to
    // pass the old offset and then skip the recreated slot's first
    // records — data loss with a clean progress log. Contract: the
    // resumed query must HALT with the regression error; the operator
    // chooses a fresh checkpoint deliberately.
    val f = mkFixture()
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    f.append((0 until 10).map(i => s"old$i"))
    drain(f.stream(), ckpt, sink)
    assert(sink.size == 10)
    // drop + recreate: the new WAL holds 3 messages at positions 0..2
    f.reset((0 until 3).map(i => s"new$i"))
    val e = intercept[Exception] {
      drain(f.stream(), ckpt, sink)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("regressed")),
      s"expected the WAL-regression fail-fast, got: $e")
    assert(sink.size == 10,
      "no record of the recreated slot may be silently consumed or skipped")
    // a FRESH checkpoint consumes the recreated slot from its origin
    val sink2 = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(f.stream(), tmpDir() + "/ckpt2", sink2)
    assert(sink2.sortBy(_._1).map(_._2) == (0 until 3).map(i => s"new$i"),
      "fresh checkpoint must see the new slot's WAL from position 0")
  }
}

/** File-backed transport (the tailed-file walsender stand-in). */
class CdcFileSourceContractSpec extends CdcSourceContractSpec {
  override def mkFixture(): CdcSourceFixture = new CdcSourceFixture {
    private val dir = Files.createTempDirectory("graft-file-src")
    private val path = dir.resolve("wal.jsonl")
    override def name: String = "cdc-file"
    override def append(payloads: Seq[String]): Unit =
      Files.write(path, payloads.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    override def stream(maxPerTrigger: Long): DataFrame =
      spark.readStream
        .format(classOf[graft.sources.CdcFileSourceProvider].getName)
        .option("path", path.toString)
        .option("maxRecordsPerTrigger", maxPerTrigger.toString)
        .load()
    override def acked: Seq[Long] = {
      val fb = Paths.get(path.toString + ".feedback")
      if (!Files.exists(fb)) Seq.empty
      else new String(Files.readAllBytes(fb), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).map(_.toLong).toSeq
    }
    override def reset(payloads: Seq[String]): Unit =
      Files.write(path, payloads.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  // The file tail scans only appended bytes and seeks each batch's
  // reader through a sparse line→byte index; these pin its numbering to
  // Files.lines and its regression guard to the contract above.

  import graft.sources.{CdcFileMicroBatchStream, CdcFilePartition, CdcFileSource, LsnOffset, WalTail}
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  import scala.jdk.CollectionConverters._

  private val B = CdcFileSource.BufferBytes
  private val Stride = CdcFileSource.IndexStride

  private def newWal(): java.nio.file.Path =
    Files.createTempDirectory("graft-file-tail").resolve("wal.jsonl")
  private def write(wal: java.nio.file.Path, s: String): Unit =
    Files.write(wal, s.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  private def filesLines(wal: java.nio.file.Path): Seq[String] = {
    val s = Files.lines(wal, StandardCharsets.UTF_8)
    try s.iterator().asScala.toVector finally s.close()
  }
  private def fileStream(wal: java.nio.file.Path, maxPerTrigger: Long) =
    spark.readStream
      .format(classOf[graft.sources.CdcFileSourceProvider].getName)
      .option("path", wal.toString)
      .option("maxRecordsPerTrigger", maxPerTrigger.toString)
      .load()
  private def assertIsFilesLines(
      got: Seq[(Long, String, Long)], want: Seq[String], from: Long): Unit = {
    val sorted = got.sortBy(_._1)
    val lsns = sorted.map(_._1)
    assert(lsns == (from until from + want.size),
      s"every line exactly once, in LSN order: ${lsns.size} rows for ${want.size} lines, " +
        s"${lsns.distinct.size} distinct, first mismatch at " +
        lsns.indices.find(i => lsns(i) != from + i))
    sorted.map(_._2).zip(want).zipWithIndex.find { case ((g, w), _) => g != w }
      .foreach { case ((g, w), i) => fail(s"payload of LSN ${from + i}: [$g] != [$w]") }
    assert(sorted.forall { case (_, p, sz) =>
      sz == p.getBytes(StandardCharsets.UTF_8).length.toLong })
  }

  /** Pads with ASCII so the next write starts at byte offset `at`,
    * ending each padding line with "\n". */
  private def padTo(wal: java.nio.file.Path, at: Long): Unit = {
    val gap = at - Files.size(wal)
    assert(gap >= 2)
    write(wal, "p" * (gap - 1).toInt + "\n")
  }

  test("file tail: LSNs and payloads equal Files.lines across CRLF, bare CR, split UTF-8 and an open last line") {
    val wal = newWal()
    // short lines with every terminator, empty lines and unicode, past
    // several index strides
    write(wal, (0 until 3 * Stride).map { i =>
      val body = if (i % 17 == 0) "" else s"""{"m":$i,"s":"é€𝄞"}"""
      body + Seq("\n", "\r\n", "\r")(i % 3)
    }.mkString)
    // a 2-byte and a 4-byte character straddling buffer boundaries
    padTo(wal, B - 3); write(wal, "ab" + "é" + "x\n")
    padTo(wal, 2L * B - 2); write(wal, "q" + "𝄞" + "y\r\n")
    // "\r\n" split by a buffer boundary, then a bare '\r' ending a buffer
    padTo(wal, 3L * B - 3); write(wal, "cr\r\nz\n")
    padTo(wal, 4L * B - 3); write(wal, "cr\rz\n")
    write(wal, (0 until Stride).map(i => s"tail$i\n").mkString + "open-end")
    val first = filesLines(wal)
    assert(first.last == "open-end")
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(fileStream(wal, maxPerTrigger = 100), ckpt, sink)
    assertIsFilesLines(sink.toSeq, first, 0L)

    // each drain resumes the checkpoint under the cap. The open line is
    // completed (its number is kept, its first part was already
    // delivered), then a '\r' ends the file and the '\n' that completes
    // its "\r\n" arrives with the next append
    write(wal, "-completed\nnext\r")
    val second = filesLines(wal)
    sink.clear()
    drain(fileStream(wal, maxPerTrigger = 100), ckpt, sink)
    assertIsFilesLines(sink.toSeq, second.drop(first.size), first.size.toLong)
    write(wal, "\nlast\n")
    val third = filesLines(wal)
    assert(third.size == second.size + 1, "the '\\n' belongs to the '\\r' before it")
    sink.clear()
    drain(fileStream(wal, maxPerTrigger = 100), ckpt, sink)
    assertIsFilesLines(sink.toSeq, third.drop(second.size), second.size.toLong)

    // the benchmark's entry point reads through the same reader
    for ((s, e) <- Seq((0L, 10L), (Stride + 5L, 2L * Stride + 1), (first.size - 3L, third.size + 5L))) {
      val (it, h) = CdcFileSource.lineRange(wal.toString, s, e)
      try assert(it.toVector == third.slice(s.toInt, e.toInt)) finally h.close()
    }
  }

  test("file tail: line count equals Files.lines under appends split at any byte") {
    val rnd = new scala.util.Random(7)
    val pieces = Seq("\n", "\r", "\r\n", "a", "bc", "é", "€", "𝄞", "{\"k\":1}")
    val wal = newWal()
    val tail = new WalTail(wal.toString)
    for (_ <- 0 until 200) {
      val bytes = Seq.fill(1 + rnd.nextInt(12))(pieces(rnd.nextInt(pieces.size)))
        .mkString.getBytes(StandardCharsets.UTF_8)
      // cut anywhere, even inside a character or between '\r' and '\n'
      val cut = rnd.nextInt(bytes.length + 1)
      for (part <- Seq(bytes.take(cut), bytes.drop(cut))) {
        Files.write(wal, part, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        tail.advance()
        assert(tail.lastScanBytes == part.length)
        // Files.lines rejects a file that ends inside a character
        if (!new String(Files.readAllBytes(wal), StandardCharsets.UTF_8).contains('\uFFFD'))
          assert(tail.lines == filesLines(wal).size)
      }
    }
    val (it, h) = CdcFileSource.lineRange(wal.toString, 0L, Long.MaxValue)
    try assert(it.toVector == filesLines(wal)) finally h.close()
  }

  test("file tail: appends between triggers arrive exactly once, in LSN order") {
    val wal = newWal()
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val q = fileStream(wal, maxPerTrigger = 150).writeStream
      .option("checkpointLocation", tmpDir() + "/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
        sink.synchronized {
          sink ++= rows.map(r => (r.getLong(1), r.getString(0), r.getLong(2)))
        }
        ()
      }
      .start()
    try {
      var n = 0
      for (round <- 0 until 8) {
        val k = 40 + round * 37
        write(wal, (n until n + k).map(i => s"""{"r":$round,"i":$i}""" +
          (if (i % 5 == 0) "\r\n" else "\n")).mkString)
        n += k
        q.processAllAvailable()
      }
    } finally q.stop()
    assertIsFilesLines(sink.toSeq, filesLines(wal), 0L)
  }

  test("file tail: a WAL truncated and regrown past its old size under a live checkpoint fails fast") {
    val wal = newWal()
    write(wal, (0 until 10).map(i => s"old$i\n").mkString)
    val ckpt = tmpDir() + "/ckpt"
    val sink = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    drain(fileStream(wal, Long.MaxValue), ckpt, sink)
    assert(sink.size == 10)
    val oldSize = Files.size(wal)
    val regrown = (0 until 3).map(i => s"new$i-" + "n" * 100)
    Files.write(wal, regrown.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.TRUNCATE_EXISTING)
    assert(Files.size(wal) > oldSize)
    val e = intercept[Exception](drain(fileStream(wal, Long.MaxValue), ckpt, sink))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("regressed"))),
      s"got: $e")
    assert(sink.size == 10)

    // a running tail sees the rewrite too: it rescans from byte 0
    val tail = new WalTail(wal.toString)
    tail.advance()
    assert(tail.lines == 3)
    Files.write(wal, (0 until 2).map(i => s"again$i-" + "a" * 200)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.TRUNCATE_EXISTING)
    tail.advance()
    assert(tail.lines == 2 && tail.lastScanBytes == Files.size(wal))
  }

  test("file tail: a fresh stream re-plans a planned-but-uncommitted batch from an empty index") {
    val wal = newWal()
    write(wal, (0 until 1000).map(i => s"""{"i":$i}""" + (if (i % 3 == 0) "\r\n" else "\n")).mkString)
    val want = filesLines(wal)
    // the crash path: the offset log holds batch [300, 900), the new
    // stream instance has planned nothing
    val stream = new CdcFileMicroBatchStream(wal.toString, Long.MaxValue)
    stream.deserializeOffset("""{"lsn":900}""")
    val Array(part: CdcFilePartition) =
      stream.planInputPartitions(LsnOffset(300L), LsnOffset(900L))
    assert(part.fromLine == Stride && part.fromByte > 0, "the reader seeks")
    val reader = stream.createReaderFactory().createReader(part)
    val got = scala.collection.mutable.Buffer.empty[(Long, String)]
    try while (reader.next()) {
      val r = reader.get(); got += ((r.getLong(1), r.getUTF8String(0).toString))
    } finally reader.close()
    assert(got.toSeq == (300 until 900).map(i => (i.toLong, want(i))))
    // the index keeps only what a later batch can start from
    stream.commit(LsnOffset(900L))
    assert(stream.latestOffset(LsnOffset(900L), ReadLimit.allAvailable()) == LsnOffset(1000L))
    val Array(next: CdcFilePartition) =
      stream.planInputPartitions(LsnOffset(900L), LsnOffset(1000L))
    assert(next.fromLine == 3 * Stride)
    // entries below it are gone: an older start would read from byte 0
    val Array(old: CdcFilePartition) =
      stream.planInputPartitions(LsnOffset(300L), LsnOffset(900L))
    assert(old.fromLine == 0L && old.fromByte == 0L)
    val fresh = new CdcFileMicroBatchStream(wal.toString, Long.MaxValue)
    val e = intercept[IllegalStateException](
      fresh.planInputPartitions(LsnOffset(900L), LsnOffset(1001L)))
    assert(e.getMessage.contains("regressed"))
  }

  test("file source reports its tail position in StreamingQueryProgress") {
    val wal = newWal()
    write(wal, (0 until 20).map(i => s"m$i\n").mkString)
    val q = fileStream(wal, maxPerTrigger = 7).writeStream
      .option("checkpointLocation", tmpDir() + "/ckpt")
      .format("noop")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      q.processAllAvailable()
      val ms = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.sources(0).metrics.asScala.toMap)
      def col(k: String): Seq[Long] = ms.map(_(k).toLong).toSeq
      assert(col("admittedLsn") == Seq(7L, 14L, 20L))
      assert(col("walHeadLsn") == Seq(20L, 20L, 20L))
      assert(col("backlogLines") == Seq(13L, 6L, 0L))
      assert(col("lastScanBytes") == Seq(Files.size(wal), 0L, 0L))
      val last = q.lastProgress.sources(0).metrics.asScala
      assert(last("walHeadLsn") == "20" && last("backlogLines") == "0")
    } finally q.stop()
  }
}

/** Walsender-backed transport over a faked replication connection:
  * proves PgReplicationSource honors the identical contract without a
  * Postgres (the ReplicationStream seam is what a pgjdbc
  * PGReplicationStream adapter implements in production). */
class PgReplicationSourceContractSpec extends CdcSourceContractSpec {
  override def mkFixture(): CdcSourceFixture = new CdcSourceFixture {
    private val wal =
      new java.util.concurrent.CopyOnWriteArrayList[WalRecord]()
    private val flushes =
      new java.util.concurrent.CopyOnWriteArrayList[java.lang.Long]()
    private val connName =
      s"fake-${java.util.UUID.randomUUID().toString.take(8)}"
    PgReplicationSource.registerConnection(connName, () =>
      new ReplicationStream {
        override def headLsn(): Long = wal.size().toLong
        override def read(start: Long, end: Long): Iterator[WalRecord] = {
          import scala.jdk.CollectionConverters._
          // slot replay semantics: skip below start, stop at end
          wal.iterator().asScala.filter(r => r.lsn >= start && r.lsn < end)
        }
        override def flushed(lsn: Long): Unit = flushes.add(lsn)
      })
    override def name: String = "cdc-pg"
    override def append(payloads: Seq[String]): Unit =
      payloads.foreach(p => wal.add(WalRecord(wal.size().toLong, p)))
    override def stream(maxPerTrigger: Long): DataFrame =
      spark.readStream
        .format(classOf[graft.sources.PgReplicationSourceProvider].getName)
        .option("connection", connName)
        .option("maxRecordsPerTrigger", maxPerTrigger.toString)
        .load()
    override def acked: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      flushes.iterator().asScala.map(_.toLong).toSeq
    }
    override def reset(payloads: Seq[String]): Unit = {
      wal.clear()
      append(payloads)
    }
  }
}
