package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.streaming.{KplAggregate, LocalFilePutClient, OrderedAggregatingWriter}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PutClientSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("perfbench-spec")

  override def beforeAll(): Unit = {
    spark = Session.start(2, tmp)
  }
  override def afterAll(): Unit = {
    Session.stop(spark)
    CdcWorkload.deleteTree(tmp)
  }

  private def batch(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, if (i % 5 == 0) null else s"msg-$i-" + "x" * 40, (i / 3).toLong))
      .toDF("lsn", "fmt_msg", "xid")
  }

  private def files(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  test("the wrapper counts exactly the throttles LocalFilePutClient injects") {
    val k = 3
    val dir = tmp.resolve("throttle")
    val client = new TimedPutClient(new LocalFilePutClient(dir.toString, failFirstAttemptEvery = k), "spec-throttle")
    new OrderedAggregatingWriter(client, maxAggBytes = 300, backoffBaseMs = 1).writeBatch(batch(200), 7L)
    val log = PutLog("spec-throttle")
    val puts = files(dir).size
    assert(puts > 10 && log.all.size == puts)
    // sequence numbers run 0 until puts; every k-th fails its first attempt once
    val injected = (0 until puts).count(_ % k == 0)
    assert(log.throttles.get == injected)
    assert(log.attempts.get == puts + injected)
  }

  test("records per lane sum to the records sunk") {
    val dir = tmp.resolve("lanes")
    val client = new TimedPutClient(new LocalFilePutClient(dir.toString), "spec-lanes")
    new OrderedAggregatingWriter(client, maxAggBytes = 500, lanes = 3).writeBatch(batch(300), 1L)
    val Lane = """rec-\d+-L(\d+)-\d+""".r
    val perLane = files(dir).groupBy(f => f.getFileName.toString match { case Lane(l) => l.toInt })
      .map { case (l, fs) => l -> fs.map(f => KplAggregate.decode(Files.readAllBytes(f)).size).sum }
    val sunk = batch(300).filter("fmt_msg is not null").count()
    assert(perLane.size == 3)
    assert(perLane.values.sum == sunk)
    val log = PutLog("spec-lanes")
    assert(log.all.map(_.lane).toSet == Set(0, 1, 2))
    assert(log.all.size == files(dir).size)
  }

  test("the CDC check flags reordered, missing and duplicated records") {
    val gen = new WalGen(11)
    val txns = Array.fill(40)(gen.next())
    val expected = txns.toSeq.flatMap(_.expected)
    assert(expected.size > 20)
    def sink(name: String, recs: Seq[(String, String)]): Path = {
      val d = Files.createDirectories(tmp.resolve(name))
      Files.write(d.resolve("rec-000000000-000000"),
        KplAggregate.encode(recs.map { case (k, m) => (k, m.getBytes("UTF-8")) }))
      d
    }
    val put = Seq(PutRec(0, -1, 0, 0, 1L, 2L))
    def check(name: String, recs: Seq[(String, String)]) =
      new CdcCheck(txns, sink(name, recs), put, Nil, null).verify(0, txns.length, txns.length)
    assert(check("ok", expected).failures == 0)
    val swapped = expected.updated(3, expected(4)).updated(4, expected(3))
    assert(check("swapped", swapped).reasons.get("out_of_order").contains(1L))
    assert(check("missing", expected.patch(5, Nil, 1)).reasons.get("missing").contains(1L))
    assert(check("dup", expected :+ expected(2)).reasons.get("unexpected_or_duplicate").contains(1L))
    val late = Seq((txns.length.toLong, 0L)) // acked before the put returned
    val r = new CdcCheck(txns, sink("acked", expected), put, late, null)
      .verify(0, txns.length, txns.length)
    assert(r.reasons.get("acked_before_put").contains(expected.size.toLong))
  }
}
