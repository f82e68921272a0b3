package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Work counters for one tag (a query phase or a streaming trigger). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  val tasksPerStage = mutable.ArrayBuffer.empty[Double]

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
    tasksPerStage ++= o.tasksPerStage
  }
}

/** A public SparkListener that charges every job and completed stage
  * to a tag. The tag is the job group the benchmark set around its own
  * calls (`pb:<...>`), or, for streaming micro-batches, `batch:<id>`
  * read from the job description Structured Streaming sets. With
  * `spans` enabled each job is also recorded as a span whose parent is
  * the span registered for its tag. */
class SparkProbe(spans: Spans) extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Work]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val parents = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val BatchId = """batch = (\d+)""".r.unanchored

  /** Register the span a tag's jobs should hang under. */
  def parentFor(tag: String, spanId: Long): Unit =
    if (spanId > 0) parents.put(tag, spanId)

  private def tagOf(p: java.util.Properties): String = {
    if (p == null) return "other"
    val group = p.getProperty("spark.jobGroup.id")
    if (group != null && group.startsWith("pb:")) return group
    Option(p.getProperty("spark.job.description")) match {
      case Some(BatchId(id)) => s"batch:$id"
      case _ => if (group != null) group else "other"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    byTag.getOrElseUpdate(tag, new Work).jobs += 1
    e.stageIds.foreach(s => stageTag(s) = tag)
    jobTag(e.jobId) = (tag, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, t0) =>
      val parent = Option(parents.get(tag)).map(_.longValue).getOrElse(0L)
      spans.add(parent, "spark.job", s"$tag job ${e.jobId}",
        t0 * 1000000L + Clock.nanoMinusMillis, e.time * 1000000L + Clock.nanoMinusMillis)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val w = byTag.getOrElseUpdate(stageTag.getOrElse(info.stageId, "other"), new Work)
    w.stages += 1
    w.tasks += info.numTasks
    w.tasksPerStage += info.numTasks.toDouble
    val m = info.taskMetrics
    if (m != null) {
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.executorCpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
    }
  }

  /** Sum of the counters of every tag accepted by `keep`. */
  def work(keep: String => Boolean): Work = synchronized {
    val out = new Work
    byTag.foreach { case (t, w) => if (keep(t)) out += w }
    out
  }
}
