package perfbench

import java.nio.file.{Files, Path, Paths}

/** Everything a workload needs to know about its run. */
case class RunContext(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Int, work: Path, data: Path,
    freeze: Option[Path]) {
  val spans = new Spans(trace)
}

/** What a workload hands back: operations attempted and failed, the
  * end-to-end and per-layer metrics, and run details for the record. */
case class Outcome(attempted: Long, failed: Long,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    details: Seq[(String, Any)])

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = RunContext(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toInt, trace = a.getOrElse("trace", "0") == "1",
      cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      work = Paths.get(a("work")).toAbsolutePath, data = Paths.get(a("data")).toAbsolutePath,
      freeze = a.get("freeze").map(Paths.get(_)))
    Files.createDirectories(ctx.work)
    val out = ctx.workload match {
      case "query_set" => new QueryWorkload(ctx).run()
      case "cdc_backlog" => new CdcWorkload(ctx, live = false).run()
      case "cdc_live" => new CdcWorkload(ctx, live = true).run()
      case other =>
        System.err.println(s"perfbench: unknown workload $other"); sys.exit(2)
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val context = Map(
      "cores" -> ctx.cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
        .filterNot(_.startsWith("--add-opens")).filterNot(_.startsWith("java.base")),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "spark_settings" -> Session.settings(ctx.cores, ctx.work)
        .filterNot(_._1.endsWith(".dir")).toMap)
    println(Json.obj(("context" -> context) +: out.details))
    if (ctx.trace) ctx.spans.writeJson(ctx.work.resolve(s"spans-${ctx.workload}-${ctx.seed}.json"))
    val metrics = (if (ctx.trace) Layers.complete(out.perLayer) else out.endToEnd).map {
      case (n, v, u) => n -> Map("value" -> v, "unit" -> u)
    }
    println(Json.obj(Seq("correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }
}
