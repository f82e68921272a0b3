package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One query's measured run. */
case class QueryRun(name: String, iterative: Boolean, constructS: Double,
    planS: Double, planPhasesS: Double, execS: Double, ok: Boolean,
    error: String, cachedLeft: Int, persistedLeft: Int) {
  def totalS: Double = constructS + planS + execS
}

/** `query_set`: a closed loop with one client over the frozen query
  * list at sf0.1, once each in a seeded order, caches and memos cleared
  * before each query. The timed action is construction, planning and a
  * digest of every output column, checked against frozen values. */
class QueryWorkload(ctx: RunContext) {
  private val sf = ctx.data.resolve("sf0.1").toString
  private val warmSf = ctx.data.resolve("sf0.001").toString
  private val names = QuerySet.all

  private def group(spark: SparkSession, tag: String)(body: => Unit): Unit = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** The untimed warm pass: each query once at sf0.001, so codegen and
    * JIT work is done before timing. */
  def warm(spark: SparkSession): Unit = names.foreach { n =>
    QuerySet.clear(spark)
    val t0 = System.nanoTime()
    try QuerySet.digestPlan(graft.SparkEntry.queries(n)(spark, warmSf)).collect()
    catch { case t: Throwable => System.err.println(s"perfbench: warm $n failed: $t") }
    System.err.println(f"perfbench: warm $n%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  def runOne(spark: SparkSession, probe: Option[SparkProbe], name: String, dir: String,
      expected: Option[Digest]): (QueryRun, Option[Digest]) = {
    QuerySet.clear(spark)
    val fn = graft.SparkEntry.queries(name)
    val spans = ctx.spans
    spans.around(0L, "operators", name) { qid =>
      var df: org.apache.spark.sql.DataFrame = null
      var digest: Option[Digest] = None
      var err = ""
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      var phases = 0.0
      try {
        spans.around(qid, "operators.construct", s"$name construct") { id =>
          probe.foreach(_.parentFor(s"pb:c:$name", id))
          group(spark, s"pb:c:$name") { df = fn(spark, dir) }
        }
        t1 = System.nanoTime()
        val plan = QuerySet.digestPlan(df)
        spans.around(qid, "operators.plan", s"$name plan") { id =>
          probe.foreach(_.parentFor(s"pb:p:$name", id))
          group(spark, s"pb:p:$name") { plan.queryExecution.executedPlan }
        }
        t2 = System.nanoTime()
        spans.around(qid, "operators.execute", s"$name execute") { id =>
          probe.foreach(_.parentFor(s"pb:x:$name", id))
          group(spark, s"pb:x:$name") {
            digest = Some(QuerySet.digestOf(plan.collect()(0)))
          }
        }
        phases = plan.queryExecution.tracker.phases
          .filter { case (k, _) => k != "parsing" }
          .values.map(_.durationMs).sum / 1e3
      } catch {
        case t: Throwable =>
          err = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
      }
      val t3 = System.nanoTime()
      if (t2 == t0) t2 = t3
      if (t1 == t0) t1 = t3
      val ok = err.isEmpty && expected.forall(e => digest.contains(e))
      if (err.isEmpty && !ok)
        err = s"digest ${digest.map(_.tsv).getOrElse("-")} != expected ${expected.map(_.tsv).getOrElse("-")}"
      // what the query left behind: whether the CacheManager still
      // holds data, and how many RDDs stay persisted
      val cachedLeft = if (spark.sharedState.cacheManager.isEmpty) 0 else 1
      (QueryRun(name, QuerySet.isIterative(name), (t1 - t0) / 1e9,
        (t2 - t1) / 1e9, phases, (t3 - t2) / 1e9, ok, err, cachedLeft,
        spark.sparkContext.getPersistentRDDs.size), digest)
    }
  }

  /** The traced run's `Tables` figures: every table's loader called
    * once on the measured scale factor, caches cleared first. */
  private def tables(spark: SparkSession, probe: SparkProbe): (Double, Double) = {
    val loaders: Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame] = Seq(
      graft.Tables.lineitem, graft.Tables.orders, graft.Tables.customer,
      graft.Tables.supplier, graft.Tables.part, graft.Tables.nation,
      graft.Tables.region, graft.Tables.events, graft.Tables.documents,
      graft.Tables.embeddings)
    QuerySet.clear(spark)
    val t0 = System.nanoTime()
    ctx.spans.around(0L, "Tables", "read all") { id =>
      probe.parentFor("pb:tables", id)
      group(spark, "pb:tables") { loaders.foreach(_(spark, sf)) }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    (ms, probe.work(_ == "pb:tables").jobs.toDouble)
  }

  private def layerMetrics(runs: Seq[QueryRun], probe: SparkProbe,
      tablesMsJobs: (Double, Double)): Seq[(String, Double, String)] = {
    def split(prefix: String, rs: Seq[QueryRun]): Seq[(String, Double, String)] = {
      val names = rs.map(_.name).toSet
      def w(phase: String) = probe.work(t => t.startsWith(s"pb:$phase:") && names(t.drop(5)))
      val (c, p, x) = (w("c"), w("p"), w("x"))
      val all = new Work; all += c; all += p; all += x
      Seq(
        (s"$prefix.construct_s", rs.map(_.constructS).sum, "s"),
        (s"$prefix.construct_jobs", c.jobs.toDouble, "count"),
        (s"$prefix.plan_s", rs.map(_.planS).sum, "s"),
        (s"$prefix.plan_phases_s", rs.map(_.planPhasesS).sum, "s"),
        (s"$prefix.exec_s", rs.map(_.execS).sum, "s"),
        (s"$prefix.exec_jobs", x.jobs.toDouble + p.jobs, "count"),
        (s"$prefix.stages", all.stages.toDouble, "count"),
        (s"$prefix.tasks", all.tasks.toDouble, "count"),
        (s"$prefix.tasks_per_stage_p50",
          if (all.tasksPerStage.isEmpty) 0.0 else Stats.median(all.tasksPerStage.toSeq), "count"),
        (s"$prefix.shuffle_write_bytes", all.shuffleWriteBytes.toDouble, "bytes"),
        (s"$prefix.spill_bytes", all.spillBytes.toDouble, "bytes"),
        (s"$prefix.executor_cpu_ms", all.executorCpuNs / 1e6, "ms"),
        (s"$prefix.gc_ms", all.gcMs.toDouble, "ms"),
        (s"$prefix.cached_left", rs.map(_.cachedLeft).sum.toDouble, "count"),
        (s"$prefix.persisted_rdds_left", rs.map(_.persistedLeft).sum.toDouble, "count"))
    }
    split("operators", runs) ++
      split("operators.iterative", runs.filter(_.iterative)) ++
      split("operators.oneshot", runs.filterNot(_.iterative)) ++ Seq(
      ("Tables.read_ms", tablesMsJobs._1, "ms"),
      ("Tables.read_jobs", tablesMsJobs._2, "count")) ++
      Layers.selfTimes(ctx.spans.spans)
  }

  def run(): Outcome = {
    val expected = ctx.freeze match {
      case None => QuerySet.loadExpected(ctx.data.resolve("expected_sf0.1.tsv"))
      case Some(_) => Map.empty[String, Digest]
    }
    // set-up: a session and the warm pass, once (see README: the warm
    // pass is most of a run's budget, so it is not repeated)
    val t0 = System.nanoTime()
    val spark = Session.start(ctx.cores, ctx.work)
    val tSession = System.nanoTime()
    warm(spark)
    val tSetup = System.nanoTime()
    val probe = new SparkProbe(ctx.spans)
    if (ctx.trace) spark.sparkContext.addSparkListener(probe)
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val runs = order.map { n =>
      // freezing records digests; otherwise a query without an expected
      // digest fails
      val want = if (ctx.freeze.isDefined) None else Some(expected.getOrElse(n, Digest(-1, 0, 0)))
      val (r, d) = runOne(spark, if (ctx.trace) Some(probe) else None, n, sf, want)
      System.err.println(f"perfbench: ${r.name}%-24s construct ${r.constructS}%.3f s, plan ${r.planS}%.3f s, " +
        f"execute ${r.execS}%.3f s ${if (r.ok) "ok" else "FAILED: " + r.error}")
      (r, d)
    }
    ctx.freeze.foreach { p =>
      Files.write(p, runs.sortBy(_._1.name).map { case (r, d) =>
        s"${r.name}\t${d.map(_.tsv).getOrElse("error")}" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val qr = runs.map(_._1)
    QuerySet.clear(spark)
    val layers =
      if (!ctx.trace) Nil
      else {
        val tm = tables(spark, probe)
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        layerMetrics(qr, probe, tm)
      }
    val heapMb = Heap.retainedMb()
    Session.stop(spark)
    val totals = qr.map(_.totalS)
    val total = totals.sum
    val setupS = (tSetup - t0) / 1e9
    val (tailRank, tailS) = Stats.tail(totals)
    val failed = qr.count(!_.ok)
    Outcome(
      attempted = qr.size, failed = failed,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("throughput_per_s", qr.size / total, "1/s"),
        ("latency_p50_ms", Stats.median(totals) * 1e3, "ms"),
        ("latency_tail_ms", tailS * 1e3, "ms"),
        ("heap_retained_mb", heapMb, "MB")),
      perLayer = layers ++ Seq(
        ("trace.window_s", total, "s"),
        ("trace.throughput_per_s", qr.size / total, "1/s"),
        ("trace.latency_p50_ms", Stats.median(totals) * 1e3, "ms")),
      details = Seq(
        "workload" -> ctx.workload, "loop" -> "closed, one client",
        "scale" -> "sf0.1", "queries" -> qr.size,
        "iterative" -> qr.count(_.iterative), "oneshot" -> qr.count(!_.iterative),
        "session_s" -> (tSession - t0) / 1e9, "warm_s" -> (tSetup - tSession) / 1e9,
        "query_total_s" -> total, "query_p50_s" -> Stats.median(totals),
        s"query_p${tailRank.toInt}_s" -> tailS,
        "per_query_s" -> scala.collection.immutable.ListMap(qr.map(r => r.name -> r.totalS): _*),
        "failures" -> scala.collection.immutable.ListMap(qr.filterNot(_.ok).map(r => r.name -> r.error): _*),
        "heap_retained_mb" -> heapMb,
        "ops_failed_ratio" -> failed.toDouble / qr.size))
  }
}
