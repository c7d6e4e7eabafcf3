package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload <name> --data <dir> --work <dir> --seconds <n>
  *        --trace <0|1> --out <report.json>
  *        [--probe-data <dir>]   (traced runs: the layer probes' inputs)
  *
  * Set-up (session start and the workload's preparation) is done
  * [[Setups]] times, each time on a fresh SparkSession; the first one also
  * counts the JVM's own start. Then the workload's cold pass runs once and
  * its warm unit repeats for about `seconds` (at least one warm unit). A
  * traced run attaches a SparkListener to every timed call and, after the
  * workload, runs the layer probes. The report is JSON;
  * `perfbench/run.py` turns it into the result line.
  */
object Main {
  val E2e = Seq("setup_s", "cold_s", "unit_p50_ms", "throughput")
  val Layers = Seq("vectorstore", "index", "streaming", "curation", "pipeline", "analytics")
  /** setup_s is the median of this many set-ups. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val wl = Workloads.byName(opts("workload"))
    val dir = opts("data")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val mainAt = System.currentTimeMillis()
    val jvmStartS = (mainAt - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val calBefore = graft.util.Calibrate.spinSecondsIsolated()
    val trace = if (traced) Some(new Trace) else None
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      trace.foreach(spark.sparkContext.addSparkListener)
      spark.range(1000000L).selectExpr("sum(id)").collect()
      graft.Tables.region(spark, dir).count()
      ctx = new Ctx(spark, dir, work, trace)
      wl.prepare(ctx)
      (System.nanoTime() - t0) / 1e9 + (if (i == 1) jvmStartS else 0.0)
    }

    wl.load(ctx)
    val gc0 = gcSeconds()
    ctx.phase = "cold"
    wl.cold(ctx)
    val coldS = ctx.calls.filter(_.phase == "cold").map(_.wallMs).sum / 1e3
    ctx.phase = "warm"
    val t0 = System.nanoTime()
    final case class Unit_(wallS: Double, items: Long, samples: Seq[Double])
    val units = mutable.ArrayBuffer.empty[Unit_]
    def elapsed = (System.nanoTime() - t0) / 1e9
    // A unit is not started when it would overrun the window by more than
    // half a unit, so a run measures close to `seconds` whatever the unit.
    def more = {
      val mean = units.map(_.wallS).sum / units.size
      elapsed + mean / 2 < seconds
    }
    while (units.isEmpty || more) {
      val n0 = ctx.samples.size
      val u0 = System.nanoTime()
      val items = wl.warm(ctx)
      units += Unit_((System.nanoTime() - u0) / 1e9, items, ctx.samples.drop(n0).toSeq)
    }
    val gcS = gcSeconds() - gc0
    ctx.phase = "check"
    wl.finish(ctx)

    def unitP50(us: Seq[Unit_]) = Stats.median(us.flatMap(_.samples))
    def thr(us: Seq[Unit_]) = us.map(_.items).sum / us.map(_.wallS).sum
    val e2e = Map("setup_s" -> Stats.median(setupS), "cold_s" -> coldS,
      "unit_p50_ms" -> unitP50(units.toSeq), "throughput" -> thr(units.toSeq))

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      // Tracing overhead = each traced.* figure minus the same metric of
      // untraced runs of the workload.
      E2e.foreach(m => perLayer(s"traced.$m") = e2e(m))
      layerTotals(ctx.calls.filter(_.phase != "check").toSeq, perLayer)
      perLayer("jvm.gc_s") = gcS
      val probeCtx = new Ctx(spark, opts("probe-data"), work, None)
      ctx.detail("probe_s") = Seq[(String, Ctx => Unit)](
        "kernels" -> (c => Probes.kernels(c, perLayer)),
        "serving" -> (c => Probes.serving(c, perLayer)),
        "pipeline" -> (c => Probes.pipelineStages(c, perLayer)))
        .map { case (n, f) => n -> Probes.time(f(probeCtx)) }.toMap
    }
    val calAfter = graft.util.Calibrate.spinSecondsIsolated()

    val tail = Stats.tailPercentile(ctx.samples.size)
    ctx.detail("unit_n") = ctx.samples.size
    tail.foreach { p =>
      ctx.detail(s"unit_p${p}_ms") = Stats.quantile(ctx.samples.toSeq, p / 100.0)
    }
    ctx.detail("setup_runs_s") = setupS
    ctx.detail("warm_units") = units.size
    ctx.detail("item_unit") = wl.itemUnit
    ctx.detail("calls") = ctx.calls.map(c =>
      Map("layer" -> c.layer, "op" -> c.op, "phase" -> c.phase, "ms" -> c.wallMs, "ok" -> c.ok))
    val checksFailed = ctx.checks.count(!_._2)
    val timed = ctx.calls.count(c => c.phase == "cold" || c.phase == "warm")
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name,
      "attempted" -> timed,
      "failed" -> math.min(timed, ctx.failed + checksFailed),
      "checks" -> ctx.checks.map { case (n, ok, info) =>
        Map("name" -> n, "ok" -> ok, "info" -> (if (ok) "" else info)) },
      "end_to_end" -> e2e,
      "per_layer" -> perLayer,
      "oracle" -> ctx.oracleOutputs.map { case (k, p) =>
        Map("key" -> k, "path" -> p, "sql" -> graft.SparkEntry.oracleSql(k)) },
      "calibration" -> Map("before_s" -> calBefore, "after_s" -> calAfter,
        "ratio" -> graft.util.Calibrate.ratio(calBefore, calAfter)),
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "detail" -> ctx.detail)
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      Json(report).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Per-layer Spark runtime totals over the timed calls of a traced run. */
  def layerTotals(calls: Seq[Call], out: mutable.Map[String, Double]): Unit =
    Layers.foreach { l =>
      val cs = calls.filter(_.layer == l)
      val s = cs.map(_.stats).foldLeft(CallStats())(_ + _)
      def skew(c: Call): (Double, Double) =
        if (c.stats.taskMsList.isEmpty) (0.0, 0.0)
        else (c.stats.taskMsList.max, Stats.median(c.stats.taskMsList))
      val sk = cs.map(skew)
      out(s"$l.calls") = cs.size
      out(s"$l.wall_s") = cs.map(_.wallMs).sum / 1e3
      out(s"$l.jobs") = s.jobs
      out(s"$l.tasks") = s.tasks
      out(s"$l.task_s") = s.taskMs / 1e3
      out(s"$l.shuffle_bytes") = s.shuffleBytes.toDouble
      out(s"$l.spill_bytes") = s.spillBytes.toDouble
      out(s"$l.driver_gap_s") = cs.map(c => c.wallMs - c.stats.jobUnionMs).sum / 1e3
      out(s"$l.task_skew") =
        if (sk.map(_._2).sum > 0) sk.map(_._1).sum / sk.map(_._2).sum else 0.0
    }
}
