package perfbench

import org.apache.spark.sql.SparkSession

/** Metric names the harness prints; `BENCHMARK.json` declares the same
  * (pinned by `MetricsSpec`). */
object Metrics {
  final case class Def(name: String, unit: String, better: String)

  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("throughput_rps", "1/s", "higher"),
    Def("latency_p50_ms", "ms", "lower"),
    Def("latency_p90_ms", "ms", "lower"),
    Def("cached_mb", "MB", "lower"),
    Def("index_disk_mb", "MB", "lower"))

  val perLayer: Seq[Def] =
    Seq(Def("serve.transport_ms", "ms", "lower")) ++
      SearchSingle.Routes.map(r => Def(s"serve.route.$r.p50_ms", "ms", "lower")) ++ Seq(
      Def("trace.overhead_ms", "ms", "lower"),
      Def("search.build_ms", "ms", "lower"),
      Def("search.build_jobs", "count", "lower"),
      Def("catalyst.plan_ms", "ms", "lower"),
      Def("spark.exec_ms", "ms", "lower"),
      Def("spark.jobs_per_req", "count", "lower"),
      Def("spark.tasks_per_req", "count", "lower"),
      Def("spark.task_cpu_ms_per_req", "ms", "lower"),
      Def("spark.shuffle_kb_per_req", "kB", "lower"),
      Def("spark.spill_kb", "kB", "lower"),
      Def("spark.sched_wait_ms_per_req", "ms", "lower"),
      Def("spark.floor_ms", "ms", "lower"),
      Def("cache.refill_frac", "ratio", "lower"),
      Def("cache.refill_read_ms", "ms", "lower"),
      Def("ingest.freshness_p50_s", "s", "lower"),
      Def("ingest.freshness_p90_s", "s", "lower"),
      Def("ingest.trigger_ms", "ms", "lower"),
      Def("ingest.add_batch_ms", "ms", "lower"),
      Def("ingest.jobs_per_trigger", "count", "lower"),
      Def("ingest.bytes_per_change", "B", "lower"),
      Def("ingest.segments", "count", "lower")) ++
      Seq("bm25", "tfidf", "keys", "tfidf_graph", "grown")
        .map(i => Def(s"index.build_s.$i", "s", "lower")) ++
      Analytics.Queries.flatMap(q => Seq(
        Def(s"analytics.$q.wall_s", "s", "lower"),
        Def(s"analytics.$q.count_s", "s", "lower"),
        Def(s"analytics.$q.jobs", "count", "lower"),
        Def(s"analytics.$q.plan_ms", "ms", "lower"),
        Def(s"analytics.$q.shuffle_mb", "MB", "lower")))
}

/** One benchmark run in this JVM: set up, measure, check, print. */
object Main {
  val Workloads = Seq("search-single", "fresh-writes", "analytics")

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"perfbench-${args.workload}")
      .master(s"local[${args.cpus}]")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    require(new java.io.File(args.data, "_READY").exists, s"no corpus at ${args.data}")
    val spark = session(args)
    val rc =
      try {
        val listener = new GroupListener
        spark.sparkContext.addSparkListener(listener)
        val ctx = new Ctx(args, spark, listener)
        val (setupS, w) = args.workload match {
          case "search-single" => SearchSingle.run(ctx)
          case "fresh-writes" => FreshWrites.run(ctx, DataGen.Corpus.docs)
          case "analytics" => Analytics.run(ctx)
        }
        report(ctx, setupS, w)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    System.exit(rc)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def report(ctx: Ctx, setupS: Double, w: Window): Unit = {
    val lat = w.latencies
    val floor = Seq("start", "end").flatMap(k => ctx.context.get(s"floor_ms_$k"))
    ctx.layer("spark.floor_ms") = Stats.mean(floor)
    val values: Map[String, Double] =
      if (!ctx.args.trace) Map(
        "setup_s" -> setupS,
        "throughput_rps" -> w.okCount / w.seconds,
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.percentile(lat, Serving.TailQ),
        "cached_mb" -> Probes.cachedMb(ctx.spark, ctx.spans),
        "index_disk_mb" -> Probes.diskMb(ctx.indexDir))
      else ctx.layer.toMap
    val defs = if (ctx.args.trace) Metrics.perLayer else Metrics.endToEnd
    val metrics = defs.map { d =>
      s""""${d.name}":{"value":${num(values.getOrElse(d.name, 0.0))},"unit":"${d.unit}"}"""
    }
    ctx.context("window_s") = w.seconds
    ctx.context("samples") = lat.size.toDouble
    ctx.context("samples_beyond_p90") = Stats.beyond(lat.size, Serving.TailQ).toDouble
    ctx.context("cpus") = ctx.args.cpus.toDouble
    ctx.spans.write(s"${ctx.args.traceDir}/${ctx.args.workload}-seed${ctx.args.seed}" +
      s"${if (ctx.args.trace) "-traced" else ""}.json")
    val reasons = ctx.checks.firstReasons ++ ctx.tally.firstReasons
    reasons.foreach(r => System.err.println(s"perfbench: check failed: $r"))
    val correct = ctx.checks.failed == 0 && ctx.tally.failed == 0 && ctx.checks.attempted > 0
    val context = ctx.context.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
    println(context.mkString("""{"context":{""", ",", "}}"))
    println(s"""{"correct":$correct,"attempted":${ctx.tally.attempted},""" +
      s""""failed":${ctx.tally.failed},"metrics":{${metrics.mkString(",")}}}""")
  }
}
