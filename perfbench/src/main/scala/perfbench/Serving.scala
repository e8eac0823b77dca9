package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.serve.{Api, HttpServe}

/** What a load window measured: its samples and its length. */
final case class Window(samples: Seq[Sample], seconds: Double) {
  def latencies: Seq[Double] = samples.map(_.ms)
  def okCount: Int = samples.count(_.outcome.isRight)
  def p50: Double = Stats.median(latencies)
}

/** One traced in-process request: wall time split into DataFrame
  * construction, Catalyst planning and execution (collect), plus the job
  * groups its Spark work ran under. */
final case class ReqTrace(route: String, rid: String, buildMs: Double, planMs: Double,
                          execMs: Double, totalMs: Double)

/** Shared serving-side machinery: the HTTP window, the traced window and
  * the per-layer summary of traced requests. */
object Serving {
  val Count = 10
  val TailQ = 0.9
  val MinSamples: Int = Stats.minSamples(TailQ)

  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** A window may outrun `--seconds` by this much to reach [[MinSamples]]. */
  def capSeconds(ctx: Ctx): Double = ctx.args.seconds + 4.0

  /** Run one request traced: construction (`build`) under job group
    * `rid/b`; planning and execution of the frame `finish` puts on it under
    * `rid/x`; `read` turns the collected rows into the result. */
  def traced[T, A](ctx: Ctx, rid: String, route: String)(build: => DataFrame)
                  (finish: DataFrame => Dataset[T])(read: Array[T] => A): (A, ReqTrace) = {
    val sc = ctx.spark.sparkContext
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(s"$rid/b", route, interruptOnCancel = false)
      val (ds, buildMs) = ctx.spans.timed(s"$route.build")(_ => finish(build))
      sc.setJobGroup(s"$rid/x", route, interruptOnCancel = false)
      ctx.spans.timed(s"$route.plan")(_ => ds.queryExecution.executedPlan)
      val (rows, execMs) = ctx.spans.timed(s"$route.exec")(_ => ds.collect())
      val total = (System.nanoTime() - t0) / 1e6
      (read(rows), ReqTrace(route, rid, buildMs, Probes.planMs(ds), execMs, total))
    } finally sc.clearJobGroup()
  }

  /** A route's hits, serialized the way the routes serialize them. */
  def asJson(df: DataFrame): Dataset[String] = df.toJSON

  def readHits(rows: Array[String]): Either[String, Vector[Hit]] =
    Check.hits(rows.mkString("{\"results\":[", ",", "]}"))

  /** Per-layer means over traced requests, from their timings and their
    * job groups' Spark work. */
  def summarize(ctx: Ctx, traces: Seq[ReqTrace]): Unit = {
    ctx.listener.drain()
    if (traces.isEmpty) return
    val n = traces.size.toDouble
    def groups(suffix: String) = traces.map(t => ctx.listener.group(t.rid + suffix))
    val all = groups("/b") ++ groups("/x")
    ctx.layer("search.build_ms") = Stats.mean(traces.map(_.buildMs))
    ctx.layer("search.build_jobs") = groups("/b").map(_.jobs.get).sum / n
    ctx.layer("catalyst.plan_ms") = Stats.mean(traces.map(_.planMs))
    ctx.layer("spark.exec_ms") = Stats.mean(traces.map(_.execMs))
    ctx.layer("spark.jobs_per_req") = all.map(_.jobs.get).sum / n
    ctx.layer("spark.tasks_per_req") = all.map(_.tasks.get).sum / n
    ctx.layer("spark.task_cpu_ms_per_req") = all.map(_.cpuNs.get).sum / 1e6 / n
    ctx.layer("spark.shuffle_kb_per_req") = all.map(_.shuffleBytes.get).sum / 1024.0 / n
    ctx.layer("spark.spill_kb") = all.map(_.spillBytes.get).sum / 1024.0
    ctx.layer("spark.sched_wait_ms_per_req") = all.map(_.schedWaitMs.get).sum / n
  }

  /** The traced window: the same request stream and concurrency as the
    * HTTP window, run in-process on the benchmark's threads. Even
    * requests are traced, odd ones run plain, so the tracing overhead is
    * measured inside one window. */
  def tracedWindow(ctx: Ctx, clients: Int, http: Window)
                  (req: (Int, Int) => (String, String, Boolean => DataFrame,
                    Vector[Hit] => Either[String, Unit])): Unit = {
    val traces = new ConcurrentLinkedQueue[ReqTrace]()
    val (samples, secs) = ctx.spans.timed("window.traced")(_ =>
      Load.closedLoop(clients, ctx.args.seconds, MinSamples, capSeconds(ctx)) {
        (c, i) =>
          val (route, rid, build, check) = req(c, i)
          if (i % 2 == 0) {
            val (hits, t) = traced(ctx, rid, route)(build(true))(asJson)(readHits)
            traces.add(t)
            (route + "#traced", hits.flatMap(check))
          } else (route, readHits(asJson(build(false)).collect()).flatMap(check))
      })._1
    samples.foreach(s => ctx.tally.record(s.outcome))
    val plainMs = samples.filterNot(_.route.endsWith("#traced")).map(_.ms)
    val ts = traces.asScala.toSeq
    ctx.layer("serve.transport_ms") = http.p50 - Stats.median(plainMs)
    ctx.layer("trace.overhead_ms") = Stats.median(ts.map(_.totalMs)) - Stats.median(plainMs)
    ctx.context("traced_window_s") = secs
    summarize(ctx, ts)
  }

  def routeP50s(ctx: Ctx, w: Window): Unit =
    w.samples.groupBy(_.route).foreach { case (r, ss) =>
      ctx.layer(s"serve.route.$r.p50_ms") = Stats.median(ss.map(_.ms))
    }
}

/** `search-single`: 4 closed-loop clients over the six single-query
  * routes, each response checked against the batch route's ranking. */
object SearchSingle {
  val Routes: IndexedSeq[String] =
    Vector("dense", "sparse", "hybrid", "graph", "search", "fusion")

  /** The request mix, cycled per client: every route, and hybrid — the
    * default mode of `/api/query` — twice. Seven slots put the median
    * inside one route's latency band instead of in the gap between the
    * fast (dense, sparse) and slow (graph, search, fusion) routes. */
  val Mix: IndexedSeq[String] =
    Vector("dense", "sparse", "hybrid", "hybrid", "graph", "search", "fusion")

  def url(route: String, q: String): String = route match {
    case "search" => s"/api/search?count=${Serving.Count}&q=${Serving.enc(q)}"
    case "fusion" => s"/api/search/fusion?count=${Serving.Count}&q=${Serving.enc(q)}"
    case mode => s"/api/query?mode=$mode&count=${Serving.Count}&q=${Serving.enc(q)}"
  }

  /** The public engine calls each route makes, as a DataFrame. */
  def frame(ctx: Ctx, route: String, q: String): DataFrame = {
    import graft.search.SearchEngine
    val (spark, dir, k) = (ctx.spark, ctx.dir, Serving.Count)
    route match {
      case "graph" => SearchEngine.graphSearch(spark, dir, q, k)
      case "search" => SearchEngine.resultShape(spark, dir,
        Api.search(spark, dir, q, "hybrid", k).select("id", "score")).limit(k)
      case "fusion" => Api.fusionSearch(spark, dir, q, k)
      case mode => Api.search(spark, dir, q, mode, k)
    }
  }

  /** Expected rankings for every (route, query), from `/api/batch-search`. */
  def expected(ctx: Ctx, http: Http, pool: Seq[String]): Either[String, Map[String, Vector[Hit]]] = {
    val k = Serving.Count
    val batches = ctx.parallel(Seq(("dense", 2 * k), ("sparse", k), ("hybrid", k), ("graph", k)).map {
      case (mode, n) => () => http.ok(
        s"/api/batch-search?mode=$mode&count=$n&queries=${Serving.enc(pool.mkString("||"))}")
        .flatMap(Check.batchHits)
    })
    for {
      dense2k <- batches(0); sparse <- batches(1); hybrid <- batches(2); graph <- batches(3)
    } yield pool.flatMap { q =>
      // a ranking's top k is the head of its top 2k (total order: score, id)
      Seq(s"dense|$q" -> dense2k(q).take(k), s"sparse|$q" -> sparse(q),
        s"hybrid|$q" -> hybrid(q), s"graph|$q" -> graph(q),
        s"search|$q" -> Check.expectedSearch(hybrid(q), k),
        s"fusion|$q" -> Check.expectedFusion(dense2k(q), k))
    }.toMap
  }

  def run(ctx: Ctx): (Double, Window) = {
    import graft.index.{Bm25Index, KeyIndex, TfIdfGraphIndex, TfIdfIndex}
    val (spark, dir) = (ctx.spark, ctx.dir)
    // independent artifacts build side by side, as a server's cold start
    // would; the graph reads the tfidf artifact, so it follows it
    ctx.parallel(Seq(
      () => ctx.build("bm25")(Bm25Index.ensure(spark, dir)),
      () => ctx.build("keys")(KeyIndex.ensure(spark, dir)),
      () => {
        ctx.build("tfidf")(TfIdfIndex.ensure(spark, dir))
        ctx.build("tfidf_graph")(TfIdfGraphIndex.vectors(spark, dir))
      }))
    val server = HttpServe.start(spark, dir, 0)
    try {
      val http = new Http(server.getAddress.getPort)
      val stream = new Requests.Stream(ctx.args.seed, clients(ctx), Mix)
      val first = http.ok(url("dense", stream.queries.head)).flatMap(Check.hits)
      val setupS = ctx.sinceLaunchS
      ctx.checks.record(first.map(_ => ()))

      // the expected rankings come from the batch route while the clients
      // warm up (between them, every route twice); warm-up answers are
      // checked once the expectations are in
      val https = Array.fill(clients(ctx))(new Http(server.getAddress.getPort))
      val warm = https.indices.map(c => () =>
        (c until 2 * Routes.size by https.size).map { j =>
          val (r, q) = (Routes(j % Routes.size), stream.queries(j))
          (r, q, https(c).ok(url(r, q)).flatMap(Check.hits))
        })
      val (exp, warmed) = ctx.spans.timed("expected+warmup") { _ =>
        val pending = java.util.concurrent.CompletableFuture.supplyAsync(
          () => expected(ctx, http, stream.queries))
        val warmed = ctx.parallel(warm).flatten
        (pending.get() match {
          case Right(e) => e
          case Left(why) => ctx.checks.fail(s"expected rankings: $why"); Map.empty[String, Vector[Hit]]
        }, warmed)
      }._1
      Pinned.checkServing(ctx, exp)
      def check(route: String, q: String)(hs: Vector[Hit]): Either[String, Unit] =
        exp.get(s"$route|$q").toRight(s"no expectation for $route|$q")
          .flatMap(Check.same(_, hs))
      first.foreach(hs => ctx.checks.record(check("dense", stream.queries.head)(hs)))
      warmed.foreach { case (r, q, hits) => ctx.checks.record(hits.flatMap(check(r, q))) }
      ctx.quiesce()
      ctx.recordConditions("start")

      val (samples, secs) = ctx.spans.timed("window.http")(_ =>
        Load.closedLoop(clients(ctx), ctx.args.seconds, Serving.MinSamples,
          Serving.capSeconds(ctx)) { (c, i) =>
          val (r, q) = stream.next(c, i)
          (r, https(c).ok(url(r, q)).flatMap(Check.hits).flatMap(check(r, q)))
        })._1
      val w = Window(samples, secs)
      samples.foreach(s => ctx.tally.record(s.outcome))
      if (ctx.args.trace) {
        Serving.routeP50s(ctx, w)
        val again = new Requests.Stream(ctx.args.seed, clients(ctx), Mix)
        Serving.tracedWindow(ctx, clients(ctx), w) { (c, i) =>
          val (r, q) = again.next(c, i)
          (r, s"$c-$i", (_: Boolean) => frame(ctx, r, q), check(r, q) _)
        }
      }
      ctx.recordConditions("end")
      (setupS, w)
    } finally HttpServe.stop(server)
  }

  def clients(ctx: Ctx): Int = math.min(4, ctx.args.cpus)
}
