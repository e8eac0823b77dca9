package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.index.{IncrementalKnn, TfIdfGraphIndex, TfIdfIndex}
import graft.search.SearchEngine
import graft.serve.HttpServe

/** `fresh-writes`: 3 closed-loop readers on the grown graph root (every
  * 4th read filtered to `lang=en`) beside 1 open-loop writer feeding
  * seeded I/U/D change batches through `DeltaStream.textGraphCdcIngest`
  * into the root the readers serve. */
object FreshWrites {
  val Readers = 3
  /** Changes per batch: 2 inserts, 2 updates, 2 deletes. */
  val BatchOps = Seq("I", "I", "U", "U", "D", "D")
  /** One change batch every this many ms (open loop). At one per 3.5 s
    * the loop fell behind under the readers' load (triggers of about
    * 29 s, freshness growing with the run). */
  val IntervalMs = 10000L
  val FirstNewId = 1000000L

  /** The writer's view of the corpus: latest text per live id, and ids
    * deleted since. */
  final class Model(texts: IndexedSeq[String], seed: Long) {
    val live = scala.collection.mutable.LinkedHashMap[Long, String]()
    texts.zipWithIndex.foreach { case (t, i) => live(i.toLong) = t }
    val deleted = scala.collection.mutable.Set[Long]()
    val touched = scala.collection.mutable.Set[Long]()
    private val rnd = new scala.util.Random(seed + 101)
    private var nextId = FirstNewId
    private var seq = 0L

    private def text(): String =
      Seq.fill(10 + rnd.nextInt(21))(DataGen.Vocab(rnd.nextInt(DataGen.Vocab.size))).mkString(" ")

    /** The next change batch as (op, doc_id, text, seq) rows. */
    def batch(): Seq[(String, Long, String, Long)] = {
      val picked = scala.collection.mutable.Set[Long]()
      def pick(): Long = {
        val keys = live.keysIterator.toIndexedSeq
        Iterator.continually(keys(rnd.nextInt(keys.size))).find(picked.add).get
      }
      BatchOps.map { op =>
        seq += 1
        op match {
          case "I" =>
            val id = nextId; nextId += 1
            val t = text(); live(id) = t; touched += id; picked += id
            ("I", id, t, seq)
          case "U" =>
            val id = pick(); val t = text(); live(id) = t; touched += id
            ("U", id, t, seq)
          case _ =>
            val id = pick(); live.remove(id); touched -= id; deleted += id
            ("D", id, "", seq)
        }
      }
    }
  }

  def run(ctx: Ctx, docs: Int): (Double, Window) = {
    val (spark, dir) = (ctx.spark, ctx.dir)
    ctx.build("tfidf")(TfIdfIndex.ensure(spark, dir))
    val root = ctx.build("grown")(TfIdfGraphIndex.ensureGrown(spark, dir))
    val server = HttpServe.start(spark, dir, 0)
    val commits = new ConcurrentLinkedQueue[(Long, Long)]() // (end offset, commit ns)
    val triggers = new ConcurrentLinkedQueue[QueryProgressEvent]()
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          triggers.add(e)
          e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
            .flatMap(_.trim.toLongOption)
            .foreach(o => commits.add((o, System.nanoTime())))
        }
    }
    spark.streams.addListener(progress)
    try {
      val first = new Http(server.getAddress.getPort)
        .ok(url("spark join", filtered = false)).flatMap(Check.hits)
      val setupS = ctx.sinceLaunchS
      ctx.checks.record(first.flatMap(Check.wellFormed(_, Serving.Count)))
      val pool = Requests.pool
      val zipf = new Requests.Zipf(pool.size, Requests.ZipfS)
      val rnds = Array.tabulate(Readers)(c => new scala.util.Random(ctx.args.seed * 7919 + c))
      def next(c: Int, i: Int): (String, Boolean) =
        (pool(zipf.sample(rnds(c))), (c + i) % 4 == 3)
      def check(filtered: Boolean)(hs: Vector[Hit]) =
        if (filtered && hs.isEmpty) Right(()) else Check.wellFormed(hs, Serving.Count)
      for (q <- pool.take(3); f <- Seq(false, true))
        ctx.checks.record(first.flatMap(_ => new Http(server.getAddress.getPort)
          .ok(url(q, f)).flatMap(Check.hits).flatMap(check(f))))
      ctx.quiesce()
      ctx.recordConditions("start")

      val model = new Model(DataGen.documentTexts(docs), ctx.args.seed)
      val bytesBefore = Probes.diskMb(ctx.indexDir)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[(String, Long, String, Long)]
      val query = graft.streaming.DeltaStream.textGraphCdcIngest(
        input.toDF().toDF("op", "doc_id", "text", "seq"), dir, root,
        s"${ctx.args.work}/cdc-checkpoint", 3, 5, seqCol = Some("seq"))

      // open-loop writer: batch b is due at t0 + b * IntervalMs
      val scheduled = new ConcurrentLinkedQueue[(Long, Long)]() // (offset, due ns)
      @volatile var stopWriter = false
      val writer = new Thread(() => {
        val t0 = System.nanoTime()
        var b = 0
        while (!stopWriter) {
          val due = t0 + b * IntervalMs * 1000000L
          val wait = (due - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(math.min(wait, 50L))
          else {
            val off = input.addData(model.batch())
            scheduled.add((off.json.trim.toLong, due))
            b += 1
          }
        }
      }, "perfbench-writer")
      writer.start()

      val https = Array.fill(Readers)(new Http(server.getAddress.getPort))
      val (samples, secs) = ctx.spans.timed("window.http")(_ =>
        Load.closedLoop(Readers, ctx.args.seconds, Serving.MinSamples,
          Serving.capSeconds(ctx)) { (c, i) =>
          val (q, f) = next(c, i)
          ("graph", https(c).ok(url(q, f)).flatMap(Check.hits).flatMap(check(f)))
        })._1
      val w = Window(samples, secs)
      samples.foreach(s => ctx.tally.record(s.outcome))
      if (ctx.args.trace) {
        Serving.routeP50s(ctx, w)
        val lastClock = new AtomicReference(IncrementalKnn.stateVersions(root))
        val refills = new ConcurrentLinkedQueue[java.lang.Double]()
        val reads = new java.util.concurrent.atomic.AtomicLong()
        Array.tabulate(Readers)(c => rnds(c) = new scala.util.Random(ctx.args.seed * 7919 + c))
        Serving.tracedWindow(ctx, Readers, w) { (c, i) =>
          val (q, f) = next(c, i)
          val build = (traced: Boolean) => {
            val clock = IncrementalKnn.stateVersions(root)
            val moved = lastClock.getAndSet(clock) != clock
            val t0 = System.nanoTime()
            val df = if (f) SearchEngine.graphSearchGrownFiltered(
              spark, dir, q, "lang", "en", Serving.Count)
            else SearchEngine.graphSearchGrown(spark, dir, q, Serving.Count)
            if (traced) {
              reads.incrementAndGet()
              if (moved) refills.add((System.nanoTime() - t0) / 1e6)
            }
            df
          }
          ("graph", s"$c-$i", build, check(f) _)
        }
        val rs = refills.asScala.map(_.doubleValue).toSeq
        ctx.layer("cache.refill_frac") = rs.size.toDouble / math.max(1L, reads.get)
        ctx.layer("cache.refill_read_ms") = Stats.mean(rs)
      }
      stopWriter = true
      writer.join()
      query.processAllAvailable()
      query.stop()
      ctx.listener.drain()
      ctx.recordConditions("end")

      // every scheduled batch committed; freshness = due -> commit
      val cs = commits.asScala.toSeq.sortBy(_._1)
      val fresh = scheduled.asScala.toSeq.map { case (off, due) =>
        cs.find(_._1 >= off).map { case (_, at) => (at - due) / 1e9 }
      }
      fresh.foreach(f => ctx.tally.record(f.toRight("change batch never committed").map(_ => ())))
      val fs = fresh.flatten
      if (fs.nonEmpty) {
        ctx.layer("ingest.freshness_p50_s") = Stats.median(fs)
        ctx.layer("ingest.freshness_p90_s") = Stats.percentile(fs, Serving.TailQ)
      }
      val ts = triggers.asScala.toSeq
      val nTriggers = math.max(1, ts.size).toDouble
      def dur(k: String) = Stats.mean(ts.map(_.progress.durationMs.getOrDefault(k, 0L).toDouble))
      ctx.layer("ingest.trigger_ms") = dur("triggerExecution")
      ctx.layer("ingest.add_batch_ms") = dur("addBatch")
      ctx.layer("ingest.jobs_per_trigger") =
        ctx.listener.group(query.runId.toString).jobs.get / nTriggers
      ctx.layer("ingest.bytes_per_change") =
        (Probes.diskMb(ctx.indexDir) - bytesBefore) * 1e6 / math.max(1, fs.size * BatchOps.size)
      ctx.layer("ingest.segments") = IncrementalKnn.fanIn(root).toDouble
      ctx.context("change_batches") = scheduled.size.toDouble
      checkEndState(ctx, root, model)
      (setupS, w)
    } finally {
      spark.streams.removeListener(progress)
      spark.streams.active.foreach(_.stop())
      HttpServe.stop(server)
    }
  }

  def url(q: String, filtered: Boolean): String =
    s"/api/query?mode=graph&graph=grown&count=${Serving.Count}&q=${Serving.enc(q)}" +
      (if (filtered) "&filter_field=lang&filter_value=en" else "")

  /** Deleted ids are gone from the grown root; inserted and updated ids
    * carry the embedding of their latest text. */
  private def checkEndState(ctx: Ctx, root: String, model: Model): Unit = {
    import ctx.spark.implicits._
    val served = IncrementalKnn.vectorsAll(ctx.spark, root)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).groupBy(_._1)
    val gone = model.deleted.filter(served.contains)
    ctx.checks.record(if (gone.isEmpty) Right(()) else Left(s"deleted ids still served: ${gone.take(5)}"))
    val latest = model.touched.toSeq.map(id => (id, model.live(id))).toDF("doc_id", "text")
    val want = TfIdfGraphIndex.embedDocsDense(ctx.spark, ctx.dir, latest)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val stale = model.touched.filter(id =>
      !served.get(id).exists(rows => rows.forall(_._2 == want(id))))
    ctx.checks.record(if (stale.isEmpty) Right(()) else Left(s"ids not at their latest text: ${stale.take(5)}"))
    ctx.context("changed_ids_checked") = (model.touched.size + model.deleted.size).toDouble
  }
}
