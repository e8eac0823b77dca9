package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, data: String, traceDir: String, cpus: Int,
                      launchEpochMs: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("data"), need("trace-dir"),
      need("cpus").toInt, need("jvm-launch-epoch-ms").toLong)
  }
}

/** Everything a workload needs: the session, the corpus, the run's own
  * index directory, and where its outcomes and measurements go. */
final class Ctx(val args: Args, val spark: SparkSession, val listener: GroupListener) {
  val dir: String = args.data
  val indexDir: String = sys.env.getOrElse("GRAFT_INDEX_DIR",
    throw new IllegalStateException("GRAFT_INDEX_DIR must name the run's empty index dir"))
  val spans = new Spans(args.launchEpochMs)
  val tally = new Tally
  /** Checks outside the load windows (setup, pinned digests, end state). */
  val checks = new Tally
  /** Per-layer values this workload measured; the rest report 0. */
  val layer: TrieMap[String, Double] = TrieMap.empty
  /** Run conditions printed next to the metrics. */
  val context: TrieMap[String, Double] = TrieMap.empty
  lazy val oneRow: DataFrame = Probes.cachedOneRow(spark)

  def sinceLaunchS: Double = spans.nowMs / 1000

  /** Time an index `ensure` from the run's empty index dir. */
  def build[A](name: String)(f: => A): A = {
    val (r, ms) = spans.timed(s"index.build.$name")(_ => f)
    layer(s"index.build_s.$name") = ms / 1000
    r
  }

  /** Run independent set-up tasks on up to `threads` threads; wait for
    * all, in order. */
  def parallel[A](tasks: Seq[() => A], threads: Int = args.cpus): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(threads, tasks.size)))
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  /** Let set-up's garbage and background JIT compiles settle before a
    * timed window. */
  def quiesce(): Unit = {
    System.gc()
    Thread.sleep(1500)
  }

  def recordConditions(when: String): Unit = {
    context(s"load1_$when") = Probes.load1()
    context(s"floor_ms_$when") = Probes.floorMs(oneRow)
  }
}
