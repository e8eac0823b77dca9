package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark work attributed to one job group. */
final class GroupStats {
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  val cpuNs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val schedWaitMs = new AtomicLong()
}

/** The benchmark's one SparkListener: jobs, tasks, executor CPU, shuffle
  * read+write bytes, spill and scheduler wait (job submit to its first
  * task start), keyed by job group — the one a request thread set, or a
  * streaming query's run id, which Spark sets on its micro-batch jobs. */
final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val events = new AtomicLong()

  def group(id: String): GroupStats = groups.computeIfAbsent(id, _ => new GroupStats)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    groupOf(e.properties).foreach { g =>
      group(g).jobs.incrementAndGet()
      e.stageIds.foreach { s => stageGroup.put(s, g); stageJob.put(s, e.jobId) }
      jobSubmit.put(e.jobId, e.time)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    events.incrementAndGet()
    for (g <- Option(stageGroup.get(e.stageId)); j <- Option(stageJob.get(e.stageId));
         t0 <- Option(jobSubmit.remove(j)))
      group(g).schedWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val s = group(g)
      s.tasks.incrementAndGet()
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    jobSubmit.remove(e.jobId)
  }

  /** The listener bus is asynchronous: wait until no event arrived for
    * one 50 ms window before reading totals. */
  def drain(): Unit = {
    var prev = -1L
    var spins = 0
    while (events.get() != prev && spins < 100) {
      prev = events.get(); Thread.sleep(50); spins += 1
    }
  }
}

/** In-memory spans (name, start, end, parent), written out when the run
  * ends. Times are ms since the JVM launched. */
final class Spans(launchEpochMs: Long) {
  final case class Span(id: Long, name: String, startMs: Double, endMs: Double, parent: Long)
  private val ids = new AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val t0Ns = System.nanoTime()
  private val offsetMs = System.currentTimeMillis() - launchEpochMs

  def nowMs: Double = offsetMs + (System.nanoTime() - t0Ns) / 1e6

  def timed[A](name: String, parent: Long = 0)(f: Long => A): (A, Double) = {
    val id = ids.incrementAndGet()
    val s = nowMs
    val r = f(id)
    val e = nowMs
    spans.add(Span(id, name, s, e, parent))
    (r, e - s)
  }

  def write(path: String): Unit = {
    val rows = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":${s.parent}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Probes {
  def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(' ').head.toDouble
    catch { case _: Exception => -1.0 }

  /** Scheduler floor: median wall time of a collect over a cached 1-row
    * table — one job whose work is nil, so its time is pure overhead. */
  def floorMs(one: DataFrame, samples: Int = 7): Double =
    Stats.median((0 until samples).map { _ =>
      val t0 = System.nanoTime(); one.collect(); (System.nanoTime() - t0) / 1e6
    })

  def cachedOneRow(spark: SparkSession): DataFrame = {
    val one = spark.range(1).toDF("x").cache()
    one.collect()
    one
  }

  /** Storage memory (plus any spilled-to-disk share) held by persisted
    * blocks, in MB. A GC first lets Spark's ContextCleaner drop blocks
    * nothing references any more, so only held state is counted. */
  def cachedMb(spark: SparkSession, spans: Spans): Double =
    spans.timed("cached_mb")(_ => {
      System.gc()
      Thread.sleep(1000)
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    })._1

  def diskMb(path: String): Double = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0.0
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum / 1e6
      finally s.close()
    }
  }

  /** Catalyst time of an executed plan: analysis + optimization + planning
    * from its `QueryPlanningTracker`. */
  def planMs(df: org.apache.spark.sql.Dataset[_]): Double = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
  }
}
