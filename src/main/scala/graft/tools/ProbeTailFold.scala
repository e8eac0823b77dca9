package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IncrementalIvf, SegmentStore}
import graft.streaming.DeltaStream

/** Measure WRITE AMPLIFICATION of the two compaction modes on the same
  * ingest stream — the evidence for the "tail-fold bounds write cost"
  * claim in PLANS/BENCHNOTES. Usage:
  *
  *   runMain graft.tools.ProbeTailFold [sfDir] [maxSegments]
  *
  * Builds an IVF root from 60% of the sf's embeddings, then appends 8
  * small disjoint batches; after every append the maintenance trigger
  * runs in one of two modes:
  *
  *   - `full`: fold EVERYTHING into a sibling root + pointer-swap +
  *     retire;
  *   - `tail`: the size-tiered manifest fold (fold only the tail past
  *     the first segment, in place).
  *
  * Appends and both triggers are the streaming maintenance step's own,
  * through its IVF binding (`DeltaStream.ivf`), tagged like a loop's.
  *
  * Bytes written per trigger are measured directly (tree walk before/
  * after; files not present before count their full size), so the
  * number is the actual I/O the mode costs, not a model. Both modes
  * end with identical served top-k (asserted) — the probe also doubles
  * as an equivalence check at probe scale. Emits ONE JSON line. The
  * interesting ratio is full/tail bytes: full re-copies the big init
  * prefix on every trigger, tail never touches it, so the ratio grows
  * linearly with corpus/batch — at 100 TB it is the difference between
  * a compaction schedule and an outage.
  */
object ProbeTailFold {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxSegments = args.lift(1).map(_.toInt).getOrElse(3)
    // batch size = corpus/denom — the dial the full/tail ratio follows
    // (per trigger: full ≈ corpus bytes, tail ≈ maxSegments·batch bytes,
    // so ratio ≈ denom/maxSegments; production micro-batches are a far
    // smaller corpus fraction than any denom this probe can afford)
    val denom = args.lift(2).map(_.toInt).getOrElse(32)
    val triggers = args.lift(3).map(_.toInt).getOrElse(8)
    require(triggers < denom, "base residues must not overlap batches")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = graft.tables.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val base = emb.where(pmod(col("vec_id"), lit(denom)) >= lit(triggers))
    def batch(i: Int) = emb.where(pmod(col("vec_id"), lit(denom)) === i)

    def filesOf(dir: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) return Map.empty
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => (f.toString, java.nio.file.Files.size(f))).toMap
    }

    def run(mode: String): (String, Long, Double) = {
      val area = java.nio.file.Files
        .createTempDirectory(s"graft-wamp-$mode").toString
      var root = s"$area/idx"
      val ivf = DeltaStream.ivf(spark)
      IncrementalIvf.init(base, centroids, root)
      var bytes = 0L
      var secs = 0.0
      for (i <- 0 until triggers) {
        ivf.append(batch(i), root, s"batch_$i")
        val before = filesOf(area)
        val t0 = System.nanoTime()
        ivf.fold(root, maxSegments, inPlace = mode == "tail", i).foreach { nr =>
          SegmentStore.retire(root); root = nr }
        secs += (System.nanoTime() - t0) / 1e9
        bytes += filesOf(area).collect {
          case (f, sz) if !before.contains(f) => sz
        }.sum
      }
      (root, bytes, secs)
    }

    val (fullRoot, fullBytes, fullSecs) = run("full")
    val (tailRoot, tailBytes, tailSecs) = run("tail")

    // equivalence at probe scale: both maintenance schedules serve the
    // same top-k (manifest fold is invisible to the read)
    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    def hits(r: String) = IncrementalIvf.topK(spark, r, qv, 3, 15)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    require(hits(fullRoot) == hits(tailRoot) && hits(fullRoot).nonEmpty,
      "modes diverged")

    val baseBytes = filesOf(fullRoot).values.sum
    println(s"""{"probe":"tailfold_wamp","sf":"${sfDir.split('/').last}",""" +
      s""""n_vectors":$n,"max_segments":$maxSegments,"batch_denom":$denom,""" +
      s""""triggers":$triggers,""" +
      s""""full_bytes":$fullBytes,"tail_bytes":$tailBytes,""" +
      s""""ratio":${BigDecimal(fullBytes.toDouble / math.max(tailBytes, 1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble},""" +
      s""""full_secs":${BigDecimal(fullSecs).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble},""" +
      s""""tail_secs":${BigDecimal(tailSecs).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble},""" +
      s""""corpus_bytes":$baseBytes}""")
    spark.stop()
  }
}
