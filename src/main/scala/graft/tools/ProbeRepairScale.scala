package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.IncrementalKnn
import graft.search.Ann
import graft.streaming.DeltaStream

/** Measure the delete→repair maintenance cost against the rebuild it
  * replaces, at two corpus scales — the evidence for the "repair is the
  * cheap path" claim in PLANS/BENCHNOTES. Usage:
  *
  *   runMain graft.tools.ProbeRepairScale [sfDir] [nDel]
  *
  * Builds a two-segment incremental graph over the sf's embeddings,
  * deletes `nDel` ids that are someone's stored neighbor (guaranteed
  * holes), then times: the tombstone write, the repair (one columnar
  * corpus scan to find holes + delta-shaped recompute), the healed read,
  * and — for comparison — the full rebuild (`Ann.knnGraph` over the
  * survivors) the repair makes unnecessary. The append, delete and
  * repair go through the same family binding the streaming maintenance
  * step drives on a delete-carrying trigger (`DeltaStream.knn`). Emits
  * ONE JSON line. The interesting ratio is repair/rebuild at growing
  * sf: the rebuild's candidate join grows with corpus × probed-list
  * size, the repair's recompute only with deleted degree.
  */
object ProbeRepairScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nDel = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val emb = graft.tables.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-repscale").toString + "/g"

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val knn = DeltaStream.knn(spark, 3, 5)
    val (_, tBuild) = timed {
      IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
      knn.append(emb.where(col("vec_id") % 2 === 1), root, "b1")
    }
    // ids that are stored neighbors (holes guaranteed), spread over srcs
    val dels = IncrementalKnn.edges(spark, root, 5)
      .where(col("rank") < 5).select(col("dst")).distinct()
      .orderBy(col("dst")).limit(nDel)
      .collect().map(_.getLong(0)).toSeq
    val (_, tDelete) = timed {
      knn.delete(dels.toDF("vec_id"), root, "p1")
    }
    val (_, tRepair) = timed {
      knn.repair(root, "r1")
    }
    val (healedRows, tRead) = timed {
      IncrementalKnn.edges(spark, root, 5).count()
    }
    val (rebuildRows, tRebuild) = timed {
      Ann.knnGraph(emb.where(!col("vec_id").isin(dels: _*)), centroids, 3, 5)
        .count()
    }
    require(healedRows == rebuildRows,
      s"healed $healedRows != rebuilt $rebuildRows")
    println(
      s"""{"metric":"repair_scale","sf":"$sfDir","n_vectors":$n,""" +
      s""""n_deleted":$nDel,"build_sec":${f"$tBuild%.2f"},""" +
      s""""delete_sec":${f"$tDelete%.2f"},"repair_sec":${f"$tRepair%.2f"},""" +
      s""""healed_read_sec":${f"$tRead%.2f"},"rebuild_sec":${f"$tRebuild%.2f"},""" +
      s""""edges":$healedRows}""")
    spark.stop()
  }
}
