package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Store
import graft.search.Ann
import graft.tables.Tables

/** Incrementally-maintainable IVF index — the dense member of the
  * [[SegmentFamily]] lifecycle (the reference's delta imports upsert only changed
  * points into Qdrant's HNSW graph, `scripts/indexing.py:214-260`; a full
  * IVF rebuild per delta is the thing a 100 TB vector corpus can never
  * afford).
  *
  * The split is even cleaner than BM25's: IVF assignment of a vector
  * depends ONLY on the (frozen-at-init) centroid set, never on corpus
  * statistics — so a segment of assigned vectors is immutable AND the
  * union of segment assignments is bit-identical to a whole-corpus
  * rebuild against the same centroids. No per-append stats rewrite is
  * needed at all; the versioned half reduces to the commit marker itself:
  *
  *   - `centroids/`      written once at init, immutable thereafter.
  *   - `seg/<k>/`        (vec_id, embedding) PARTITIONED BY cid — probing
  *                       reads only the probed lists of each segment.
  *   - `commit/v=<k>/`   empty version dirs: `_COMMITTED` (atomic marker)
  *                       plus optional `_tag_*` idempotence tags.
  *
  * An append writes its segment FIRST and publishes `commit/v=<k+1>`
  * last, so a crash (or concurrent reader) between the two sees the old
  * version and ignores the half-appended segment. Queries read segments
  * `0..v-1`; scoring goes through the same [[Ann.ivfTopKAssigned]] plan
  * as the monolithic index, so a grown index returns HASH-EXACT the
  * results of a from-scratch build (IndexSpec pins it; the a17 oracle is
  * the same whole-corpus IVF SQL as a1's).
  *
  * Drift caveat (design note for 100 TB): frozen centroids mean list-size
  * balance degrades as the ingested distribution drifts; the production
  * answer is [[retrain]] into a fresh root (the [[compact]] mechanics
  * with new centroids), swapped behind the same publish-last
  * discipline.
  */
object IncrementalIvf extends SegmentFamily {

  val Name = "ivf_inc_v1"

  protected val commitDir = "commit"
  protected def entryName(k: Int): String = s"seg/$k"
  protected val segmentKinds = Seq("seg")
  protected val owner = "ivf"

  private def segDir(root: String, k: Int) = s"$root/seg/$k"

  private def writeSegment(assigned: DataFrame, path: String): Unit =
    assigned.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("cid")
      .parquet(path)

  /** Freeze `centroids` (cid, cvec) and write segment 0 from `vectors`
    * (vec_id, embedding). `tag` is an optional idempotence tag committed
    * atomically with the version. Like every mutator here, runs under
    * the root's writer lease ([[SegmentStore.withWriterLease]] — the
    * single-writer contract, checked). */
  def init(vectors: DataFrame, centroids: DataFrame, root: String,
           tag: Option[String] = None): Unit =
    initSegment(root, tag) { s =>
      centroids.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$root/centroids")
      writeSegment(Ann.ivfAssign(vectors, readCentroids(vectors.sparkSession, root)),
        segDir(root, s.phys))
    }

  /** Append a delta of new vectors as the next segment, assigned against
    * the frozen centroids. Vec ids must be unseen-or-tombstoned
    * (replacing a LIVE vector in place is [[upsert]]; dead rows reclaim
    * at [[compact]]). */
  def append(delta: DataFrame, root: String,
             tag: Option[String] = None): Unit =
    appendSegment(root, tag)(s => writeSegment(
      Ann.ivfAssign(delta, readCentroids(delta.sparkSession, root)),
      segDir(root, s.phys)))

  def readCentroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/centroids")

  /** Explicit segment schema: partition-value inference would type the
    * cid dirs as INT, and the resulting cast(cid as bigint) under the
    * probe join lands on the SCAN side — killing dynamic partition
    * pruning. Pinning cid to long keeps the join key the raw partition
    * column (PlanShapeSpec asserts the pruning subquery). */
  private val segSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType)))

  /** Mark vectors DELETED — mark-and-filter like [[IncrementalKnn
    * .delete]], but here exclusion IS full rebuild semantics: IVF
    * assignment is per-vector independent (frozen centroids), so the
    * filtered read equals an index rebuilt without the deleted vectors —
    * no staleness caveat at all. A later re-insert of the same id — a
    * new document, or [[upsert]]'s new version — serves from its own
    * segment (Lucene delete-then-add). [[compact]]/[[retrain]] read
    * through the filter, so they physically reclaim the rows and their
    * fresh roots start with a clear ledger. Idempotent via `tag`. */
  def delete(ids: DataFrame, root: String, tag: Option[String] = None): Unit =
    deleteIds(ids, "vec_id", root, tag)

  /** UPSERT — update vectors IN PLACE by id (Qdrant's point overwrite):
    * a versioned tombstone kills the old rows at their horizon, the
    * same-id append serves the new version from its own segment on. For
    * IVF this is EXACT from the same call — assignment is per-vector
    * independent, so the filtered read equals a rebuild with the current
    * vectors (no stale candidate pairs exist to repair; `a17c` states it
    * in SQL). Idempotent via `tag`. */
  def upsert(delta: DataFrame, root: String,
             tag: Option[String] = None): Unit =
    upsertRows(delta, "vec_id", root, tag)(append(delta, root, tag))

  /** Live assignment rows (cid, vec_id, embedding) of `es` (default: every
    * committed segment). One read per segment root — each is its own
    * cid-partitioned table, and a single multi-path read would refuse to
    * infer the partitioning — unioned with per-row LOGICAL segment
    * provenance: the cid probe predicate pushes into EVERY arm's
    * partition filters, so each segment still prunes to its probed list
    * dirs. */
  private def liveAssigned(spark: SparkSession, root: String,
                           es: Seq[SegmentStore.ManifestEntry]): DataFrame =
    filterTombs(tombIds(spark, root), tagged(es) { e =>
      val p = kindDir(root, "seg", e)
      spark.read.option("basePath", p).schema(segSchema).parquet(p)
    }, "vec_id").drop("__seg")

  def readAssigned(spark: SparkSession, root: String): DataFrame = {
    requireLive(root)
    liveAssigned(spark, root, entries(root))
  }

  /** IVF top-k across all committed segments — the same
    * [[Ann.ivfTopKAssigned]] plan as the monolithic index, so results are
    * hash-exact vs a full rebuild against the same centroids. */
  def topK(spark: SparkSession, root: String, queryVec: DataFrame,
           nprobe: Int, k: Int): DataFrame =
    Ann.ivfTopKAssigned(readAssigned(spark, root),
      readCentroids(spark, root), queryVec, nprobe, k)

  /** Fold all committed segments into a single fresh segment under
    * `newRoot` (assignment rows are the same multiset, so served scores
    * are hash-identical), re-publishing the frozen centroids as-is. The
    * old root stays readable throughout (its lease quiesces deletes that
    * would otherwise vanish mid-read); callers swap the root pointer when
    * done. Reads through the tombstone filter, so deleted vectors are
    * physically dropped and the fresh root starts with a clear ledger. */
  def compact(spark: SparkSession, root: String, newRoot: String,
              tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "ivf-compact") {
      requireLive(root)
      readCentroids(spark, root).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$newRoot/centroids")
      writeSegment(readAssigned(spark, root), segDir(newRoot, 0))
      SegmentStore.publish(commitBase(newRoot), 1, tag)
    }

  /** Size-tiered auto-compaction trigger: fold when segment count exceeds
    * `maxSegments`, return the root to read from. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxSegments: Int, tag: Option[String] = None): String =
    SegmentStore.compactIfNeeded(root, version(root), maxSegments)(
      compact(spark, root, _, tag = tag))

  /** TAIL-FOLD ([[SegmentFamily]]'s reclaiming fold): every segment past
    * the first `keep` folds into ONE fresh physical segment IN THIS ROOT,
    * the prefix untouched — the bounded-write-amplification compaction
    * docs/PLANS.md designed. Write cost is O(tail bytes); [[compact]]'s
    * full fold — the deep clean that resets storage into a fresh root —
    * stays O(corpus), which is why a steady-state ingest runs THIS
    * between rare deep cleans. Idempotent via `tag`. */
  def tailFold(spark: SparkSession, root: String, keep: Int = 1,
               tag: Option[String] = None): Unit =
    foldTail(root, keep, tag, reorganize = false) { f =>
      writeSegment(liveAssigned(spark, root, f.tail)
        .select(col("vec_id"), col("embedding"), col("cid")),
        segDir(root, f.phys))
    }

  /** Size-tiered trigger for [[tailFold]] ([[SegmentFamily]]'s read
    * fan-in trigger): returns the ladder-fit warning. */
  def tailFoldIfNeeded(spark: SparkSession, root: String, maxSegments: Int,
                       keep: Int = 1,
                       tag: Option[String] = None): Option[String] =
    foldIfNeeded(root, maxSegments, keep)(tailFold(spark, root, _, tag))

  /** Centroid RETRAIN — the production answer to the frozen-centroid
    * drift caveat in the object doc: re-fit kmeans centroids on the
    * CURRENT corpus (union of all committed segments), reassign every
    * vector against them, and publish the result as a fresh single-
    * segment root. The old root stays readable throughout and callers
    * swap their pointer when done — compaction with new centroids, behind
    * the same publish-last discipline. Served results are exactly a
    * from-scratch trained build over the same corpus (same kmeans path
    * as [[IvfIndex.buildTrained]], same [[Ann.ivfAssign]] arithmetic —
    * IndexSpec pins retrained ≡ rebuilt). */
  def retrain(spark: SparkSession, root: String, newRoot: String,
              k: Int): Unit = SegmentStore.withWriterLease(root, "ivf-retrain") {
    val corpus = readAssigned(spark, root)
      .select(col("vec_id"), col("embedding"))
    val assembled = corpus.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("embedding")))
    val model = MlIndex.fitIvfCentroids(assembled, k)
    val centroidRows = model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i.toLong, c.toArray.map(_.toFloat))
    }
    import spark.implicits._
    centroidRows.toSeq.toDF("cid", "cvec").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$newRoot/centroids")
    writeSegment(Ann.ivfAssign(corpus, readCentroids(spark, newRoot)),
      segDir(newRoot, 0))
    SegmentStore.publish(commitBase(newRoot), 1, None)
  }

  /** Drift-triggered retrain — wires the a22 list-balance monitor to
    * [[retrain]]: when the worst list's balance (n·lists/total, the a22
    * definition — 1.0 is perfectly even) exceeds `maxBalance`, re-fit
    * into a fresh versioned sibling and return it for the caller to swap
    * its pointer to; otherwise return `root` unchanged. The balance scan
    * is one map-side-combined count over the assignment (list-count
    * rows to the driver, never vectors). `lists` is the CENTROID count,
    * not the non-empty-list count — a fully-collapsed assignment (every
    * vector in one list) must read as worst-case k, not as a perfectly
    * balanced single list. */
  def retrainIfImbalanced(spark: SparkSession, root: String, k: Int,
                          maxBalance: Double): String = {
    val lists = readCentroids(spark, root).count()
    val counts = readAssigned(spark, root)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("maxN"), sum(col("n")).as("total"))
      .head()
    val worst = counts.getLong(0).toDouble * lists / counts.getLong(1)
    if (worst <= maxBalance) root
    else {
      val newRoot = s"$root-r${version(root)}"
      retrain(spark, root, newRoot, k)
      newRoot
    }
  }

  /** Ensure an incrementally-GROWN embeddings index for `dataDir`: half
    * the vectors at init, the rest appended — exercising the real
    * maintenance path while staying oracle-checkable against the same
    * whole-corpus IVF SQL as a1 (centroids = stored vectors 0..9, the
    * engine-independent choice the DuckDB oracle can replay). */
  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name)(grow(spark, dataDir, _, 2))

  /** Segment 0 holds vec_id % parts == 0, each further residue one
    * append, against centroids = stored vectors 0..9; returns the
    * embeddings table. */
  private def grow(spark: SparkSession, dataDir: String, p: String,
                   parts: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dataDir)
    init(emb.where(col("vec_id") % parts === 0), emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")), p)
    (1 until parts).foreach(r => append(emb.where(col("vec_id") % parts === r), p))
    emb
  }

  /** Every vector with a +1 neighbor, carrying the neighbor's embedding. */
  private def neighborVectors(emb: DataFrame): DataFrame =
    emb.as("a")
      .join(emb.select(col("vec_id").as("nid"),
        col("embedding").as("nemb")), col("a.vec_id") + 1 === col("nid"))
      .select(col("a.vec_id").as("vec_id"), col("nemb").as("embedding"))

  private def sevenths(emb: DataFrame): DataFrame =
    emb.where(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id"))

  val UpsertName = "ivf_upsert_v1"

  /** [[ensure]]'s grown index with a same-id UPSERT applied — memoized
    * for the `a17c_ivf_upsert` oracle: every vec_id % 11 == 5 (with a +1
    * neighbor) takes its neighbor's embedding in place; the filtered
    * read must equal a17's IVF SQL over the CURRENT vectors (frozen
    * original centroids). */
  def ensureUpserted(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, UpsertName) { p =>
      val emb = grow(spark, dataDir, p, 2)
      upsert(neighborVectors(emb).where(pmod(col("vec_id"), lit(11)) === 5),
        p, tag = Some("demo_upsert"))
    }

  val TailFoldName = "ivf_tailfold_v1"

  /** Grown index with a delete + a same-id upsert applied and then a
    * TAIL-FOLD (keep = 1: segments 1..3 fold into one, the init segment
    * untouched) — memoized for the `a31_ivf_tailfold` oracle: the fold
    * is pure reorganization, so the read must STILL equal a17's IVF SQL
    * over the current vectors (deleted dropped, upserted replaced —
    * non-overlapping sets so the oracle composes the two WHEREs). */
  def ensureTailFolded(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TailFoldName) { p =>
      val emb = grow(spark, dataDir, p, 3)
      delete(sevenths(emb), p, tag = Some("demo_tf_delete"))
      upsert(neighborVectors(emb).where(pmod(col("vec_id"), lit(11)) === 5 &&
        pmod(col("vec_id"), lit(7)) =!= 3), p, tag = Some("demo_tf_upsert"))
      tailFold(spark, p, keep = 1, tag = Some("demo_tf_fold"))
    }

  val TombName = "ivf_tomb_v1"

  /** [[ensure]]'s grown index with a committed tombstone segment on top
    * (vec_id % 7 == 3 deleted) — memoized for the `a17b_ivf_tombstone`
    * oracle: IVF exclusion IS rebuild semantics (see [[delete]]), so the
    * oracle is a17's SQL with the deleted vectors dropped from the
    * assignment. */
  def ensureTombstoned(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TombName) { p =>
      delete(sevenths(grow(spark, dataDir, p, 2)), p, tag = Some("demo_delete"))
    }
}
