package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.ingest.Store
import graft.search.Bm25

/** Incrementally-maintainable BM25 index — the segment design that lets a
  * delta import refresh sparse search WITHOUT rebuilding the corpus index
  * (the reference's delta imports re-upsert only changed points into
  * Qdrant's sparse index, `scripts/indexing.py:214-260`; a full rebuild
  * per delta would be the one thing a 100 TB corpus can never afford).
  *
  * Why [[Bm25Index]] can't append: it bakes idf and length normalization
  * into per-posting impact weights at build time, so ANY new document —
  * which changes n_docs, avgdl and every matched term's df — invalidates
  * every stored weight. This index keeps the two halves apart:
  *
  *   - `seg/<k>/`  postings (term, id, dl, tf) — raw, corpus-stat-free,
  *     hence IMMUTABLE once written. Append-only; each delta becomes the
  *     next segment, term-range-sorted with a bloom filter on term so
  *     `term IN (...)` still prunes at every segment's scan.
  *   - `stats/v=<k>/`  merged term df + (n_docs, sum_dl), rewritten per
  *     append — vocabulary-sized, a vanishing fraction of the postings.
  *
  * The committed version is max(v) under `stats/`: an append writes its
  * segment FIRST and publishes `stats/v=<k+1>` last, so a crash (or a
  * concurrent reader) between the two sees the old version and ignores
  * the half-appended segment — old artifacts are never touched.
  *
  * Queries read segments `0..v-1` + the v-stats and apply idf/length
  * normalization at query time: one pushed-In+bloom scan per segment
  * (unioned), one broadcast join against the |query terms| df rows, one
  * partial-aggregated shuffle on id. Scoring math is bit-identical to
  * [[Bm25.score]]/[[Bm25Index.build]] — same formula, same operation
  * order; `sum_dl` is an exact int64 so `avgdl = sum_dl / n_docs` equals
  * the built avg — so an incrementally-grown index returns HASH-EXACT the
  * results of a from-scratch build (IndexSpec pins it; the s3c oracle is
  * the plain whole-corpus BM25 SQL).
  *
  * Semantics: append-mostly (new doc ids), plus mark-and-filter
  * [[delete]] — tombstoned docs leave results immediately, stats stay
  * stale until [[compact]] reclaims postings and recomputes them
  * (Lucene's exact deleted-doc behavior). Replacing a document is
  * delete + append under the document's next version id.
  */
object IncrementalBm25 extends SegmentFamily {

  // v2: commit protocol change (stats versions publish via the atomic
  // _COMMITTED marker) — v1 artifacts carry no marker and must not be
  // reused
  val Name = "bm25_inc_v2"

  protected val commitDir = "stats"
  protected def entryName(k: Int): String = s"seg/$k"
  protected val segmentKinds = Seq("seg")
  protected val owner = "bm25"

  /** Raw per-(term, doc) postings: corpus-stat-free, safe to freeze. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))

  private def statsDir(root: String, v: Int) =
    SegmentStore.versionDir(commitBase(root), v)
  private def segDir(root: String, k: Int) = s"$root/seg/$k"

  /** Merged stats of version `v`: (term df, corpus (n_docs, sum_dl)). */
  private def readStats(spark: SparkSession, root: String,
                        v: Int): (DataFrame, DataFrame) =
    (spark.read.parquet(s"${statsDir(root, v)}/termstats"),
      spark.read.parquet(s"${statsDir(root, v)}/corpus"))

  /** Stats recomputed from surviving postings — the merge moment where
    * stale df/n_docs/avgdl catch up. Postings are distinct on (term, id),
    * so count(1) == countDistinct(id), and (id, dl) pairs are unique per
    * doc. */
  private def statsFrom(postings: DataFrame, idCol: String): (DataFrame, DataFrame) =
    (postings.groupBy(col("term")).agg(count(lit(1)).as("df")),
      postings.select(col(idCol), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl")))

  /** Write stats into version `v`'s dir; termstats keep the term-sorted
    * bloom seek layout. */
  private def writeStats(root: String, v: Int,
                         stats: (DataFrame, DataFrame)): Unit = {
    Store.optimizeLayout(stats._1, s"${statsDir(root, v)}/termstats",
      Seq("term"), 1, bloomCols = Seq("term"))
    stats._2.coalesce(1).write.mode("overwrite")
      .parquet(s"${statsDir(root, v)}/corpus")
  }

  /** Operational health of a mutable BM25 root — the gauge that makes
    * the family's STALE-STATS contract operable: deletes/upserts/partial
    * folds leave df/n_docs/avgdl counting dead document versions by
    * design (Lucene's deleted-docs-before-merge, [[delete]]/[[tailFold]]
    * scaladocs), and until now nothing surfaced HOW stale — an operator
    * who only ever partial-folds never learns scoring is drifting.
    * `stats_drift_docs` = `stats_n_docs` − `live_n_docs` (documents the
    * stats count that no longer serve: deleted survivors-to-be plus one
    * per upsert's dead version); when its share of `stats_n_docs` grows
    * past the operator's tolerance, a FULL fold ([[tailFold]] keep=0) or
    * [[compact]] is the merge moment that zeroes it. Costs one distinct
    * count over the surviving postings — an admin-route price, not a
    * serving-path one. */
  def stats(spark: SparkSession, root: String,
            idCol: String): Map[String, Long] = {
    val v = requireLive(root)
    val statsNDocs = readStats(spark, root, v)._2
      .select(col("n_docs")).head().getLong(0)
    val liveNDocs = liveRows(spark, root, idCol).select(col(idCol))
      .distinct().count()
    val nTombs = tombIds(spark, root).map(_.count()).getOrElse(0L)
    Map(
      "index_version" -> v.toLong,
      "tombstone_ledger_version" -> SegmentStore.tombVersion(tombsBase(root)).toLong,
      "read_fan_in" -> fanIn(root).toLong,
      "n_tombstoned_ids" -> nTombs,
      "stats_n_docs" -> statsNDocs,
      "live_n_docs" -> liveNDocs,
      "stats_drift_docs" -> (statsNDocs - liveNDocs))
  }

  /** Build segment 0 + stats v=1. `tag` is an optional idempotence tag
    * committed atomically with the version (see [[committedHasTag]]). */
  def init(docs: DataFrame, idCol: String, textCol: String, root: String,
           numFiles: Int = 8, tag: Option[String] = None): Unit =
    initSegment(root, tag)(writeSegment(docs, idCol, textCol, root, numFiles))

  /** Append a delta as the next segment and publish merged stats. Doc ids
    * must be new (append-only semantics — see scaladoc). */
  def append(delta: DataFrame, idCol: String, textCol: String, root: String,
             numFiles: Int = 8, tag: Option[String] = None): Unit =
    appendSegment(root, tag)(writeSegment(delta, idCol, textCol, root, numFiles))

  /** Postings segment first, then the merged stats of version v+1 — both
    * invisible until the version publishes. */
  private def writeSegment(docs: DataFrame, idCol: String, textCol: String,
                           root: String, numFiles: Int)(s: SegmentFamily.Slot): Unit = {
    val spark = docs.sparkSession
    Store.optimizeLayout(postingsOf(docs, idCol, textCol), segDir(root, s.phys),
      Seq("term", idCol), numFiles, bloomCols = Seq("term"))
    // re-read what was written: one source of truth for the merge
    val dfreq = spark.read.parquet(segDir(root, s.phys))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(TextOps.tokens(col(textCol))).cast("long")).as("sum_dl"))
    writeStats(root, s.v + 1,
      if (s.v == 0) (dfreq, corpus)
      else {
        val (oldDf, oldCorpus) = readStats(spark, root, s.v)
        (oldDf.unionByName(dfreq).groupBy(col("term")).agg(sum(col("df")).as("df")),
          oldCorpus.unionByName(corpus)
            .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
      })
  }

  /** Mark documents DELETED — Lucene's exact deleted-doc semantics: the
    * tombstoned doc's postings are excluded from every [[topK]] from this
    * moment on (it can never be returned), but the corpus statistics
    * (df / n_docs / avgdl) stay STALE — they still count the deleted
    * docs — until [[compact]] physically reclaims the postings and
    * recomputes the stats from the survivors. That is literally how
    * Lucene serves deletes before a segment merge, and it keeps the
    * pre-compaction read SQL-replayable (whole-corpus stats CTEs +
    * a tombstone WHERE on the scoring rows — the s3e oracle). A later
    * re-insert of the same id serves (Lucene delete-then-add).
    * Idempotent via `tag`. */
  def delete(ids: DataFrame, idCol: String, root: String,
             tag: Option[String] = None): Unit =
    deleteIds(ids, idCol, root, tag)

  /** UPSERT — update a document IN PLACE by id: Lucene's update IS
    * delete + add, and this is exactly that under one idempotence tag —
    * a versioned tombstone (old postings die at their horizon) plus a
    * same-id [[append]] (the new text serves from its own segment).
    * Stats semantics follow the delete contract one step further: until
    * [[compact]] recomputes from survivors, df/n_docs/avgdl count BOTH
    * versions (the append merged the new version's increments in, the
    * old version's were never subtracted) — the s3f oracle states that
    * double-counted interim exactly, and compaction is the merge moment
    * where the stats catch up. */
  def upsert(delta: DataFrame, idCol: String, textCol: String, root: String,
             numFiles: Int = 8, tag: Option[String] = None): Unit =
    upsertRows(delta, idCol, root, tag)(
      append(delta, idCol, textCol, root, numFiles, tag))

  /** Surviving postings with their logical `__seg`. */
  private def liveRows(spark: SparkSession, root: String, idCol: String,
                       es: Seq[SegmentStore.ManifestEntry] = Nil): DataFrame =
    filterTombs(tombIds(spark, root),
      tagged(if (es.isEmpty) entries(root) else es)(e =>
        spark.read.parquet(kindDir(root, "seg", e))), idCol)

  /** BM25 top-k across all committed segments, idf/length-norm applied at
    * query time from the merged stats — hash-exact the full-rebuild
    * scores (with tombstones: survivors' scores, stale stats — see
    * [[delete]]). */
  def topK(spark: SparkSession, root: String, idCol: String,
           terms: Seq[String], k: Int): DataFrame = {
    val v = requireLive(root)
    val (termstats, corpus) = readStats(spark, root, v)
    val stats = corpus.select(col("n_docs"),
      (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val dfreq = termstats.where(col("term").isin(terms: _*)) // |terms| rows
    filterTombs(tombIds(spark, root),
        tagged(entries(root))(e => spark.read.parquet(kindDir(root, "seg", e)))
          .where(col("term").isin(terms: _*)), // pushed: In(term, ...) + bloom
        idCol)
      .drop("__seg")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(Bm25.K1 + 1)) /
          (col("tf") + lit(Bm25.K1) *
            (lit(1 - Bm25.B) + lit(Bm25.B) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Latest-version idempotence check: a writer passes its batch id as the
    * `tag` of [[init]]/[[append]] and skips a redelivered batch whose tag
    * is on the CURRENT version. A crash before the marker leaves no
    * committed tag, and the retried append overwrites the orphan segment
    * at the same number: exactly-once in effect. Lifecycle steps and the
    * streaming loops check every committed version ([[tagCommitted]]),
    * since one trigger publishes several versions. */
  override def committedHasTag(root: String, tag: String): Boolean = {
    val v = version(root)
    v > 0 && SegmentStore.hasTag(commitBase(root), v, tag)
  }

  /** Compact all committed segments into a single fresh one. Queries pay
    * one scan task set per segment, so a long-running streaming ingest
    * (one segment per micro-batch) eventually wants its tail folded —
    * the standard LSM discipline. Survivors are written as the new seg/0
    * of a fresh root and the CURRENT stats republish as its v=1 —
    * recomputed from the survivors when deletes were applied, so the
    * fresh root serves scores hash-exact a rebuild without the deleted
    * docs and starts with a clear ledger. Building into `newRoot` keeps
    * the old index readable throughout — callers swap the root pointer
    * when done. */
  def compact(spark: SparkSession, root: String, newRoot: String,
              idCol: String, numFiles: Int = 8,
              tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "bm25-compact") {
      val v = requireLive(root)
      Store.optimizeLayout(liveRows(spark, root, idCol).drop("__seg"),
        segDir(newRoot, 0), Seq("term", idCol), numFiles,
        bloomCols = Seq("term"))
      writeStats(newRoot, 1,
        if (SegmentStore.tombVersion(tombsBase(root)) == 0) readStats(spark, root, v)
        else statsFrom(spark.read.parquet(segDir(newRoot, 0)), idCol))
      SegmentStore.publish(commitBase(newRoot), 1, tag)
    }

  /** Size-tiered auto-compaction trigger: when the segment count exceeds
    * `maxSegments`, fold into a fresh versioned root and return it for
    * the caller to swap its pointer to; otherwise return `root`. */
  def compactIfNeeded(spark: SparkSession, root: String, idCol: String,
                      maxSegments: Int, tag: Option[String] = None): String =
    SegmentStore.compactIfNeeded(root, version(root), maxSegments)(
      compact(spark, root, _, idCol, tag = tag))

  /** TAIL-FOLD ([[SegmentFamily]]'s reclaiming fold): every postings
    * segment past the first `keep` folds into ONE fresh segment in this
    * root, dead postings reclaimed, the term-sorted bloom layout kept so
    * pushed `term IN (...)` pruning survives folds.
    *
    * Stats follow the family's delete contract: a PARTIAL fold
    * (`keep >= 1`) republishes the current stats VERBATIM — reclaiming
    * dead tail postings changes which rows score exactly like the
    * read-side filter did, while df/n_docs/avgdl stay stale until a full
    * merge. A FULL fold (`keep = 0`) IS the merge moment: stats are
    * recomputed from the survivors and the absorbed ledger history is
    * rebased away — the [[compact]] catch-up without a new root. */
  def tailFold(spark: SparkSession, root: String, idCol: String,
               keep: Int = 1, numFiles: Int = 8,
               tag: Option[String] = None): Unit =
    foldTail(root, keep, tag, reorganize = false) { f =>
      Store.optimizeLayout(liveRows(spark, root, idCol, f.tail).drop("__seg"),
        segDir(root, f.phys), Seq("term", idCol), numFiles,
        bloomCols = Seq("term"))
      writeStats(root, f.v + 1,
        if (keep == 0) statsFrom(spark.read.parquet(segDir(root, f.phys)), idCol)
        else readStats(spark, root, f.v))
    }

  /** Size-tiered trigger for [[tailFold]] ([[SegmentFamily]]'s fan-in
    * trigger; returns the ladder-fit warning).
    *
    * `driftFoldShare` closes the loop from the [[stats]] gauge to an
    * ACTION: when the stale-stats drift share
    * `stats_drift_docs / stats_n_docs` exceeds the given fraction, this
    * trigger escalates to the FULL merge moment ([[tailFold]] keep=0 —
    * stats recomputed from the surviving postings, drift back to 0)
    * regardless of fan-in, so a delete-heavy CDC stream catches its
    * scoring statistics up without an operator call. The default 1.0
    * disables the check and its cost (one distinct count over surviving
    * postings per trigger — an operator opting in pays it knowingly;
    * partial folds stay metadata-cheap). */
  def tailFoldIfNeeded(spark: SparkSession, root: String, idCol: String,
                       maxSegments: Int, keep: Int = 1,
                       tag: Option[String] = None,
                       driftFoldShare: Double = 1.0): Option[String] = {
    require(driftFoldShare > 0.0 && driftFoldShare <= 1.0,
      s"driftFoldShare must be in (0, 1], got $driftFoldShare " +
        "(1.0 disables the drift check)")
    val driftTripped = driftFoldShare < 1.0 && {
      val st = stats(spark, root, idCol)
      st("stats_n_docs") > 0 &&
        st("stats_drift_docs").toDouble / st("stats_n_docs") > driftFoldShare
    }
    if (driftTripped) {
      tailFold(spark, root, idCol, keep = 0, tag = tag)
      None
    } else foldIfNeeded(root, maxSegments, keep)(
      tailFold(spark, root, idCol, _, tag = tag))
  }

  /** Ensure an incrementally-GROWN documents index for `dataDir`: half the
    * corpus at init, the rest appended — exercising the real maintenance
    * path while staying oracle-checkable against whole-corpus SQL. */
  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name)(grow(spark, dataDir, _))

  /** Even doc ids at init, odd ones appended — the grown root every
    * fixture here starts from; returns the documents table. */
  private def grow(spark: SparkSession, dataDir: String, p: String): DataFrame = {
    val all = graft.tables.Tables.documents(spark, dataDir)
    init(all.where(col("doc_id") % 2 === 0), "doc_id", "text", p)
    append(all.where(col("doc_id") % 2 === 1), "doc_id", "text", p)
    all
  }

  /** Every doc with a +1 neighbor, carrying the neighbor's text. */
  private def neighborTexts(all: DataFrame): DataFrame =
    all.as("a")
      .join(all.select(col("doc_id").as("nid"), col("text").as("ntext")),
        col("a.doc_id") + 1 === col("nid"))
      .select(col("a.doc_id").as("doc_id"), col("ntext").as("text"))

  private def sevenths(all: DataFrame): DataFrame =
    all.where(pmod(col("doc_id"), lit(7)) === 3).select(col("doc_id"))

  val UpsertName = "bm25_upsert_v1"

  /** [[ensure]]'s grown index with a same-id document UPSERT applied —
    * memoized for the `s3f_bm25_upsert` oracle: every doc_id % 11 == 5
    * (with a +1 neighbor) takes its neighbor's TEXT in place. Serving
    * reads score the CURRENT texts under the documented interim stats
    * (both versions counted until compaction). */
  def ensureUpserted(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, UpsertName) { p =>
      val all = grow(spark, dataDir, p)
      upsert(neighborTexts(all).where(pmod(col("doc_id"), lit(11)) === 5),
        "doc_id", "text", p, tag = Some("demo_upsert"))
    }

  val TailFoldName = "bm25_tailfold_v1"

  /** Grown index with a delete + a same-id upsert and then a TAIL-FOLD
    * (keep = 1) — memoized for the `s3i_bm25_tailfold` oracle. A partial
    * fold is pure postings reorganization under the family's stale-stats
    * contract: dead tail postings are physically reclaimed (same rows
    * the read-side filter excluded) and the stats republish VERBATIM, so
    * the read must equal the s3f-style interim SQL (stats over originals
    * ∪ new versions, scoring rows over current texts) minus the deleted
    * docs. Delete and upsert sets are disjoint so the oracle composes. */
  def ensureTailFolded(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TailFoldName) { p =>
      val all = grow(spark, dataDir, p)
      delete(sevenths(all), "doc_id", p, tag = Some("demo_tf_delete"))
      upsert(neighborTexts(all).where(pmod(col("doc_id"), lit(11)) === 5 &&
          pmod(col("doc_id"), lit(7)) =!= 3),
        "doc_id", "text", p, tag = Some("demo_tf_upsert"))
      tailFold(spark, p, "doc_id", keep = 1, tag = Some("demo_tf_fold"))
    }

  val TombName = "bm25_tomb_v1"

  /** [[ensure]]'s grown index with a committed tombstone segment on top
    * (doc_id % 7 == 3 deleted) — memoized for the `s3e_bm25_tombstone`
    * oracle: survivors' scores under STALE whole-corpus stats, i.e. the
    * plain corpus BM25 SQL plus a tombstone WHERE on the result. */
  def ensureTombstoned(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TombName) { p =>
      delete(sevenths(grow(spark, dataDir, p)), "doc_id", p,
        tag = Some("demo_delete"))
    }
}
