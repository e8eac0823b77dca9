package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import SegmentStore.{Manifest, ManifestEntry}

/** The segment lifecycle every incremental index family shares —
  * [[IncrementalBm25]], [[IncrementalIvf]] and [[IncrementalKnn]] keep one
  * live root current under appends, deletes, upserts and folds (the
  * reference keeps one live Qdrant collection current under delta imports
  * and re-upserts, `scripts/indexing.py:214-260`). Everything here runs
  * on [[SegmentStore]]'s commit protocol; a family supplies only what
  * differs:
  *
  *   - where its versions commit (`stats/` for BM25, whose versions carry
  *     the merged corpus stats; `commit/` for IVF and kNN) and how a
  *     physical segment is named in a manifest (`seg/<k>`, or a bare `<k>`
  *     shared by the graph family's five artifact kinds);
  *   - its segment schema, build and fold body, and its merged read;
  *   - its delete semantics on top of the shared tombstone horizon: IVF
  *     exclusion is rebuild-exact, kNN leaves rank holes until repair,
  *     BM25 keeps stale df until a full fold;
  *   - its extras (BM25 stats and drift, kNN repair and reclaiming fold,
  *     IVF and kNN retrain).
  *
  * The shared contract:
  *
  *   - '''Version and tags.''' The committed version is max(marked `v=N`)
  *     under the commit base; an idempotence tag publishes with its
  *     version, so an at-least-once writer skips a batch whose tag is
  *     committed ([[tagCommitted]]).
  *   - '''Segment list.''' Positional (`entryName(k)`, logical number k,
  *     for k < version) until the first fold publishes a manifest inside
  *     the commit version dir; from then on the committed manifest is the
  *     list. [[fanIn]] is its size, `logicalNext` the horizon a delete
  *     committed now carries, `tombRebase` the ledger version a full fold
  *     absorbed.
  *   - '''Appends''' write every artifact of the next physical segment and
  *     then publish version v+1; on manifest roots the new entry rides the
  *     same atomic marker.
  *   - '''Deletes and upserts''' commit tombstones with horizon
  *     `logicalNext` (rows of earlier segments die, a later re-insert
  *     serves); an upsert is that tombstone plus a same-id append under one
  *     tag. Readers drop a row when its id is tombstoned and its `__seg` is
  *     below the horizon.
  *   - '''Tail-fold''' folds every segment past the first `keep` into one
  *     fresh physical segment in the same root and publishes the new
  *     manifest with the version bump — O(tail) write cost, the prefix only
  *     referenced. A RECLAIMING fold (BM25, IVF, kNN's `reclaimFold`)
  *     bakes every visible kill into the folded rows, takes the next
  *     logical number (above every committed horizon, so old tombstones
  *     spare it without a ledger rewrite) and, when it folds everything
  *     (`keep = 0`), rebases the tombstone and repair ledgers. A
  *     REORGANIZING fold (kNN's `tailFold`) keeps each row's horizon as a
  *     stored `__seg` column under an entry with logical number -1 and
  *     consumes no number.
  *   - '''GC.''' Every fold first sweeps physical dirs that neither of the
  *     last two committed segment lists references — folded-away tails
  *     keep one fold generation of grace for in-flight readers, crashed
  *     appends' orphans go at the next fold.
  *   - '''Triggers.''' [[foldIfNeeded]] folds the suffix
  *     [[SegmentStore.tieredFoldStart]] picks once read fan-in exceeds
  *     `maxSegments`; a compaction into a fresh sibling root goes through
  *     [[SegmentStore.compactIfNeeded]].
  *
  * Every mutator holds the root's writer lease
  * ([[SegmentStore.withWriterLease]]), owner `<family>-<operation>`. */
trait SegmentFamily {
  import SegmentFamily.{Fold, Slot}

  /** Commit base directory under a root. */
  protected def commitDir: String
  /** Root-relative manifest entry naming physical segment `k`. */
  protected def entryName(k: Int): String
  /** Directories whose children are physical segments (the GC sweep set
    * and the size input of the fold ladder). */
  protected def segmentKinds: Seq[String]
  /** Family name in lease owners and messages. */
  protected def owner: String
  /** Smallest `keep` the family's tail-fold accepts (the trigger never
    * folds below it). */
  protected def minKeep: Int = 0
  /** Committed version of a repair ledger a full reclaiming fold absorbs
    * (graph family only). */
  protected def repairVersion(root: String): Int = 0

  final def commitBase(root: String): String = s"$root/$commitDir"
  final protected def tombsBase(root: String): String = s"$root/tombs"

  def version(root: String): Int = SegmentStore.version(commitBase(root))

  /** Whether ANY committed version carries `tag` — the replay check of
    * every tagged mutation and of the streaming maintenance step. */
  final def tagCommitted(root: String, tag: String): Boolean =
    SegmentStore.anyCommittedHasTag(commitBase(root), tag)

  /** Idempotence check for at-least-once writers (a streaming
    * foreachBatch replays the last uncommitted micro-batch after a
    * failure): the tag lands just before the commit marker, so it is
    * committed atomically with its version. */
  def committedHasTag(root: String, tag: String): Boolean =
    tagCommitted(root, tag)

  final protected def requireLive(root: String): Int = {
    val v = version(root)
    require(v > 0, s"$owner index at $root not initialized — call init first")
    v
  }

  final protected def manifest(root: String): Option[Manifest] =
    SegmentStore.currentManifest(commitBase(root))

  /** Segment list committed at version `w` (positional before the first
    * fold). */
  final protected def entriesAt(root: String, w: Int): Seq[ManifestEntry] =
    if (w <= 0) Seq.empty
    else SegmentStore.manifestAt(commitBase(root), w).map(_.entries)
      .getOrElse((0 until w).map(k => ManifestEntry(entryName(k), k.toLong)))

  final protected def entries(root: String): Seq[ManifestEntry] =
    entriesAt(root, version(root))

  /** Read fan-in — the live segment count the fold trigger watches. Equals
    * the version until the first fold; after folds the version clock (one
    * bump per mutation, forever) no longer reflects it. */
  def fanIn(root: String): Int = entries(root).size

  /** Logical number of the NEXT segment: the horizon a delete committed
    * now carries, strictly above every live row's `__seg`. */
  final protected def logicalNext(root: String): Long =
    manifest(root).map(_.nextLogical).getOrElse(version(root).toLong)

  /** Tombstone-ledger version the last full reclaiming fold absorbed. */
  final protected def tombRebase(root: String): Int =
    manifest(root).map(_.tombRebase).getOrElse(0)

  /** Live tombstones (id, before_seg) — None when none are past the
    * rebase, so tombstone-free plans stay untouched. */
  final protected def tombIds(spark: SparkSession,
                              root: String): Option[DataFrame] =
    SegmentStore.tombIds(spark, tombsBase(root), tombRebase(root))

  /** Physical segment name of an entry (its last path component). */
  final protected def physical(e: ManifestEntry): String =
    e.dir.substring(e.dir.lastIndexOf('/') + 1)

  final protected def kindDir(root: String, kind: String,
                              e: ManifestEntry): String =
    s"$root/$kind/${physical(e)}"

  /** Union of per-entry reads, each row tagged with its logical `__seg` —
    * from the entry, or the stored column of a reorganized entry. */
  final protected def tagged(es: Seq[ManifestEntry])
                            (read: ManifestEntry => DataFrame): DataFrame =
    es.map { e =>
      val df = read(e)
      if (e.logicalSeg >= 0) df.withColumn("__seg", lit(e.logicalSeg)) else df
    }.reduce(_ unionByName _)

  /** Exclude dead rows of `df` (which carries `__seg`) on each of `cols`:
    * id tombstoned and the row's segment below the horizon. Fixed aliases
    * keep every anti-join's broadcast subtree canonically identical, so a
    * join pushed below a segment union builds its exchange once. */
  final protected def filterTombs(tombs: Option[DataFrame], df: DataFrame,
                                  cols: String*): DataFrame =
    tombs.fold(df) { t =>
      cols.foldLeft(df) { (d, c) =>
        val tt = broadcast(t.select(col(t.columns.head).as("__tomb_id"),
          col("before_seg").as("__tomb_bs")))
        d.join(tt, d(c) === tt("__tomb_id") && d("__seg") < tt("__tomb_bs"),
          "left_anti")
      }
    }

  /** Publish version 1 of a fresh root after `write` puts its artifacts in
    * physical segment 0. */
  final protected def initSegment(root: String, tag: Option[String])
                                 (write: Slot => Unit): Unit =
    SegmentStore.withWriterLease(root, s"$owner-init") {
      publishNext(root, tag, write)
    }

  /** Append the next segment: `write` puts every artifact under the slot's
    * physical number, then version v+1 publishes (manifest roots add the
    * entry in the same atomic step). */
  final protected def appendSegment(root: String, tag: Option[String])
                                   (write: Slot => Unit): Unit =
    SegmentStore.withWriterLease(root, s"$owner-append") {
      requireLive(root)
      publishNext(root, tag, write)
    }

  private def publishNext(root: String, tag: Option[String],
                          write: Slot => Unit): Unit = {
    val v = version(root)
    val cur = SegmentStore.manifestAt(commitBase(root), v)
    val slot = Slot(v, cur.map(_.nextPhysical).getOrElse(v),
      cur.map(_.nextLogical).getOrElse(v.toLong))
    write(slot)
    cur match {
      case None => SegmentStore.publish(commitBase(root), v + 1, tag)
      case Some(m) => SegmentStore.publishManifest(commitBase(root), v + 1, tag,
        m.copy(entries = m.entries :+ ManifestEntry(entryName(slot.phys), slot.logical),
          nextLogical = slot.logical + 1, nextPhysical = slot.phys + 1))
    }
  }

  /** Tombstone `ids` at the current horizon. Under the lease a delete
    * never interleaves a fold, so its horizon can never equal a folded
    * segment's logical number (the silent-resurrection window). */
  final protected def deleteIds(ids: DataFrame, idCol: String, root: String,
                                tag: Option[String]): Unit =
    SegmentStore.withWriterLease(root, s"$owner-delete") {
      requireLive(root)
      SegmentStore.tombWrite(ids, idCol, tombsBase(root), tag,
        beforeSeg = logicalNext(root))
    }

  /** Versioned tombstone for `delta`'s ids, then `append` of the new rows
    * unless the tag already committed — one idempotent update in place.
    * The lease is reentrant, so the nested append re-enters it. */
  final protected def upsertRows(delta: DataFrame, idCol: String, root: String,
                                 tag: Option[String])(append: => Unit): Unit =
    SegmentStore.withWriterLease(root, s"$owner-upsert") {
      requireLive(root)
      SegmentStore.tombWrite(delta.select(col(idCol)), idCol, tombsBase(root),
        tag.map(t => s"${t}_t"), beforeSeg = logicalNext(root))
      if (!tag.exists(tagCommitted(root, _))) append
    }

  /** Sweep physical dirs of every kind that neither of the last two
    * committed segment lists references (retain-one-generation). */
  private def gcUnreferencedSegs(root: String): Unit = {
    val v = version(root)
    val retained = (entriesAt(root, v) ++ entriesAt(root, v - 1))
      .map(physical).toSet
    segmentKinds.foreach { kind =>
      SegmentStore.listChildDirs(s"$root/$kind").filterNot(retained)
        .foreach(c => SegmentStore.deleteTree(s"$root/$kind/$c"))
    }
  }

  /** The shared tail-fold: skip a committed tag, take the lease, GC, split
    * the list after `keep`, let `write` fold the tail into the slot's
    * physical segment, then publish the new manifest with the version
    * bump. Ledger clocks are captured BEFORE `write` reads, so a full
    * fold's rebase never names a version it did not bake in. The
    * folded-away tail is not swept here: it serves in-flight readers for
    * one more fold generation. */
  final protected def foldTail(root: String, keep: Int, tag: Option[String],
                               reorganize: Boolean,
                               operation: String = "tail-fold")
                              (write: Fold => Unit): Unit = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    if (!tag.exists(tagCommitted(root, _)))
      SegmentStore.withWriterLease(root, s"$owner-$operation") {
        val v = requireLive(root)
        gcUnreferencedSegs(root)
        val es = entriesAt(root, v)
        if (es.size > keep) { // else: empty tail — nothing to fold
          val cur = SegmentStore.manifestAt(commitBase(root), v)
            .getOrElse(Manifest(es, v.toLong, v, tombRebase = 0))
          val tombV = SegmentStore.tombVersion(tombsBase(root))
          val repairV = repairVersion(root)
          val (prefix, tail) = es.splitAt(keep)
          write(Fold(v, tail, cur.nextPhysical))
          val folded = ManifestEntry(entryName(cur.nextPhysical),
            if (reorganize) -1L else cur.nextLogical)
          val full = !reorganize && keep == 0
          SegmentStore.publishManifest(commitBase(root), v + 1, tag, cur.copy(
            entries = prefix :+ folded,
            nextLogical = if (reorganize) cur.nextLogical else cur.nextLogical + 1,
            nextPhysical = cur.nextPhysical + 1,
            tombRebase = if (full) tombV else cur.tombRebase,
            repairRebase = if (full) repairV else cur.repairRebase))
        }
      }
  }

  /** Per-live-segment byte totals over every artifact kind, in entry order
    * — the fold ladder's input. */
  def segmentSizes(root: String): Seq[Long] = sizesOf(root, entries(root))

  private def sizesOf(root: String, es: Seq[ManifestEntry]): Seq[Long] =
    es.map(e => segmentKinds.map(k => SegmentStore.treeBytes(kindDir(root, k, e))).sum)

  /** Size-tiered trigger for the family's tail-fold: when read fan-in
    * exceeds `maxSegments`, `fold` the suffix from the index
    * [[SegmentStore.tieredFoldStart]] selects (never below `keep` or
    * [[minKeep]]). `keep` must sit below `maxSegments` — at or above it
    * every trigger would re-fold one segment forever without reducing
    * fan-in. Returns [[SegmentStore.ladderCheck]]'s warning when the bound
    * is too tight for the observed size tiers (None = fits, or no fold). */
  final protected def foldIfNeeded(root: String, maxSegments: Int, keep: Int)
                                  (fold: Int => Unit): Option[String] = {
    require(keep < maxSegments,
      s"keep ($keep) must be < maxSegments ($maxSegments): the trigger " +
        "would fold one segment per trigger forever, never reducing fan-in")
    val es = entries(root)
    if (es.size > maxSegments) {
      val sizes = sizesOf(root, es)
      fold(math.max(SegmentStore.tieredFoldStart(sizes, keep, maxSegments), minKeep))
      SegmentStore.ladderCheck(sizes, maxSegments)
    } else None
  }
}

object SegmentFamily {
  /** Where the next segment goes: the version it publishes on top of, its
    * physical number and its logical number. */
  final case class Slot(v: Int, phys: Int, logical: Long)

  /** A tail-fold in progress: the version it publishes on top of, the
    * entries it folds, and the physical number of the folded segment. */
  final case class Fold(v: Int, tail: Seq[ManifestEntry], phys: Int)
}
