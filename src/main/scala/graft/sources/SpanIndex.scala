package graft.sources

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained WINDOW-POSITION (span) index — the
  * ExactSubstr family's maintained face, the last index family that
  * still implied a full recompute under corpus CDC (VERDICT r14 #5):
  * one hash-bucketed ManifestTable of (h → doc_id, p) window-position
  * rows, updated from the document table's CDC stream. A corpus commit
  * re-hashes only its CHANGED docs' windows (arrivals add live rows,
  * retractions tombstone the preimage's rows), never the lake — so
  * q148's duplicated-span report and q150's contamination scrub read
  * stored positions instead of re-hashing every corpus window, and
  * probing an ARRIVING eval set (the q150 direction: a new benchmark
  * lands, which training docs leak it?) reads only the batch windows'
  * hash-bucket partitions. At 100 TB the alternative is a full corpus
  * re-tokenization + window re-hash per scrub run.
  *
  * Rows are exact facts keyed by (h, doc_id, p) — the exact-fact shape
  * of the shared [[MaintainedIndex]] protocol: unlike the df
  * ref-counts there is nothing to net ACROSS docs, so maintenance is
  * per-changed-doc work — an update's unchanged windows net to zero
  * and are not rewritten; a dropped window nets −1 and tombstones
  * (`alive = false`, readers filter). Non-idempotent only at the
  * commit level, so every maintenance surface rides the txn-tag
  * protocol of [[IndexLifecycle]]: [[applyBatch]] (stream),
  * [[refresh]] (polling), [[startMaintenance]] (turnkey).
  * SpanIndexSpec pins maintained ≡ recomputed across
  * insert/update/delete commits and replay rejection; q171/q172
  * oracle-gate the reports end-to-end against an engine that never saw
  * the index. */
object SpanIndex extends MaintainedIndex {

  /** Min-match window width — q148's 8-token detector. */
  val Width = 8

  private[graft] val PollScope = "span-refresh-poll"

  protected def bucketKey: String = "h"
  protected def mergeKeyCols: Seq[String] = Seq("h", "doc_id", "p")
  // windows hash the text itself — the generator needs it verbatim
  override protected def changeCols: Seq[Column] =
    Seq(col("doc_id"), col("text"))
  protected def facts(docs: DataFrame): DataFrame = windows(docs)

  /** Every [[Width]]-token window of a (doc_id, text) frame as
    * (doc_id, p, h) — [[TextOps.windowPositions]], the exact rows
    * q148/q150 derive on the fly. */
  private def windows(docs: DataFrame): DataFrame =
    TextOps.windowPositions(docs, Width)

  /** The span index of a corpus snapshot — the bootstrap, and the
    * spec's ground truth: (bucket, h, doc_id, p, alive). */
  def computeSpanIndex(docs: DataFrame): DataFrame = computeIndexOf(docs)

  /** Bootstrap the index table from a corpus snapshot (pair with
    * [[startMaintenance]]'s `startingVersion`, or the re-emitted
    * snapshot batch double-applies — [[DedupIndex]]'s contract). */
  def bootstrapSpanIndex(docs: DataFrame, idxRoot: String): Int =
    bootstrapIndex(docs, idxRoot)

  /** Apply ONE corpus version's CDC events. `changes` must carry
    * preimages: an update's old windows must retract. Only changed
    * docs re-hash; the merge touches only the delta's hash buckets;
    * windows an update keeps net to zero and are not rewritten. */
  def maintainSpanIndex(spark: SparkSession, changes: DataFrame, idxRoot: String,
      tag: Option[String] = None): Int =
    maintainIndex(changes, idxRoot, tag)

  // applyBatch / refresh / startMaintenance: [[MaintainedIndex]].

  // ------------------------------------------------------------- reads

  /** Live (h, doc_id, p) window rows — tombstones filtered. */
  def readSpanIndex(spark: SparkSession, idxRoot: String): DataFrame =
    readLiveRows(spark, idxRoot)

  /** q171's report: q148's duplicated-span detection from the
    * MAINTAINED positions — group the stored rows by hash, keep
    * occ ≥ 2, merge each doc's duplicated covers into maximal
    * intervals. The corpus text is never read: the report costs one
    * aggregate + join over the stored index, not a corpus
    * re-tokenization. */
  def maintainedDupSpans(spark: SparkSession, idxRoot: String): DataFrame = {
    val pos = readSpanIndex(spark, idxRoot)
    val dup = pos.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2L)
    TextOps.mergeWindowCovers(
      pos.join(dup, "h").select(col("doc_id"), col("p")), Width)
  }

  /** q172's probe: which CORPUS spans does an ARRIVING eval set leak —
    * q150's question asked the production way round: the eval batch is
    * windowed (batch-sized work), the index contributes only the batch
    * hashes' bucket partitions ([[ManifestTable.readKeyPruned]]), and
    * the hits island-merge per corpus doc. The corpus is not read and
    * the index is not scanned. */
  def probeContamination(batch: DataFrame, spark: SparkSession,
      idxRoot: String): DataFrame = {
    val evalW = windows(batch).select(col("h")).distinct()
    // r20: readKeyPruned already semi-joins the pruned slice against the
    // key set — the old second left_semi on the same column was a no-op
    // that re-windowed the batch a third time (plan: 2 Generate + 2
    // BroadcastHashJoin -> 1 each).
    val hits = ManifestTable
      .readKeyPruned(spark, idxRoot, "h", IndexBuckets, evalW)
      .where(col("alive"))
    TextOps.mergeWindowCovers(hits.select(col("doc_id"), col("p")), Width)
  }
}
