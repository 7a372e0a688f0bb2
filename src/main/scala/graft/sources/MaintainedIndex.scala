package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** THE maintained-index protocol — one implementation of the
  * CDC-driven lifecycle all fingerprint-shaped indexes share
  * (VERDICT r17 #1: [[ModalityIndex]], [[AudioWindowIndex]],
  * [[SceneIndex]], [[ReencodeIndex]], [[GainWindowIndex]],
  * [[CrossModalIndex]] and [[SpanIndex]] used to carry near-verbatim
  * copies of it; the exactly-once protocol is the engine's crown
  * jewel, and six hand-synced copies of a crown jewel is how it gets
  * scratched). Each index object is now a thin front: it declares its
  * FACT SHAPE and keeps its reads; everything between CDC event and
  * committed merge lives here, once.
  *
  * A front parameterizes four things:
  *
  *  - [[facts]] — the generator turning changed docs into fact rows
  *    (scene md5s, banded aHashes, window fingerprints, …). Shared
  *    with the single-shot queries, so index and query cannot drift.
  *  - [[mergeKeyCols]] — the columns identifying ONE fact in the
  *    stored table (the ManifestTable merge key, minus the bucket).
  *  - [[payloadCols]] — non-key columns riding each fact. Empty for
  *    EXACT-FACT indexes ([[SpanIndex]]'s shape: kept facts net to
  *    zero, dropped facts tombstone). Non-empty engages the
  *    LIVE-ROW-WINS collapse ([[ModalityIndex]]'s shape): an update
  *    that keeps a fact's key but changes its payload nets −1 on the
  *    old payload and +1 on the new, and the live row must win the
  *    merge key — `max(struct(alive, payload…))` picks it.
  *  - [[changeCols]] — the projection of a CDC event the generator
  *    consumes (default `(doc_id, n_chars)`; text-derived facts
  *    override to `(doc_id, text)`).
  *
  * The protocol itself is invariant across fronts:
  *
  *  1. SIGN: inserts/update-postimages count +1, deletes/
  *     update-preimages −1 (preimages required — they regenerate
  *     exactly the fact rows their commit once added).
  *  2. NET: regenerate facts per sign, sum the net per fact; facts an
  *     update keeps net to zero and are NOT rewritten — maintenance
  *     cost is O(changed facts), never O(index).
  *  3. COLLAPSE: one row per merge key (live-row-wins when payloads
  *     exist), `alive = net > 0` (tombstones; readers filter).
  *  4. MERGE: [[ManifestTable.mergePartitioned]] into the
  *     hash-bucketed layout — write amplification is O(touched
  *     buckets), and probes meet co-bucketed files.
  *  5. EXACTLY-ONCE: [[applyBatch]], [[refresh]], [[refreshBatched]]
  *     and [[startMaintenance]] are the [[IndexLifecycle]] over the one
  *     index table.
  *
  * [[DedupIndex]] stays outside the fact protocol deliberately: its
  * exact index is a REF-COUNT (cross-doc netting, read-modify-write
  * against the stored count) and its band index uses full-key-coverage
  * tombstones — two genuinely different maintain steps, sharing only
  * the lifecycle. */
private[graft] trait MaintainedIndex {

  /** Stable hash-bucket count for the index table's partition layout
    * (same role as [[DedupIndex.IndexBuckets]]): tests use few
    * buckets; a production deployment sizes this so one bucket ≈ one
    * comfortable file-group (e.g. 4096 at 100 TB). */
  val IndexBuckets: Int = 16

  /** Watermark scope of this index's polling maintenance path. */
  private[graft] def PollScope: String

  /** The column whose hash places a fact in its bucket — always the
    * probe key, so a probe read prunes to its own buckets. */
  protected def bucketKey: String

  /** Fact identity within the stored table (merge key minus bucket). */
  protected def mergeKeyCols: Seq[String]

  /** Non-key columns carried per fact; non-empty engages the
    * live-row-wins collapse. */
  protected def payloadCols: Seq[String] = Seq.empty

  /** The CDC-event projection [[facts]] consumes. The default derives
    * media from doc_id + n_chars = length(text); text-derived fact
    * generators override to pass the text through. */
  protected def changeCols: Seq[Column] =
    Seq(col("doc_id"), length(col("text")).cast("long").as("n_chars"))

  /** Fact rows of a projected doc frame — the SAME generator the
    * single-shot queries use. */
  protected def facts(docs: DataFrame): DataFrame

  // ------------------------------------------------------- the protocol

  private def factCols: Seq[String] = mergeKeyCols ++ payloadCols

  private def storedCols: Seq[Column] =
    (("bucket" +: factCols) :+ "alive").map(col)

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", ManifestTable.bucketIdColumn(col(bucketKey), IndexBuckets))

  private def signCol: Column = when(
    col("_change_type").isin("insert", "update_postimage"), 1L)
    .when(col("_change_type").isin("delete", "update_preimage"), -1L)

  /** The index of a corpus snapshot — bootstrap and spec ground truth:
    * (bucket, mergeKey…, payload…, alive). */
  protected final def computeIndexOf(docs: DataFrame): DataFrame =
    withBucket(facts(docs).withColumn("alive", lit(true)))
      .select(storedCols: _*)

  /** Bootstrap from a corpus snapshot (pair with a CDC
    * `startingVersion` past the snapshot, [[DedupIndex]]'s contract —
    * or the re-emitted snapshot batch double-applies). */
  protected final def bootstrapIndex(docs: DataFrame, idxRoot: String): Int = {
    ManifestTable.declareBuckets(idxRoot, bucketKey, IndexBuckets)
    ManifestTable.mergePartitioned(computeIndexOf(docs), idxRoot,
      "bucket" +: mergeKeyCols, "bucket")
  }

  /** Apply ONE corpus version's CDC events: sign → net → collapse →
    * merge. Only changed docs regenerate facts; the merge touches only
    * the delta's buckets; facts an update keeps net to zero and are
    * not rewritten. */
  protected final def maintainIndex(changes: DataFrame, idxRoot: String,
      tag: Option[String]): Int = {
    val signed = changes.where(signCol.isNotNull)
      .select(changeCols :+ signCol.as("__sgn"): _*)
    val docCols = signed.columns.filterNot(_ == "__sgn").map(col).toSeq
    def rows(sgn: Long): DataFrame =
      facts(signed.where(col("__sgn") === sgn).select(docCols: _*))
    val netted = rows(1L).withColumn("net", lit(1L))
      .union(rows(-1L).withColumn("net", lit(-1L)))
      .groupBy(factCols.map(col): _*)
      .agg(sum(col("net")).as("net"))
      .where(col("net") =!= 0L)
    val collapsed =
      if (payloadCols.isEmpty)
        // exact facts: each netted row IS its merge key
        netted.select(mergeKeyCols.map(col) :+ (col("net") > 0L).as("alive"): _*)
      else
        // live-row-wins: the LIVE payload must win the merge key
        netted.groupBy(mergeKeyCols.map(col): _*)
          .agg(max(struct((col("net") > 0L).as("alive") +:
            payloadCols.map(col): _*)).as("r"))
          .select(mergeKeyCols.map(col) ++
            payloadCols.map(c => col(s"r.$c").as(c)) :+
            col("r.alive").as("alive"): _*)
    ManifestTable.declareBuckets(idxRoot, bucketKey, IndexBuckets)
    ManifestTable.mergePartitioned(withBucket(collapsed).select(storedCols: _*),
      idxRoot, "bucket" +: mergeKeyCols, "bucket", tag = tag)
  }

  // ------------------------------------- exactly-once: [[IndexLifecycle]]

  private def lifecycle(idxRoot: String) = new IndexLifecycle("doc_id", PollScope,
    Seq((idxRoot, (ch, tag) => maintainIndex(ch, idxRoot, tag))))

  final def applyBatch(changes: DataFrame, batchId: Long, idxRoot: String,
      scope: String = ""): Unit =
    lifecycle(idxRoot).applyBatch(changes, batchId, scope)

  final def refresh(spark: SparkSession, corpusRoot: String, idxRoot: String,
      fromV: Int, toV: Int): Unit =
    lifecycle(idxRoot).refresh(spark, corpusRoot, fromV, toV)

  final def refreshBatched(spark: SparkSession, corpusRoot: String,
      idxRoot: String, fromV: Int, toV: Int): Unit =
    lifecycle(idxRoot).refreshBatched(spark, corpusRoot, fromV, toV)

  final def startMaintenance(spark: SparkSession, corpusRoot: String,
      idxRoot: String, checkpoint: String, startingVersion: Int = 0)
      : StreamingQuery =
    lifecycle(idxRoot).startMaintenance(spark, corpusRoot, checkpoint, startingVersion)

  /** Live fact rows — tombstones filtered, bucket dropped. */
  protected final def readLiveRows(spark: SparkSession, idxRoot: String): DataFrame =
    ManifestTable.read(spark, idxRoot)
      .where(col("alive"))
      .select(factCols.map(col): _*)
}
