package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** THE exactly-once lifecycle every maintained index rides — written
  * once, so a fix to the protocol lands in one place. An index family
  * declares its CDC key column and an ordered list of its tables, each
  * with the maintain step that applies one CDC delta to it:
  * `(table root, (changes, txn tag) => Unit)`. Order is commit order
  * (a [[ClusterIndex]] re-solve walks the band table, so the band
  * table comes first) and watermark-advance order.
  *
  * The protocol:
  *
  *  - EXACTLY-ONCE ([[applyBatch]]): every commit a step makes carries
  *    the batch id as its transaction tag, inside the manifest's atomic
  *    pointer swap ([[ManifestTable.batchTag]]). Each table keeps its
  *    OWN watermark, so a crash between two tables' commits replays the
  *    batch with only the lagging tables re-applying, and a fully
  *    replayed batch is skipped before any Spark job runs.
  *  - EMPTY DELTAS: the delta is materialized and counted in one job,
  *    and an empty one runs no step. A step whose delta nets to zero
  *    rows hands [[ManifestTable.mergePartitioned]] an empty batch,
  *    which commits nothing. Either way no tag is recorded — harmless,
  *    because replaying a no-op is a no-op.
  *  - POLLING ([[refresh]]): corpus versions are the batch ids, under
  *    the family's shared poll scope, so pollers racing the same
  *    versions dedupe against each other's tags. One CDC read and one
  *    commit per version.
  *  - BATCHED CATCH-UP ([[refreshBatched]]): the whole range `(fromV,
  *    toV]` in one snapshot-diff read and one commit per table. Sound
  *    because [[ManifestTable.readChanges]] is a STATE diff (a doc that
  *    churned inside the range emits one net pre/post pair) and each
  *    merge commit is atomic (a crash mid-catch-up moves no watermark).
  *    The diff base of each table is its OWN watermark, not `fromV`:
  *    diffing ref-counts from below it would re-count absorbed docs,
  *    and after a crash split two watermarks only the lagging table's
  *    own diff carries the events that retract what the other already
  *    wrote. One shared read when the bases agree. The commits carry
  *    the range's END version, so per-version and batched calls
  *    interleave in one scope; a range that nets to nothing still
  *    advances every watermark with a metadata-only commit, so the diff
  *    base — and the corpus retention it needs — tracks `toV`.
  *  - TURNKEY STREAM ([[startMaintenance]]): a `graft-manifest-cdc`
  *    read driving [[applyBatch]] per micro-batch under the checkpoint
  *    digest's scope, so two streams sharing a table cannot alias each
  *    other's watermarks. Do not mix a stream and the polling path on
  *    the same tables: their batch-id spaces differ. Pair a snapshot
  *    bootstrap with `startingVersion`, or the re-emitted snapshot
  *    batch double-applies.
  *
  * BatchedRefreshSpec pins batched ≡ per-version ≡ recomputed,
  * including split watermarks and replays; the per-index specs pin each
  * family's steps. */
private[graft] final class IndexLifecycle(key: String, pollScope: String,
    tables: Seq[(String, IndexLifecycle.Step)]) {

  /** Apply one CDC batch to every table whose watermark in `scope` is
    * behind `batchId`; the delta is materialized once, and only when
    * some table lags. */
  def applyBatch(changes: DataFrame, batchId: Long, scope: String): Unit = {
    val lagging = tables.filter { case (root, _) =>
      batchId > ManifestTable.lastBatchTag(root, scope) }
    if (lagging.isEmpty) return
    val (ch, n) = IndexLifecycle.checkpointCounted(changes)
    if (n == 0) return
    val tag = Some(ManifestTable.batchTag(scope, batchId))
    lagging.foreach { case (_, step) => step(ch, tag) }
  }

  def refresh(spark: SparkSession, corpusRoot: String, fromV: Int, toV: Int): Unit =
    IndexLifecycle.refresh(spark, corpusRoot, key, pollScope, fromV, toV)(applyBatch)

  def refreshBatched(spark: SparkSession, corpusRoot: String,
      fromV: Int, toV: Int): Unit = {
    val lagging = tables
      .map { case (root, step) => (ManifestTable.lastBatchTag(root, pollScope), step) }
      .filter(_._1 < toV.toLong)
    if (lagging.isEmpty) return
    val tag = Some(ManifestTable.batchTag(pollScope, toV.toLong))
    val reads = scala.collection.mutable.Map.empty[Int, (DataFrame, Long)]
    lagging.foreach { case (w, step) =>
      val base = math.max(fromV.toLong, w).toInt
      val (ch, n) = reads.getOrElseUpdate(base, IndexLifecycle.checkpointCounted(
        IndexLifecycle.changes(spark, corpusRoot, key, base, toV)))
      if (n > 0) step(ch, tag)
    }
    tables.foreach { case (root, _) =>
      ManifestTable.advanceBatchWatermark(root, pollScope, toV.toLong) }
  }

  def startMaintenance(spark: SparkSession, corpusRoot: String,
      checkpoint: String, startingVersion: Int): StreamingQuery =
    IndexLifecycle.stream(spark, corpusRoot, key, checkpoint, startingVersion)(applyBatch)
}

/** The lifecycle's building blocks, open to families whose batch step
  * is not a per-table list ([[EntityIndex]]'s membership-gated pass,
  * [[IncrementalView]]'s snapshot state). */
private[graft] object IndexLifecycle {

  /** Apply one CDC delta to one table, tagging its commits. */
  type Step = (DataFrame, Option[String]) => Unit

  /** Apply one CDC batch `(changes, batchId, scope)` exactly-once. */
  type Apply = (DataFrame, Long, String) => Unit

  /** `df` locally checkpointed, with its row count, from ONE job: the
    * count runs over the checkpoint's own RDD (no aggregate exchange,
    * which under AQE is a job of its own) and fills the lazy checkpoint
    * as it goes. */
  private[sources] def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val c = df.localCheckpoint(eager = false)
    (c, c.queryExecution.toRdd.count())
  }

  /** The CDC events of corpus versions `(fromV, toV]`, preimages on —
    * every maintain step needs an update's old image to retract it. */
  def changes(spark: SparkSession, corpusRoot: String, key: String,
      fromV: Int, toV: Int): DataFrame =
    ManifestTable.readChanges(spark, corpusRoot, fromV, toV, Seq(key), preimages = true)

  /** Roll forward across `(fromV, toV]` one version at a time, the
    * version as batch id under `pollScope`. */
  def refresh(spark: SparkSession, corpusRoot: String, key: String,
      pollScope: String, fromV: Int, toV: Int)(apply: Apply): Unit =
    (fromV until toV).foreach { v =>
      apply(changes(spark, corpusRoot, key, v, v + 1), (v + 1).toLong, pollScope)
    }

  /** A `graft-manifest-cdc` stream of `corpusRoot` (offsets in
    * `checkpoint`) driving `apply` per micro-batch, scoped by the
    * checkpoint's digest. `key` may list several columns, comma
    * separated. */
  def stream(spark: SparkSession, corpusRoot: String, key: String,
      checkpoint: String, startingVersion: Int)(apply: Apply): StreamingQuery = {
    val scope = ManifestStreamSink.digest(ManifestStreamSink.canonicalCheckpoint(checkpoint))
    spark.readStream.format("graft-manifest-cdc")
      .option("path", corpusRoot).option("key", key)
      .option("startingVersion", startingVersion.toString)
      .option("preimages", "true").load()
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => apply(b, id, scope))
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
