package graft.sources

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained IVF ANN INDEX over a [[ManifestTable]]
  * embedding corpus — [[DedupIndex]]'s lifecycle applied to the vector
  * modality (q129's maintained form):
  *
  *  - a FROZEN coarse quantizer: the bootstrap corpus's per-label
  *    centroids, committed once as a k-row ManifestTable. Freezing is
  *    the production IVF contract — cell ids stay stable as batches
  *    arrive, so the index never re-clusters (a quantizer refresh is a
  *    rebuild, scheduled, not an ingest step);
  *  - a CELL INDEX: every corpus vector's nearest-centroid assignment
  *    (vec_id, cell, v, norm), hash-bucketed by vec_id and maintained
  *    from the corpus table's CDC stream — a commit re-assigns ONLY its
  *    changed vectors (k-bounded broadcast of the quantizer), never the
  *    lake.
  *
  * Probes are batch-side work: an arriving batch ranks its nprobe
  * nearest cells against the quantizer (broadcast, k rows) and joins
  * the index on cell — AQE broadcasts the small batch side, so the
  * index streams once and never shuffles. Deletes and updates retract
  * through a `live` tombstone flag exactly as [[DedupIndex]]'s band
  * index does (MERGE cannot remove rows); readers filter, compaction
  * ages tombstones out. VecIndexSpec pins maintained ≡ recomputed
  * across insert/update/delete commits and probe parity with q129. */
object VecIndex {

  /** Same bucket count/role as [[DedupIndex.IndexBuckets]]. */
  val IndexBuckets = 16

  private def withPBucket(df: DataFrame): DataFrame =
    df.withColumn("pbucket", ManifestTable.bucketIdColumn(col("vec_id"), IndexBuckets))

  private val indexKey = Seq("pbucket", "vec_id")

  /** The frozen quantizer of a corpus snapshot: (cell, centroid). */
  def computeCentroids(corpus: DataFrame): DataFrame =
    VectorOps.labelCentroids(corpus.sparkSession, VectorOps.withVecNorm(corpus))
      .select(col("label").cast("long").as("cell"), col("centroid"))

  /** The cell index of a corpus snapshot against a given quantizer —
    * the bootstrap, and the spec's ground truth. */
  def computeCellIndex(corpus: DataFrame, centroids: DataFrame): DataFrame =
    withPBucket(
      VectorOps.assignCells(
        VectorOps.withVecNorm(corpus).select(col("vec_id"), col("v"), col("norm")),
        centroids)
        .withColumn("live", lit(true)))
      .select(col("pbucket"), col("vec_id"), col("cell"), col("v"),
        col("norm"), col("live"))

  /** Bootstrap both tables from the initial corpus: commit the frozen
    * quantizer, then the assigned index. */
  def bootstrap(corpus: DataFrame, centRoot: String, idxRoot: String): Unit = {
    val cent = computeCentroids(corpus).localCheckpoint()
    ManifestTable.commit(cent, centRoot)
    ManifestTable.declareBuckets(idxRoot, "vec_id", IndexBuckets)
    ManifestTable.mergePartitioned(
      computeCellIndex(corpus, cent), idxRoot, indexKey, "pbucket")
  }

  /** The frozen quantizer (k rows). */
  def readCentroids(spark: SparkSession, centRoot: String): DataFrame =
    ManifestTable.read(spark, centRoot)

  /** Apply ONE corpus version's CDC events to the cell index: only the
    * changed vectors re-assign (against the FROZEN quantizer, broadcast
    * — k rows); deletes write `live = false` tombstones under the same
    * key, so an upsert-only merge fully retracts them. */
  def maintain(spark: SparkSession, changes: DataFrame,
      centRoot: String, idxRoot: String, tag: Option[String] = None): Int = {
    val cent = readCentroids(spark, centRoot)
    val changed = changes
      .where(col("_change_type").isin("insert", "update_postimage", "delete"))
    val liveRows = computeCellIndex(
      changed.where(col("_change_type") =!= "delete")
        .select(col("vec_id"), col("embedding")), cent)
      .drop("pbucket")
    val keys = changed.select(col("vec_id")).distinct()
    val rows = keys.as("k")
      .join(liveRows.as("l"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("l.cell"), lit(-1L)).as("cell"),
        col("l.v"), col("l.norm"),
        coalesce(col("l.live"), lit(false)).as("live"))
    ManifestTable.declareBuckets(idxRoot, "vec_id", IndexBuckets)
    ManifestTable.mergePartitioned(
      withPBucket(rows).select(col("pbucket"), col("vec_id"), col("cell"),
        col("v"), col("norm"), col("live")),
      idxRoot, indexKey, "pbucket", tag = tag)
  }

  private[graft] val PollScope = "vec-refresh-poll"

  // ------------------------------------- exactly-once: [[IndexLifecycle]]
  // `maintain`'s keyed upserts are idempotent, so the txn tags are a
  // cheaper skip and protocol uniformity here, not a correctness fix.
  // The quantizer stays FROZEN: only the cell index advances.

  private def lifecycle(centRoot: String, idxRoot: String) =
    new IndexLifecycle("vec_id", PollScope,
      Seq((idxRoot, (ch, tag) => maintain(ch.sparkSession, ch, centRoot, idxRoot, tag))))

  def applyBatch(changes: DataFrame, batchId: Long,
      centRoot: String, idxRoot: String, scope: String = ""): Unit =
    lifecycle(centRoot, idxRoot).applyBatch(changes, batchId, scope)

  def refresh(spark: SparkSession, corpusRoot: String,
      centRoot: String, idxRoot: String, fromV: Int, toV: Int): Unit =
    lifecycle(centRoot, idxRoot).refresh(spark, corpusRoot, fromV, toV)

  /** Batched catch-up: the frozen centroids make each vector's cell a
    * pure function of its payload, so the keyed upsert/tombstone merge
    * of the range's post-state composes — a vector that moved cells
    * five times inside the range lands one tombstone + one live row. */
  def refreshBatched(spark: SparkSession, corpusRoot: String,
      centRoot: String, idxRoot: String, fromV: Int, toV: Int): Unit =
    lifecycle(centRoot, idxRoot).refreshBatched(spark, corpusRoot, fromV, toV)

  def startMaintenance(spark: SparkSession, corpusRoot: String,
      centRoot: String, idxRoot: String, checkpoint: String,
      startingVersion: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    lifecycle(centRoot, idxRoot).startMaintenance(spark, corpusRoot, checkpoint,
      startingVersion)

  /** Age `live = false` tombstones out of the cell index
    * ([[DedupIndex.purgeTombstones]]'s reasoning). */
  def purgeTombstones(spark: SparkSession, idxRoot: String): Unit =
    if (ManifestTable.currentVersion(idxRoot) >= 1) {
      ManifestTable.rewriteWhere(spark, idxRoot, "pbucket", col("live"))
      ()
    }

  /** The live cell index (tombstones filtered). */
  def readCellIndex(spark: SparkSession, idxRoot: String): DataFrame =
    ManifestTable.read(spark, idxRoot).where(col("live"))
      .select(col("vec_id"), col("cell"), col("v"), col("norm"))

  /** q129's probe against the MAINTAINED index: each batch vector ranks
    * its `nprobe` nearest cells (k-row quantizer broadcast) and scores
    * only those cells' members. Output schema = q129's. */
  def probe(batch: DataFrame, spark: SparkSession,
      centRoot: String, idxRoot: String, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = readCentroids(spark, centRoot)
    val q = VectorOps.withVecNorm(batch)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("cell"))
    val probes = q.join(broadcast(cent))
      .withColumn("dist", VectorOps.centroidDist("qv", "centroid"))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nprobe)
      .select(col("q_id"), col("qv"), col("qnorm"), col("cell"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    readCellIndex(spark, idxRoot).join(probes, "cell")
      .withColumn("sim", VectorOps.cosineNormed("qv", "v", "qnorm", "norm"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("sim"), 6).as("sim"))
  }
}
