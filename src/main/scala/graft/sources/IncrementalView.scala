package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, sum, when}

/** Incremental MATERIALIZED-VIEW maintenance over a [[ManifestTable]]'s
  * CDC stream: keep a per-key count/sum aggregate current by applying
  * the row-level delta of each commit instead of recomputing the
  * snapshot — the standard warehouse pattern (Delta CDF → MERGE,
  * Materialize/Flink incremental aggregation) that turns an
  * O(100 TB snapshot) refresh into an O(changed rows) one.
  *
  * Count and sum are SELF-INVERTIBLE aggregates: an update's preimage
  * subtracts and its postimage adds, so state never needs the base
  * table. Non-invertible aggregates (min/max, distinct) need either a
  * re-scan of affected groups or per-group sketches — out of scope
  * here, documented rather than faked.
  */
object IncrementalView {

  /** The maintained state's schema: `groupCols`, `n_rows`, `sum_<valueCol>`. */
  private def sumCol(valueCol: String) = s"sum_$valueCol"

  /** Full recompute — the bootstrap (and the spec's ground truth). */
  def compute(snapshot: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    snapshot.groupBy(groupCols.map(col): _*)
      .agg(sum(lit(1L)).as("n_rows"), sum(col(valueCol)).as(sumCol(valueCol)))

  /** Apply the CDC events of one version range to a previously
    * materialized `state` and return the new state.
    *
    * `changes` must be a [[ManifestTable.readChanges]] frame WITH
    * preimages (`update_preimage` rows present) — without them an
    * updated row's old contribution could not be subtracted, and the
    * state would silently drift ([[hasPreimageContract]] detects the
    * footprint of a flagless frame: every postimage has a preimage
    * sibling; [[refresh]] always passes `preimages = true`).
    *
    * Scale shape: the delta aggregates FIRST (combiner-friendly, keyed
    * by the group columns of the changed rows only) and is BROADCAST
    * everywhere it meets the state — the state, arbitrarily large, is
    * NEVER shuffled. A naive full-outer join would force exactly that
    * (Spark cannot broadcast a full outer join), so the merge is
    * decomposed into broadcast-only passes:
    *
    *  - existing groups: state LEFT OUTER broadcast(delta) — every
    *    state row streams through once, touched groups absorb their
    *    delta;
    *  - brand-new groups: delta keys minus the TOUCHED state keys
    *    (state SEMI broadcast(delta), a delta-bounded table, then
    *    delta ANTI broadcast(touched)) — never a build side of the
    *    full state.
    *
    * Groups whose row count reaches zero are dropped, so deletes fully
    * retract. */
  def maintain(state: DataFrame, changes: DataFrame,
      groupCols: Seq[String], valueCol: String): DataFrame = {
    val sc = sumCol(valueCol)
    require(state.columns.toSeq == (groupCols :+ "n_rows" :+ sc),
      s"state schema ${state.columns.toSeq} is not ${groupCols :+ "n_rows" :+ sc}")
    val sgn = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
    val delta = changes
      .withColumn("__sgn", sgn)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__sgn")).as("d_rows"),
        sum(col("__sgn") * col(valueCol)).as("d_sum"))
    def on(l: String, r: String) =
      groupCols.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)
    val existing = state.as("s").join(broadcast(delta.as("d")), on("s", "d"), "left_outer")
      .select(
        groupCols.map(k => col(s"s.$k").as(k)) ++ Seq(
          (col("s.n_rows") + coalesce(col("d.d_rows"), lit(0L))).as("n_rows"),
          (col(s"s.$sc") + coalesce(col("d.d_sum"), lit(0L))).as(sc)): _*)
    val touched = state.select(groupCols.map(col): _*).as("s")
      .join(broadcast(delta.as("d")), on("s", "d"), "left_semi")
    val fresh = delta.as("d").join(broadcast(touched.as("t")), on("d", "t"), "left_anti")
      .select(groupCols.map(col) ++
        Seq(col("d_rows").as("n_rows"), col("d_sum").as(sc)): _*)
    existing.union(fresh).where(col("n_rows") > 0)
  }

  /** Convenience: roll a materialized state forward across a version
    * range by applying each single-version delta in turn — what a
    * scheduled refresh job does after several commits landed. One
    * [[maintain]] pass per version keeps every intermediate delta
    * minimal (per-commit changed partitions only). */
  def refresh(state: DataFrame, root: String, fromV: Int, toV: Int,
      key: Seq[String], groupCols: Seq[String], valueCol: String): DataFrame =
    (fromV until toV).foldLeft(state) { (st, v) =>
      val ch = ManifestTable.readChanges(
        state.sparkSession, root, v, v + 1, key, preimages = true)
      maintain(st, ch, groupCols, valueCol)
    }

  /** BATCHED catch-up: the whole `(fromV, toV]` range in ONE
    * [[maintain]] pass over ONE snapshot diff — for a view waking up
    * many versions behind, where [[refresh]] pays a read and a
    * broadcast-merge per version. Count/sum are self-invertible, so
    * the range diff's signed contributions telescope to the same
    * state the per-version fold reaches (a row that churned five
    * times inside the range contributes one subtraction + one
    * addition); PropertySpec pins batched ≡ per-version ≡ recompute
    * on generated histories. The CALLER owns the watermark here
    * (`state` is a plain DataFrame) — `fromV` must be the version the
    * state reflects, exactly [[refresh]]'s own contract; the
    * ManifestTable-backed [[applyBatch]] path carries the txn-tag
    * watermark for callers that need exactly-once. */
  def refreshBatched(state: DataFrame, root: String, fromV: Int, toV: Int,
      key: Seq[String], groupCols: Seq[String], valueCol: String): DataFrame =
    if (toV <= fromV) state
    else maintain(state,
      ManifestTable.readChanges(
        state.sparkSession, root, fromV, toV, key, preimages = true),
      groupCols, valueCol)

  /** EXACTLY-ONCE streaming maintenance step: apply one CDC micro-batch
    * to a ManifestTable-BACKED state and commit the result with the
    * batch id as the commit's transaction tag. Tag and state land in
    * the SAME atomic pointer swap ([[ManifestTable.commitTag]]), so a
    * replayed batch — delivered again after a crash anywhere between
    * sink commit and checkpoint write — reads its own id back from the
    * current state version and SKIPS. No marker-after-commit window,
    * no double-applied delta: the non-idempotence of `maintain` (a
    * delta applied twice double-counts) is exactly why the tag must be
    * inside the commit, not beside it.
    *
    * Scale: reads only the state snapshot (group-cardinality-sized) and
    * the batch; the commit rewrites state files — for a state large
    * enough that rewriting dominates, the same tag protocol composes
    * with a partitioned state table. */
  def applyBatch(stateRoot: String, batch: DataFrame, batchId: Long,
      groupCols: Seq[String], valueCol: String, scope: String = ""): Unit = {
    val spark = batch.sparkSession
    val cur = ManifestTable.currentVersion(stateRoot)
    // watermark = newest batch= tag IN THIS SCOPE in the RETAINED
    // HISTORY, not just the head commit (ADVICE r10): an untagged
    // commit landing between batches (manual compaction, restore,
    // operator merge) must not reset the watermark and let a replayed
    // batch double-apply; a tag from ANOTHER stream's scope must not
    // mask this one's ([[ManifestTable.batchTag]])
    val lastApplied = ManifestTable.lastBatchTag(stateRoot, scope)
    if (batchId <= lastApplied) return // replay: this batch already produced a state
    val state =
      if (cur >= 1) ManifestTable.read(spark, stateRoot)
      else compute( // empty state in the right shape, derived from the batch
        batch.where(lit(false))
          .select((groupCols :+ valueCol).map(col): _*), groupCols, valueCol)
    val next = maintain(state, batch, groupCols, valueCol)
    ManifestTable.commitSnapshot(next, stateRoot, Nil,
      Some(ManifestTable.batchTag(scope, batchId)))
  }

  /** The turnkey form: a streaming query that keeps `stateRoot` equal
    * to the incremental aggregate of the [[ManifestTable]] at
    * `corpusRoot`, fed by the `graft-manifest-cdc` source (offsets in
    * `checkpoint`) and committed exactly-once via [[applyBatch]]
    * ([[IndexLifecycle.stream]]). */
  def startMaintenance(spark: org.apache.spark.sql.SparkSession,
      corpusRoot: String, stateRoot: String, key: Seq[String],
      groupCols: Seq[String], valueCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexLifecycle.stream(spark, corpusRoot, key.mkString(","), checkpoint,
        startingVersion = 0) {
      (b, id, scope) => applyBatch(stateRoot, b, id, groupCols, valueCol, scope)
    }

  /** Guard against the silent-drift footgun named in [[maintain]]'s
    * doc: a changes frame produced WITHOUT preimages. Used by specs. */
  private[graft] def hasPreimageContract(changes: DataFrame): Boolean = {
    val ct = changes.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ct.getOrElse("update_postimage", 0L) == ct.getOrElse("update_preimage", 0L)
  }
}
