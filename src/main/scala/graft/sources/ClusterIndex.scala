package graft.sources

import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexLifecycle.checkpointCounted

/** Incrementally-maintained NEAR-DUP COMPONENTS over a [[ManifestTable]]
  * corpus — q54's clustering as a maintained table instead of a
  * per-query graph solve. [[DedupIndex]] maintains the band-bucket
  * EDGES; this maintains their TRANSITIVE CLOSURE:
  *
  *  - a MEMBERSHIP table (`doc_id → rep`, rep = min doc_id of the
  *    component, exactly q54's label contract), hash-bucketed by
  *    doc_id;
  *  - an inverted MEMBERS-BY-REP table (`rep → doc_id`), hash-bucketed
  *    by rep — what lets a cluster merge/split find the affected
  *    members with a bucket-pruned read instead of a table scan.
  *
  * Maintenance is AFFECTED-CLUSTER-BOUNDED, the honest incremental
  * contract for connected components (a single new document can merge
  * two arbitrarily large clusters — no algorithm can be cheaper than
  * touching the cluster that changes):
  *
  *  1. the batch's changed docs + the corpus docs they band-collide
  *     with seed the affected set (one probe join against the band
  *     index — the batch side broadcasts, the index streams once, the
  *     [[DedupIndex.probeNearDup]] scale shape);
  *  2. the seeds' current reps come from a bucket-pruned membership
  *     read; the reps' full member lists from a bucket-pruned
  *     members-by-rep read — together the affected set M;
  *  3. M's edges are re-derived from the band INDEX rows of M
  *     (bucket-pruned; documents are never re-shingled — the
  *     self-collision argument in the Scaladoc of [[applyChanges]]
  *     proves no M↔non-M edge can exist);
  *  4. M's components are re-solved with the single-task union-find
  *     ([[TextOps.componentLabelsLocal]] — M is affected-cluster-sized,
  *     capped loudly at [[MaxAffectedDocs]]) and both tables are
  *     rewritten for M only, via tombstones for moved/deleted rows.
  *
  * Updates and deletes are handled uniformly: the band index (which
  * MUST be maintained first — [[applyChanges]] reads the post-batch
  * band rows) already tombstoned the old images' bands, so a deleted
  * bridge doc simply stops contributing edges and its cluster SPLITS
  * into whatever the remaining edges connect.
  *
  * Exactly-once rides the [[IndexLifecycle]]; ClusterIndexSpec pins
  * maintained ≡ recomputed across insert / cluster-merge /
  * bridge-update / delete-split commits,
  * replay rejection, and parity with q54 on the real documents table.
  */
object ClusterIndex {

  /** Same role as [[DedupIndex.IndexBuckets]]. */
  val IndexBuckets: Int = DedupIndex.IndexBuckets

  /** Loud bound on the affected set M (changed docs + their clusters'
    * members): the re-solve is single-task by design (union-find over
    * affected clusters), so M must stay a bounded slice — past this,
    * the right tool is an offline [[bootstrap]] recompute, not a
    * silently O(corpus) "incremental" pass. */
  val MaxAffectedDocs: Long = 5000000L

  private def withMBucket(df: DataFrame): DataFrame =
    df.withColumn("mbucket", ManifestTable.bucketIdColumn(col("doc_id"), IndexBuckets))

  private def withRBucket(df: DataFrame): DataFrame =
    df.withColumn("rbucket", ManifestTable.bucketIdColumn(col("rep"), IndexBuckets))

  /** Band-collision edges (doc_a < doc_b) among `bands`' docs,
    * materialized once with their count — the count picks the solver
    * ([[TextOps.LocalComponentsMaxEdges]]), the rows feed it. */
  private def edgesOf(bands: DataFrame): (DataFrame, Long) =
    checkpointCounted(bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())

  // ------------------------------------------------------------ compute

  /** Ground-truth membership of a corpus snapshot: (doc_id, rep,
    * n_tokens) with rep = min doc_id of the band-collision component —
    * exactly the labels q54 assigns. `n_tokens` (q69's keeper metric)
    * rides the membership row so keeper selection never re-reads the
    * corpus. Edge definition shared with q30/q126 through
    * [[TextOps.bandRowsOf]]. */
  def computeMembership(docs: DataFrame): DataFrame = {
    val (edges, nEdges) = edgesOf(TextOps.bandRowsOf(docs))
    // local labels are materialized (the iterative solver's already
    // are): the returned frame may be evaluated by several consumers
    val labels =
      if (nEdges <= TextOps.LocalComponentsMaxEdges)
        TextOps.componentLabelsLocal(edges).localCheckpoint()
      else TextOps.componentLabelsIterative(edges)
    docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep"),
        col("n_tokens"))
  }

  /** Bootstrap both tables from a corpus snapshot. */
  def bootstrap(docs: DataFrame, membRoot: String, repRoot: String): Unit = {
    val memb = computeMembership(docs).withColumn("live", lit(true)).localCheckpoint()
    ManifestTable.declareBuckets(membRoot, "doc_id", IndexBuckets)
    ManifestTable.mergePartitioned(
      withMBucket(memb).select(col("mbucket"), col("doc_id"), col("rep"),
        col("n_tokens"), col("live")),
      membRoot, Seq("mbucket", "doc_id"), "mbucket")
    ManifestTable.declareBuckets(repRoot, "rep", IndexBuckets)
    ManifestTable.mergePartitioned(
      withRBucket(memb).select(col("rbucket"), col("rep"), col("doc_id"), col("live")),
      repRoot, Seq("rbucket", "rep", "doc_id"), "rbucket")
  }

  // -------------------------------------------------------------- reads

  /** Live membership (doc_id, rep). */
  def readMembership(spark: SparkSession, membRoot: String): DataFrame =
    ManifestTable.read(spark, membRoot).where(col("live"))
      .select(col("doc_id"), col("rep"))

  /** q69's exact output shape from the maintained state: per component
    * keep the longest doc (token count, min doc_id on ties) —
    * (component_id, keeper_id, keeper_tokens, component_size). The
    * token counts live IN the membership rows, so the decision is one
    * window over the maintained table; the corpus is not read. */
  def readKeepers(spark: SparkSession, membRoot: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("rep"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    ManifestTable.read(spark, membRoot).where(col("live"))
      .select(col("doc_id"), col("rep"), col("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .withColumn("component_size",
        count(lit(1)).over(Window.partitionBy(col("rep"))))
      .where(col("rn") === 1)
      .select(col("rep").as("component_id"), col("doc_id").as("keeper_id"),
        col("n_tokens").as("keeper_tokens"), col("component_size"))
  }

  /** q54's exact output shape from the maintained state:
    * (doc_id, component_id, component_size). */
  def readComponents(spark: SparkSession, membRoot: String): DataFrame = {
    val memb = readMembership(spark, membRoot)
    val sizes = memb.groupBy(col("rep")).agg(count(lit(1)).as("component_size"))
    memb.join(sizes, "rep")
      .select(col("doc_id"), col("rep").as("component_id"), col("component_size"))
  }

  /** Bucket-pruned live membership rows of the given doc ids. */
  private def membOf(spark: SparkSession, membRoot: String, ids: DataFrame): DataFrame =
    if (ManifestTable.currentVersion(membRoot) < 1)
      ids.select(col("doc_id"), lit(0L).as("rep"), lit(0L).as("n_tokens")).limit(0)
    else
      ManifestTable.readKeyPruned(spark, membRoot, "doc_id", IndexBuckets, ids)
        .where(col("live"))
        .select(col("doc_id"), col("rep"), col("n_tokens"))

  /** Bucket-pruned member lists of the given reps. `includeDead` keeps
    * tombstoned (rep → doc) rows too: the maintenance pass sets it —
    * a dead row still WITNESSES that the doc was recently a member, and
    * that witness is what lets a crash-replay (rep table already
    * rewritten, membership not) find the docs whose membership rows the
    * first attempt meant to move. Probe/read surfaces keep the default. */
  private def membersOf(spark: SparkSession, repRoot: String,
      reps: DataFrame, includeDead: Boolean = false): DataFrame =
    if (ManifestTable.currentVersion(repRoot) < 1)
      reps.select(col("rep"), lit(0L).as("doc_id"), lit(true).as("live")).limit(0)
    else
      ManifestTable.readKeyPruned(spark, repRoot, "rep", IndexBuckets, reps)
        .where(if (includeDead) lit(true) else col("live"))
        .select(col("rep"), col("doc_id"), col("live"))

  /** Bucket-pruned live band rows of the given doc ids, from the
    * maintained band index (never re-shingles a document). Empty-table
    * guard matches [[membOf]]/[[membersOf]]: a first batch against a
    * not-yet-created band index reads as "no rows", not a crash. */
  private def bandRowsFromIndex(spark: SparkSession, bandRoot: String,
      ids: DataFrame): DataFrame =
    if (ManifestTable.currentVersion(bandRoot) < 1)
      ids.select(col("doc_id"), lit(0).as("band"), lit("").as("bucket")).limit(0)
    else
      ManifestTable.readKeyPruned(spark, bandRoot, "doc_id", IndexBuckets, ids)
        .where(col("live"))
        .select(col("doc_id"), col("band"), col("bucket"))

  /** Age `live = false` tombstones out of both cluster tables
    * ([[DedupIndex.purgeTombstones]]'s reasoning — a dead membership or
    * members-by-rep row is semantically absent to readers and to the
    * next affected-cluster rewrite). */
  def purgeTombstones(spark: SparkSession, membRoot: String, repRoot: String): Unit = {
    if (ManifestTable.currentVersion(membRoot) >= 1)
      ManifestTable.rewriteWhere(spark, membRoot, "mbucket", col("live"))
    if (ManifestTable.currentVersion(repRoot) >= 1)
      ManifestTable.rewriteWhere(spark, repRoot, "rbucket", col("live"))
  }

  // -------------------------------------------------------- maintenance

  /** Apply one corpus CDC batch to the cluster tables. PRECONDITION:
    * [[DedupIndex.maintainBandIndex]] has already absorbed the SAME
    * batch (this pass reads post-batch band rows; the turnkey
    * [[startMaintenance]] and [[applyBatch]] order the two).
    *
    * Why the affected set is closed under band edges: suppose m is a
    * member of an affected cluster and o an outside doc with a band
    * collision (m, o). That collision is an EDGE, so o was connected to
    * m before the batch, so o is in m's cluster, so o is among the
    * rep's members — inside M. Hence M's induced subgraph contains
    * every edge touching M, and re-solving M alone is exact. */
  def applyChanges(spark: SparkSession, changes: DataFrame,
      bandRoot: String, membRoot: String, repRoot: String,
      tag: Option[String] = None): Unit = {
    // Each intermediate is materialized ONCE: a frame read by several
    // steps is a lazy checkpoint that its first consumer's job fills, a
    // guard counts in the job that fills its frame, and a frame with one
    // consumer is not checkpointed at all.
    // 0. one (doc_id, is_deleted) row per changed doc; its count is the
    // empty-batch exit
    val (ids, nChanged) = checkpointCounted(changes.groupBy(col("doc_id"))
      .agg(max(col("_change_type") === "delete").as("is_deleted")))
    if (nChanged == 0) return
    val changedIds = ids.select(col("doc_id"))
    val deleted = ids.where(col("is_deleted")).select(col("doc_id"))

    // 1. corpus docs band-colliding with the changed docs' NEW images:
    // batch-side band rows come from the (already maintained) index —
    // pruned read — and broadcast against the full index stream
    // unhinted equi join, [[DedupIndex.probeNearDup]]'s reasoning: the
    // batch side is small at production ratios (AQE broadcasts it), but
    // a bootstrap-sized first batch must not be force-broadcast
    val chBands = bandRowsFromIndex(spark, bandRoot, changedIds)
    val collided = DedupIndex.readBandIndex(spark, bandRoot).as("b")
      .join(chBands.as("a"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("b.doc_id")).distinct()
    val seeds = changedIds.union(collided).distinct().localCheckpoint(eager = false)

    // 2. affected reps and their member lists → M. Dead (rep → doc)
    // rows are followed too, but GUARDEDLY: on a crash-replay the rep
    // table is already rewritten and the tombstones it wrote are the
    // only remaining pointers to the docs whose membership rows the
    // first attempt meant to move (ClusterIndexSpec's injected crash).
    // A tombstone can however also be STALE — left by an earlier,
    // COMPLETED batch that moved the doc to a cluster this batch does
    // not touch (purge is manual). Following such a tombstone would
    // pull the doc into M without its current cluster-mates, the
    // induced-edge solve would see none of its edges, and the doc
    // would be silently split off as a singleton. Disambiguation: keep
    // a dead-reached doc only if its LIVE membership rep is itself in
    // seedReps — true on crash-replay (membership was never moved, so
    // it still points at the affected old rep), false for a stale
    // tombstone (membership points at the doc's new, unaffected
    // cluster). Pinned by ClusterIndexSpec's successive-batches test.
    val seedReps = membOf(spark, membRoot, seeds)
      .select(col("rep")).distinct().localCheckpoint(eager = false)
    val reached = membersOf(spark, repRoot, seedReps, includeDead = true)
      .localCheckpoint(eager = false)
    val liveMembers = reached.where(col("live")).select(col("doc_id"))
    val deadOnly = reached.where(!col("live")).select(col("doc_id")).distinct()
      .join(liveMembers, Seq("doc_id"), "left_anti")
    val deadKept = membOf(spark, membRoot, deadOnly)
      .join(broadcast(seedReps), Seq("rep"), "left_semi")
      .select(col("doc_id"))
    val (m, walkCount) =
      checkpointCounted(liveMembers.union(deadKept).union(seeds).distinct())
    // FAIL-FAST guard before the heavy pruned-read/broadcast work below:
    // the walk-reached set is an upper bound on the re-solved set (it
    // still carries this batch's deletes and long-dead docs), so it is
    // checked against a LOOSER bound — tripping it means either a
    // genuinely over-cap merge or a tombstone backlog so large that
    // purgeTombstones/bootstrap is overdue; either way, stop before a
    // multi-million-row broadcast replaces this message with an OOM.
    // The EXACT cap on the solver's input is below, on mLive.
    require(walkCount <= 4 * MaxAffectedDocs,
      s"cluster maintenance walk reached $walkCount docs (> ${4 * MaxAffectedDocs} " +
        "fail-fast bound): the batch merges clusters beyond the single-task " +
        "re-solve, or tombstones have accumulated far past the purge cadence - " +
        "run purgeTombstones and/or a bootstrap recompute")
    // docs reached ONLY through a tombstone may be long-deleted
    // (membership row dead): keep a doc only if this batch touches it
    // or its membership row is LIVE — never resurrect a deleted doc
    val mNotDeleted = m.join(broadcast(deleted), Seq("doc_id"), "left_anti")
    // the cap bounds the RE-SOLVED set (mLive is what feeds the edge
    // build and the single-task solver) — counting m instead would let
    // accumulated tombstones and this batch's deletes inflate the count
    // and spuriously demand a bootstrap recompute
    val (mLive, mCount) = checkpointCounted(mNotDeleted.join(
      broadcast(membOf(spark, membRoot, mNotDeleted).select(col("doc_id"))
        .union(seeds).distinct()),
      Seq("doc_id"), "left_semi"))
    require(mCount <= MaxAffectedDocs,
      s"cluster maintenance would touch $mCount docs (> $MaxAffectedDocs cap): " +
        "the batch merges/splits clusters larger than the single-task re-solve " +
        "is sized for - run a bootstrap recompute instead")

    // 3. M's induced edges, from stored band rows only
    val (edges, nEdges) = edgesOf(bandRowsFromIndex(spark, bandRoot, mLive))

    // 4. re-solve and rewrite M's rows in both tables. Token counts
    // (q69's keeper metric) come from the batch for changed docs and
    // carry over from the old membership rows for everyone else — the
    // corpus is never re-read
    // same dual-solver gate as [[computeMembership]]: the DOC cap above
    // does not bound EDGES (two merging hot clusters can induce orders
    // of magnitude more), so the single-task solver must not be
    // unconditional
    val labels =
      if (nEdges <= TextOps.LocalComponentsMaxEdges) TextOps.componentLabelsLocal(edges)
      else TextOps.componentLabelsIterative(edges)
    val oldPairs = membOf(spark, membRoot, m) // pre-update assignment of M
      .select(col("doc_id"), col("rep").as("old_rep"), col("n_tokens"))
      .localCheckpoint(eager = false)
    val newTokens = changes
      .where(col("_change_type").isin("insert", "update_postimage"))
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .distinct()
    val tokensOfM = newTokens.union(
      oldPairs.select(col("doc_id"), col("n_tokens"))
        .join(broadcast(newTokens.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    val newMemb = mLive
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep"))
      .join(tokensOfM, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rep"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .localCheckpoint(eager = false)

    // COMMIT ORDER CONTRACT: members-by-rep FIRST, membership LAST —
    // the batch watermark applyBatch consults lives on membRoot, so the
    // guard must ride the FINAL commit. A crash in between leaves
    // membRoot untagged, the replay re-enters this pass, and the
    // re-run converges: every input derives from the CDC batch, the
    // band index, and the STILL-UNTOUCHED membership table, except the
    // affected-set walk over the half-committed repRoot — which finds
    // the first attempt's moved docs through the tombstones it wrote
    // (membersOf includeDead above), re-derives the same labels, and
    // re-applies the same keyed rows idempotently. Committing
    // membership first would instead let the tag mask a permanently
    // stale rep table — worse, the replay's `moved` set would read
    // post-commit membership and compute empty.

    // members-by-rep: tombstone rows whose (rep → doc) pairing vanished
    // (moved doc, deleted doc), then write the new live pairings
    val moved = oldPairs.as("o")
      .join(newMemb.as("n"), Seq("doc_id"), "left_outer")
      .where(col("n.rep").isNull || col("o.old_rep") =!= col("n.rep"))
      .select(col("o.old_rep").as("rep"), col("doc_id"), lit(false).as("live"))
    val repRows = newMemb.select(col("rep"), col("doc_id"))
      .withColumn("live", lit(true))
      .union(moved)
    ManifestTable.declareBuckets(repRoot, "rep", IndexBuckets)
    ManifestTable.mergePartitioned(
      withRBucket(repRows).select(col("rbucket"), col("rep"), col("doc_id"), col("live")),
      repRoot, Seq("rbucket", "rep", "doc_id"), "rbucket", tag = tag)

    if (injectCrashBetweenCommits) {
      injectCrashBetweenCommits = false
      throw new IllegalStateException(
        "injected crash between repRoot and membRoot commits (test hook)")
    }

    val membRows =
      newMemb.withColumn("live", lit(true))
        .union(deleted.select(col("doc_id"), lit(-1L).as("rep"),
          lit(0L).as("n_tokens"), lit(false).as("live")))
    ManifestTable.declareBuckets(membRoot, "doc_id", IndexBuckets)
    ManifestTable.mergePartitioned(
      withMBucket(membRows).select(col("mbucket"), col("doc_id"), col("rep"),
        col("n_tokens"), col("live")),
      membRoot, Seq("mbucket", "doc_id"), "mbucket", tag = tag)
  }

  /** Test hook (ClusterIndexSpec): throw after the repRoot commit and
    * before the membRoot commit, simulating the one crash window the
    * commit-order contract above must survive. Self-clearing. */
  private[graft] var injectCrashBetweenCommits: Boolean = false

  /** Watermark scope of the polling path ([[DedupIndex.PollScope]]'s
    * role) — distinct from any stream's checkpoint-digest scope. */
  private[graft] val PollScope = "cluster-refresh-poll"

  // ------------------------------------- exactly-once: [[IndexLifecycle]]
  // The band index first (its own watermark), the cluster tables after:
  // the re-solve walks the STORED band table and must see the batch's
  // post-state rows. The cluster pair's watermark rides membRoot — the
  // table [[applyChanges]] commits LAST — so a crash between its two
  // commits leaves the batch untagged and the replay re-enters a pass
  // whose rewrites are idempotent; ClusterIndexSpec injects that crash.
  // The band index is routinely co-maintained by
  // [[DedupIndex.startIndexMaintenance]] under another scope; a band
  // delta re-applied from here is a keyed merge, idempotent.
  //
  // Batched catch-up after a crash split (band ONE AHEAD): a doc changed
  // A→B in the crashed commit and reverted B→A inside the range nets to
  // nothing from the cluster watermark — right for membership, but only
  // the band's own diff carries the B→A event that retracts the B rows
  // its full-key-coverage merge already wrote. Hence per-table bases.

  private def lifecycle(bandRoot: String, membRoot: String, repRoot: String) =
    new IndexLifecycle("doc_id", PollScope, Seq(
      (bandRoot, (ch, tag) => DedupIndex.maintainBandIndex(ch.sparkSession, ch, bandRoot, tag)),
      (membRoot, (ch, tag) =>
        applyChanges(ch.sparkSession, ch, bandRoot, membRoot, repRoot, tag))))

  def applyBatch(changes: DataFrame, batchId: Long,
      bandRoot: String, membRoot: String, repRoot: String,
      scope: String = ""): Unit =
    lifecycle(bandRoot, membRoot, repRoot).applyBatch(changes, batchId, scope)

  def refresh(spark: SparkSession, corpusRoot: String, bandRoot: String,
      membRoot: String, repRoot: String, fromV: Int, toV: Int): Unit =
    lifecycle(bandRoot, membRoot, repRoot).refresh(spark, corpusRoot, fromV, toV)

  def refreshBatched(spark: SparkSession, corpusRoot: String,
      bandRoot: String, membRoot: String, repRoot: String,
      fromV: Int, toV: Int): Unit =
    lifecycle(bandRoot, membRoot, repRoot).refreshBatched(spark, corpusRoot, fromV, toV)

  /** If the tables were seeded by [[bootstrap]], pass the corpus version
    * it saw as `startingVersion`: the cluster rewrites are idempotent,
    * so a re-emitted snapshot costs a full re-solve and re-shingle
    * rather than corruption. */
  def startMaintenance(spark: SparkSession, corpusRoot: String,
      bandRoot: String, membRoot: String, repRoot: String, checkpoint: String,
      startingVersion: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    lifecycle(bandRoot, membRoot, repRoot).startMaintenance(spark, corpusRoot,
      checkpoint, startingVersion)
}
