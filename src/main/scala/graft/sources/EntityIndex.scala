package graft.sources

import graft.functions.{EntityOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained ENTITY RESOLUTION over a [[ManifestTable]]
  * record corpus — the q155 pipeline as a maintained catalog instead of
  * a per-query solve, completing the index story: every other family
  * (exact-dup fingerprints, LSH bands, near-dup clusters, vectors,
  * moments, document frequency) already has a CDC face; this gives the
  * ER family its own. Three tables:
  *
  *  - a BLOCK index (`(slot, key) → name`, live-flagged), hash-bucketed
  *    by key — the reverse probe "which names share a block with this
  *    one", and the source of truth for block SIZES (the cap input);
  *  - a MEMBERSHIP table (`name → (entity, n_records)`), hash-bucketed
  *    by name — the read surface a record pipeline joins against;
  *  - a MEMBERS-BY-ENTITY table (`entity → name`), hash-bucketed by
  *    entity — what lets an entity merge/split find its members with a
  *    bucket-pruned read instead of a table scan.
  *
  * ENTITY ID = the lexicographically smallest member NAME (the
  * canonical name). q155's batch face labels by min record key, which
  * is NOT stable under record churn: deleting the record that carries a
  * name's min key would relabel the name — and transitively its whole
  * entity — forcing a corpus read to re-derive the min. The canonical
  * NAME is a pure function of the component's name set, so record
  * arrivals and retractions that do not change the name DIMENSION
  * cannot move any entity id, and the maintained face never reads the
  * record corpus at all: per-name record counts are maintained by
  * SIGNED DELTA from the CDC events (insert/update_postimage +1,
  * delete/update_preimage −1), and a name's LIVENESS (count 0 ↔ >0) is
  * the only thing clustering ever consumes.
  *
  * Maintenance is AFFECTED-ENTITY-BOUNDED ([[ClusterIndex]]'s honest
  * contract, on the name dimension):
  *
  *  1. liveness transitions (arrivals, retractions) come from the
  *     batch's per-name count deltas against the membership table;
  *  2. the block index absorbs them FIRST (arrivals add rows,
  *     retractions tombstone) — its keyed merge is idempotent;
  *  3. blocks whose size crossed the [[EntityOps.MaxBlockSize]] cap in
  *     EITHER direction contribute ALL their names to the affected set
  *     (a cap crossing changes every pair-edge in the block — the one
  *     way an untouched name's edges can change; pre-sizes are derived
  *     as post − arrivals + retractions, so a crash-replay that finds
  *     the block index already committed still reconstructs them);
  *  4. seeds = transitions ∪ cap-crossing names ∪ names sharing a live
  *     capped block with an arrival; M = seeds ∪ all members of the
  *     seeds' current entities (bucket-pruned members-by-entity read).
  *     M is closed under post-batch match edges: a pre-existing edge
  *     (m, o) puts o in m's entity — seeded, so o ∈ M; a NEW edge
  *     needs an arrived endpoint (other endpoint = collision seed) or
  *     a downward cap crossing (both endpoints cap-cross seeds);
  *  5. M's edges are re-derived from M's names (blocks are pure
  *     functions of the string) against POST-batch block sizes from
  *     the index, re-solved with the dedup family's dual component
  *     solver, and both entity tables are rewritten for M only, via
  *     tombstones for moved rows. Node ids for the solver are
  *     transient `monotonically_increasing_id`s — correctness needs
  *     only uniqueness, because the exposed label is min(name) per
  *     component, deterministic whatever the ids.
  *
  * Exactly-once rides [[ManifestTable]]'s txn-tag protocol with
  * [[ClusterIndex]]'s commit-order contract: block index first (own
  * watermark), members-by-entity next, membership LAST (the watermark
  * [[applyBatch]] consults) — a crash between the entity commits leaves
  * the batch untagged and the replay converges through the dead-row
  * witnesses the first attempt wrote. EntityIndexSpec pins maintained ≡
  * recomputed across arrival/merge/rename-split/retraction/cap-crossing
  * commits, the injected crash, replay rejection, and parity with
  * [[computeEntities]] on the real part table.
  */
object EntityIndex {

  /** Same role as [[DedupIndex.IndexBuckets]]. */
  val IndexBuckets: Int = DedupIndex.IndexBuckets

  /** Loud bound on the re-solved name set M: the affected-entity walk
    * is exact but a batch that merges entities beyond this belongs to a
    * [[bootstrap]] recompute, not a silently O(catalog) "incremental"
    * pass. Names are a dimension orders of magnitude under the record
    * count, so 2M names is already a pathological batch. */
  val MaxAffectedNames: Long = 2000000L

  private def withKBucket(df: DataFrame): DataFrame =
    df.withColumn("kbucket", ManifestTable.bucketIdColumn(col("key"), IndexBuckets))

  private def withMBucket(df: DataFrame): DataFrame =
    df.withColumn("mbucket", ManifestTable.bucketIdColumn(col("name"), IndexBuckets))

  private def withEBucket(df: DataFrame): DataFrame =
    df.withColumn("ebucket", ManifestTable.bucketIdColumn(col("entity"), IndexBuckets))

  // ------------------------------------------------------------ compute

  /** Ground-truth entities of a record snapshot: (name, entity,
    * n_records) with entity = min name of the match component —
    * blocking, cap, and edge definition shared with the q154/q155
    * family through [[EntityOps.matchEdgesOfNames]]. */
  def computeEntities(records: DataFrame,
      cap: Long = EntityOps.MaxBlockSize,
      blockers: Seq[EntityOps.Blocker] = EntityOps.PartBlockers): DataFrame = {
    val nd = EntityOps.nameCounts(records).localCheckpoint()
    val ids = nd.select(col("name"))
      .withColumn("id", monotonically_increasing_id()).localCheckpoint()
    val edges = EntityOps.matchEdgesOfNames(nd.select(col("name")), cap, blockers)
      .join(ids.select(col("name").as("name_a"), col("id").as("doc_a")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("id").as("doc_b")), "name_b")
      .select(col("doc_a"), col("doc_b"))
    labeledNames(ids, edges).join(nd, Seq("name"))
      .select(col("name"), col("entity"), col("n_records"))
  }

  /** Solve components over (name, id) nodes + (doc_a, doc_b) edges and
    * expose entity = min(name) per component (singletons label
    * themselves). The numeric solve reuses the dedup family's dual
    * solver; the ids are internal handles only. */
  private def labeledNames(ids: DataFrame, edges: DataFrame): DataFrame = {
    val labels =
      if (TextOps.isSubcritical(edges))
        TextOps.componentLabelsLocal(edges).localCheckpoint()
      else TextOps.componentLabelsIterative(edges)
    val labeled = ids
      .join(labels.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("name"), coalesce(col("lbl"), col("id")).as("lbl"))
    labeled.join(
        labeled.groupBy(col("lbl")).agg(min(col("name")).as("entity")), Seq("lbl"))
      .select(col("name"), col("entity"))
  }

  /** Bootstrap all three tables from a record snapshot. */
  def bootstrap(records: DataFrame, blockRoot: String, membRoot: String,
      entRoot: String, cap: Long = EntityOps.MaxBlockSize,
      blockers: Seq[EntityOps.Blocker] = EntityOps.PartBlockers): Unit = {
    val memb = computeEntities(records, cap, blockers)
      .withColumn("live", lit(true)).localCheckpoint()
    commitBlocks(EntityOps.blocksOfNames(memb.select(col("name")), blockers)
      .withColumn("live", lit(true)), blockRoot, None)
    commitEntities(memb.select(col("entity"), col("name"), col("live")),
      entRoot, None)
    commitMembership(memb.select(col("name"), col("entity"),
      col("n_records"), col("live")), membRoot, None)
  }

  private def commitBlocks(rows: DataFrame, blockRoot: String,
      tag: Option[String]): Unit = {
    ManifestTable.declareBuckets(blockRoot, "key", IndexBuckets)
    ManifestTable.mergePartitioned(
      withKBucket(rows).select(col("kbucket"), col("slot"), col("key"),
        col("name"), col("live")),
      blockRoot, Seq("kbucket", "slot", "key", "name"), "kbucket", tag = tag)
  }

  private def commitEntities(rows: DataFrame, entRoot: String,
      tag: Option[String]): Unit = {
    ManifestTable.declareBuckets(entRoot, "entity", IndexBuckets)
    ManifestTable.mergePartitioned(
      withEBucket(rows).select(col("ebucket"), col("entity"), col("name"),
        col("live")),
      entRoot, Seq("ebucket", "entity", "name"), "ebucket", tag = tag)
  }

  private def commitMembership(rows: DataFrame, membRoot: String,
      tag: Option[String]): Unit = {
    ManifestTable.declareBuckets(membRoot, "name", IndexBuckets)
    ManifestTable.mergePartitioned(
      withMBucket(rows).select(col("mbucket"), col("name"), col("entity"),
        col("n_records"), col("live")),
      membRoot, Seq("mbucket", "name"), "mbucket", tag = tag)
  }

  // -------------------------------------------------------------- reads

  /** Live membership (name, entity, n_records) — the row-level face a
    * record pipeline joins its dirty keys against. */
  def readMembership(spark: SparkSession, membRoot: String): DataFrame =
    ManifestTable.read(spark, membRoot).where(col("live"))
      .select(col("name"), col("entity"), col("n_records"))

  /** q162's face — the per-entity rollup from the maintained state:
    * (entity, n_names, n_records), entity = canonical (min) member
    * name. One aggregation over the maintained name dimension; the
    * record corpus is not read. */
  def readEntities(spark: SparkSession, membRoot: String): DataFrame =
    readMembership(spark, membRoot)
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_names"), sum(col("n_records")).as("n_records"))

  /** Bucket-pruned live membership rows of the given names. */
  private def membOf(spark: SparkSession, membRoot: String,
      names: DataFrame): DataFrame =
    if (ManifestTable.currentVersion(membRoot) < 1)
      names.select(col("name"), lit("").as("entity"), lit(0L).as("n_records"))
        .limit(0)
    else
      ManifestTable.readKeyPruned(spark, membRoot, "name", IndexBuckets, names)
        .where(col("live"))
        .select(col("name"), col("entity"), col("n_records"))

  /** Bucket-pruned member lists of the given entities; `includeDead`
    * follows [[ClusterIndex]]'s crash-witness reasoning verbatim. */
  private def membersOf(spark: SparkSession, entRoot: String,
      entities: DataFrame, includeDead: Boolean = false): DataFrame =
    if (ManifestTable.currentVersion(entRoot) < 1)
      entities.select(col("entity"), lit("").as("name"), lit(true).as("live"))
        .limit(0)
    else
      ManifestTable.readKeyPruned(spark, entRoot, "entity", IndexBuckets, entities)
        .where(if (includeDead) lit(true) else col("live"))
        .select(col("entity"), col("name"), col("live"))

  /** Bucket-pruned LIVE block rows of the given (slot, key) blocks —
    * the physical prune is on the key string; the exact (slot, key)
    * pair filter layers on top. */
  private def blockRowsOfKeys(spark: SparkSession, blockRoot: String,
      keys: DataFrame): DataFrame =
    if (ManifestTable.currentVersion(blockRoot) < 1)
      keys.select(col("slot"), col("key"), lit("").as("name")).limit(0)
    else
      ManifestTable.readKeyPruned(spark, blockRoot, "key", IndexBuckets,
          keys.select(col("key")))
        .where(col("live"))
        .join(broadcast(keys.select(col("slot"), col("key")).distinct()),
          Seq("slot", "key"), "left_semi")
        .select(col("slot"), col("key"), col("name"))

  /** Age tombstones out of all three tables ([[ClusterIndex.purgeTombstones]]). */
  def purgeTombstones(spark: SparkSession, blockRoot: String, membRoot: String,
      entRoot: String): Unit = {
    if (ManifestTable.currentVersion(blockRoot) >= 1)
      ManifestTable.rewriteWhere(spark, blockRoot, "kbucket", col("live"))
    if (ManifestTable.currentVersion(membRoot) >= 1)
      ManifestTable.rewriteWhere(spark, membRoot, "mbucket", col("live"))
    if (ManifestTable.currentVersion(entRoot) >= 1)
      ManifestTable.rewriteWhere(spark, entRoot, "ebucket", col("live"))
  }

  // -------------------------------------------------------- maintenance

  /** Per-name liveness transitions of one CDC batch against the
    * CURRENT membership table: (arrived, retracted, countOnly) where
    * countOnly = (name, entity, n_records) rows whose count changed but
    * stayed positive. Computed ONCE per batch — valid under both tag
    * guards because membership is the LAST table committed. */
  private def transitions(spark: SparkSession, changes: DataFrame,
      membRoot: String): (DataFrame, DataFrame, DataFrame) = {
    val sign = when(
      col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
    val deltas = changes.where(sign.isNotNull)
      .groupBy(col("p_name").as("name")).agg(sum(sign).as("d"))
      .where(col("d") =!= 0).localCheckpoint()
    val st = deltas
      .join(membOf(spark, membRoot, deltas.select(col("name"))), Seq("name"), "left")
      .select(col("name"), col("entity"),
        coalesce(col("n_records"), lit(0L)).as("old_n"),
        (coalesce(col("n_records"), lit(0L)) + col("d")).as("new_n"))
      .localCheckpoint()
    require(st.where(col("new_n") < 0).isEmpty,
      "entity index maintenance saw a per-name record count go negative: " +
        "the CDC stream is missing preimages or a batch was applied out of order")
    (st.where(col("old_n") === 0 && col("new_n") > 0).select(col("name"), col("new_n")),
      st.where(col("old_n") > 0 && col("new_n") === 0).select(col("name")),
      st.where(col("old_n") > 0 && col("new_n") > 0)
        .select(col("name"), col("entity"), col("new_n")))
  }

  /** Re-cluster the affected slice and rewrite the entity tables.
    * PRECONDITION: the block index has already absorbed the same
    * batch's transitions ([[applyBatch]] orders the two commits). */
  private def applyClusters(spark: SparkSession, arrived: DataFrame,
      retracted: DataFrame, countOnly: DataFrame,
      blockRoot: String, membRoot: String, entRoot: String,
      cap: Long, tag: Option[String],
      blockers: Seq[EntityOps.Blocker] = EntityOps.PartBlockers): Unit = {
    val transNames = arrived.select(col("name"))
      .union(retracted.select(col("name"))).localCheckpoint()
    if (transNames.isEmpty) {
      // count-only batch: entities and blocks are untouched; the
      // membership merge still carries the tag (it is the watermark)
      commitMembership(countOnly.select(col("name"), col("entity"),
        col("new_n").as("n_records")).withColumn("live", lit(true)),
        membRoot, tag)
      return
    }

    // pre-sizes derived from POST state (replay-safe: the block merge is
    // keyed and idempotent, so post — and with it pre = post − arrivals
    // + retractions — reads the same on first run and on crash-replay)
    val arrBlocks = EntityOps.blocksOfNames(arrived.select(col("name")), blockers)
      .localCheckpoint()
    val retrBlocks = EntityOps.blocksOfNames(retracted, blockers)
      .localCheckpoint()
    val touchedKeys = arrBlocks.select(col("slot"), col("key"))
      .union(retrBlocks.select(col("slot"), col("key"))).distinct()
      .localCheckpoint()
    val touchedRows = blockRowsOfKeys(spark, blockRoot, touchedKeys)
      .localCheckpoint()
    val post = touchedRows.groupBy(col("slot"), col("key"))
      .agg(count(lit(1)).as("post"))
    val delta = arrBlocks.groupBy(col("slot"), col("key"))
      .agg(count(lit(1)).as("na"))
      .join(retrBlocks.groupBy(col("slot"), col("key"))
        .agg(count(lit(1)).as("nr")), Seq("slot", "key"), "full_outer")
    val sizes = post.join(delta, Seq("slot", "key"), "full_outer")
      .select(col("slot"), col("key"),
        coalesce(col("post"), lit(0L)).as("post_sz"),
        (coalesce(col("post"), lit(0L)) - coalesce(col("na"), lit(0L))
          + coalesce(col("nr"), lit(0L))).as("pre_sz"))
      .localCheckpoint()
    val capCrossKeys = sizes
      .where((col("pre_sz") <= cap) =!= (col("post_sz") <= cap))
      .select(col("slot"), col("key"))
    val capNames = touchedRows
      .join(broadcast(capCrossKeys), Seq("slot", "key"), "left_semi")
      .select(col("name"))
    val collided = touchedRows
      .join(broadcast(arrBlocks.select(col("slot"), col("key")).distinct()),
        Seq("slot", "key"), "left_semi")
      .join(broadcast(sizes.where(col("post_sz") <= cap)
        .select(col("slot"), col("key"))), Seq("slot", "key"), "left_semi")
      .select(col("name"))
    val seeds = transNames.union(capNames).union(collided).distinct()
      .localCheckpoint()

    // affected entities → M ([[ClusterIndex.applyChanges]] step 2,
    // including the dead-witness disambiguation for crash-replays)
    val seedEntities = membOf(spark, membRoot, seeds)
      .select(col("entity")).distinct().localCheckpoint()
    val reached = membersOf(spark, entRoot, seedEntities, includeDead = true)
      .localCheckpoint()
    val liveMembers = reached.where(col("live")).select(col("name"))
    val deadOnly = reached.where(!col("live")).select(col("name")).distinct()
      .join(liveMembers, Seq("name"), "left_anti")
    val deadKept = membOf(spark, membRoot, deadOnly)
      .join(broadcast(seedEntities), Seq("entity"), "left_semi")
      .select(col("name"))
    val m = liveMembers.union(deadKept).union(seeds).distinct().localCheckpoint()
    val walkCount = m.count()
    require(walkCount <= 4 * MaxAffectedNames,
      s"entity maintenance walk reached $walkCount names (> ${4 * MaxAffectedNames} " +
        "fail-fast bound): run purgeTombstones and/or a bootstrap recompute")
    val oldM = membOf(spark, membRoot, m)
      .select(col("name"), col("entity").as("old_entity"),
        col("n_records").as("old_n")).localCheckpoint()
    val mLive = m.join(broadcast(retracted), Seq("name"), "left_anti")
      .join(broadcast(oldM.select(col("name"))
        .union(arrived.select(col("name"))).distinct()), Seq("name"), "left_semi")
      .localCheckpoint()
    val mCount = mLive.count()
    require(mCount <= MaxAffectedNames,
      s"entity maintenance would re-solve $mCount names (> $MaxAffectedNames cap): " +
        "the batch merges entities larger than the incremental pass is sized " +
        "for - run a bootstrap recompute instead")

    // M's induced edges against POST-batch global block sizes
    val mBlocks = EntityOps.blocksOfNames(mLive, blockers).localCheckpoint()
    val mSizes = blockRowsOfKeys(spark, blockRoot,
        mBlocks.select(col("slot"), col("key")).distinct())
      .groupBy(col("slot"), col("key")).agg(count(lit(1)).as("sz"))
    val liveKeys = mSizes.where(col("sz") <= cap).select(col("slot"), col("key"))
    val inLive = mBlocks.join(broadcast(liveKeys), Seq("slot", "key"))
    val cand = inLive.as("x").join(inLive.as("y"),
        col("x.slot") === col("y.slot") && col("x.key") === col("y.key") &&
          col("x.name") < col("y.name"))
      .select(col("x.name").as("name_a"), col("y.name").as("name_b"))
      .distinct()
      .where(levenshtein(col("name_a"), col("name_b")) <= EntityOps.MatchMaxDist)
    val ids = mLive.withColumn("id", monotonically_increasing_id())
      .localCheckpoint()
    val edges = cand
      .join(ids.select(col("name").as("name_a"), col("id").as("doc_a")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("id").as("doc_b")), "name_b")
      .select(col("doc_a"), col("doc_b"))
    val newCounts = arrived.select(col("name"), col("new_n"))
      .union(countOnly.select(col("name"), col("new_n"))).localCheckpoint()
    val newMemb = labeledNames(ids, edges)
      .join(newCounts, Seq("name"), "left")
      .join(oldM.select(col("name"), col("old_n")), Seq("name"), "left")
      .select(col("name"), col("entity"),
        coalesce(col("new_n"), col("old_n"), lit(0L)).as("n_records"))
      .localCheckpoint()

    // COMMIT ORDER CONTRACT ([[ClusterIndex.applyChanges]]): entities
    // first, membership LAST — the watermark rides membership, so a
    // crash between the two leaves the batch untagged and the replay
    // re-derives the same rows from the untouched membership table,
    // finding the first attempt's moved names through the tombstones
    // it wrote (membersOf includeDead above).
    val moved = oldM
      .join(newMemb.select(col("name"), col("entity")), Seq("name"), "left_outer")
      .where(col("entity").isNull || col("old_entity") =!= col("entity"))
      .select(col("old_entity").as("entity"), col("name"), lit(false).as("live"))
    commitEntities(
      newMemb.select(col("entity"), col("name")).withColumn("live", lit(true))
        .union(moved), entRoot, tag)

    if (injectCrashBetweenCommits) {
      injectCrashBetweenCommits = false
      throw new IllegalStateException(
        "injected crash between entRoot and membRoot commits (test hook)")
    }

    val membRows = newMemb.withColumn("live", lit(true))
      .union(retracted.select(col("name"), lit("").as("entity"),
        lit(0L).as("n_records"), lit(false).as("live")))
      .union(countOnly.join(m, Seq("name"), "left_anti")
        .select(col("name"), col("entity"), col("new_n").as("n_records"),
          lit(true).as("live")))
    commitMembership(membRows, membRoot, tag)
  }

  /** Test hook (EntityIndexSpec): throw after the entRoot commit and
    * before the membRoot commit. Self-clearing. */
  private[graft] var injectCrashBetweenCommits: Boolean = false

  /** EXACTLY-ONCE step for ONE record-corpus CDC micro-batch (must
    * carry preimages): block index first under its own watermark, the
    * entity re-solve after, under membership's. */
  def applyBatch(changes: DataFrame, batchId: Long,
      blockRoot: String, membRoot: String, entRoot: String,
      scope: String = "", cap: Long = EntityOps.MaxBlockSize,
      blockers: Seq[EntityOps.Blocker] = EntityOps.PartBlockers): Unit = {
    if (batchId <= ManifestTable.lastBatchTag(membRoot, scope)) return
    val spark = changes.sparkSession
    val ch = changes.select(col("p_partkey"), col("p_name"), col("_change_type"))
      .localCheckpoint()
    val tag = Some(ManifestTable.batchTag(scope, batchId))
    val (arrived, retracted, countOnly) = transitions(spark, ch, membRoot)
    val a = arrived.localCheckpoint()
    val r = retracted.localCheckpoint()
    val c = countOnly.localCheckpoint()
    if (batchId > ManifestTable.lastBatchTag(blockRoot, scope)) {
      val rows = EntityOps.blocksOfNames(a.select(col("name")), blockers)
        .withColumn("live", lit(true))
        .union(EntityOps.blocksOfNames(r, blockers)
          .withColumn("live", lit(false)))
      commitBlocks(rows, blockRoot, tag)
    }
    applyClusters(spark, a, r, c, blockRoot, membRoot, entRoot, cap, tag,
      blockers)
  }

  private[graft] val PollScope = "entity-refresh-poll"

  // ------------------------------------- lifecycle: [[IndexLifecycle]]
  // The entity pass is one membership-gated step ([[applyBatch]] above),
  // not a per-table list, so it takes the lifecycle's CDC reads, version
  // loop and stream with its own apply.

  private def applier(blockRoot: String, membRoot: String, entRoot: String,
      cap: Long, blockers: Seq[EntityOps.Blocker]): IndexLifecycle.Apply =
    (ch, id, scope) => applyBatch(ch, id, blockRoot, membRoot, entRoot, scope, cap, blockers)

  def refresh(spark: SparkSession, corpusRoot: String,
      blockRoot: String, membRoot: String, entRoot: String,
      fromV: Int, toV: Int, cap: Long = EntityOps.MaxBlockSize,
      blockers: Seq[EntityOps.Blocker] = EntityOps.PartBlockers): Unit =
    IndexLifecycle.refresh(spark, corpusRoot, "p_partkey", PollScope, fromV, toV)(
      applier(blockRoot, membRoot, entRoot, cap, blockers))

  /** BATCHED catch-up across `(fromV, toV]` — one snapshot-diff read,
    * one applyBatch: the state diff's net arrivals/retractions are
    * computed against the STORED membership, which is exactly the
    * watermark state, so name churn that nets to zero never seeds a
    * block update.
    *
    * A crash between the block and membership commits leaves the block
    * table AHEAD, and there a single net diff is NOT enough (ADVICE
    * r19): the crashed commit's block retraction is already stored, and
    * if the name re-arrives inside the range the net transition against
    * the stored membership is count-only, so nothing would re-mark those
    * rows live. Block rows derive from TRANSITIONS against a membership
    * state the crash never persisted, so a second diff from their own
    * watermark cannot heal them either. The split is closed the way
    * [[applyBatch]] heals replays: roll PER-VERSION until the watermarks
    * align, then batch the remainder. */
  def refreshBatched(spark: SparkSession, corpusRoot: String,
      blockRoot: String, membRoot: String, entRoot: String,
      fromV: Int, toV: Int, cap: Long = EntityOps.MaxBlockSize,
      blockers: Seq[EntityOps.Blocker] = EntityOps.PartBlockers): Unit = {
    val wMemb = ManifestTable.lastBatchTag(membRoot, PollScope)
    if (wMemb >= toV.toLong) return
    val wBlock = ManifestTable.lastBatchTag(blockRoot, PollScope)
    if (wMemb < wBlock)
      refresh(spark, corpusRoot, blockRoot, membRoot, entRoot,
        math.max(fromV.toLong, wMemb).toInt, math.min(wBlock, toV.toLong).toInt,
        cap, blockers)
    val base = math.max(fromV.toLong, math.max(wMemb, math.min(wBlock, toV.toLong))).toInt
    if (base < toV)
      applier(blockRoot, membRoot, entRoot, cap, blockers)(
        IndexLifecycle.changes(spark, corpusRoot, "p_partkey", base, toV),
        toV.toLong, PollScope)
    // membership FIRST: a crash between the two advances then leaves
    // the benign block-lagging direction (nothing diffs from the block
    // watermark), never a spurious block-ahead replay
    ManifestTable.advanceBatchWatermark(membRoot, PollScope, toV.toLong)
    ManifestTable.advanceBatchWatermark(blockRoot, PollScope, toV.toLong)
  }

  /** Pair a [[bootstrap]] with `startingVersion` = the bootstrapped
    * corpus version, or the snapshot batch double-counts every
    * n_records. */
  def startMaintenance(spark: SparkSession, corpusRoot: String,
      blockRoot: String, membRoot: String, entRoot: String, checkpoint: String,
      startingVersion: Int = 0, cap: Long = EntityOps.MaxBlockSize)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexLifecycle.stream(spark, corpusRoot, "p_partkey", checkpoint, startingVersion)(
      applier(blockRoot, membRoot, entRoot, cap, EntityOps.PartBlockers))
}
