package graft.sources

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained DOCUMENT-FREQUENCY index — [[DedupIndex]]'s
  * ref-count lifecycle applied to the VOCABULARY: one hash-bucketed
  * ManifestTable of (token → df_docs) counts plus a corpus-size row,
  * updated from the document table's CDC stream. A corpus commit
  * re-tokenizes only its changed docs (each contributing ±1 per
  * DISTINCT token), never the lake — so corpus-wide IDF stays current
  * per commit, and scoring an ARRIVING batch (q146's probe) reads only
  * the batch's tokens' hash-bucket partitions of the vocab table
  * instead of re-aggregating the corpus. At 100 TB the alternative is a
  * full (doc, token) shuffle per scoring run.
  *
  * The corpus-size row rides IN the table under an IMPOSSIBLE token —
  * [[MetaToken]] contains a space, and the tokenizer splits on
  * whitespace, so no real token can ever alias it (an empty-text doc
  * really does contribute the "" token, which is why "" is NOT the
  * reserved key). It lives in its natural hash bucket like any other
  * row, so the declared bucket layout stays valid and n and df move in
  * the SAME atomic commit — a reader can never pair a new df with a
  * stale n.
  *
  * Ref-counts are non-idempotent, so every maintenance surface rides
  * the [[IndexLifecycle]]'s txn-tag protocol. DfIndexSpec pins maintained ≡
  * recomputed across insert/update/delete commits and replay
  * rejection; q146 oracle-gates the probe end-to-end. */
object DfIndex {

  /** Same bucket count/role as [[DedupIndex.IndexBuckets]]. */
  val IndexBuckets = 16

  private[graft] val PollScope = "df-refresh-poll"

  /** Reserved corpus-size key: contains a space, which no real token
    * can (the tokenizer splits on whitespace runs). */
  private[graft] val MetaToken = " n_docs "

  private def sign: Column = when(
    col("_change_type").isin("insert", "update_postimage"), 1L)
    .when(col("_change_type").isin("delete", "update_preimage"), -1L)

  /** (doc_id, token) DISTINCT pairs of a docs frame — the unit a doc
    * contributes to each of its tokens' df counts. */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", ManifestTable.bucketIdColumn(col("token"), IndexBuckets))

  /** The df index of a corpus snapshot — the bootstrap, and the spec's
    * ground truth: (bucket, token, df_docs) plus the [[MetaToken]]
    * corpus-size row. */
  def computeDfIndex(docs: DataFrame): DataFrame = {
    val d = docTokens(docs)
      .groupBy(col("token")).agg(count(lit(1)).as("df_docs"))
    val n = docs.agg(count(lit(1)).as("df_docs"))
      .select(lit(MetaToken).as("token"), col("df_docs"))
    withBucket(d.union(n)).select(col("bucket"), col("token"), col("df_docs"))
  }

  /** Bootstrap the index table from a corpus snapshot (pair with
    * [[startMaintenance]]'s `startingVersion`, or the re-emitted
    * snapshot batch double-counts — [[DedupIndex.bootstrapFpIndex]]'s
    * contract). */
  def bootstrapDfIndex(docs: DataFrame, idxRoot: String): Int = {
    ManifestTable.declareBuckets(idxRoot, "token", IndexBuckets)
    ManifestTable.mergePartitioned(
      computeDfIndex(docs), idxRoot, Seq("bucket", "token"), "bucket")
  }

  /** Apply ONE corpus version's CDC events. `changes` must carry
    * preimages: an update's old tokens must decrement. Only changed
    * docs re-tokenize, and their net per-token delta is added onto the
    * stored counts ([[DedupIndex.upsertRefCounts]]); rows reaching zero
    * become tombstones (readers filter `df_docs > 0`). */
  def maintainDfIndex(spark: SparkSession, changes: DataFrame, idxRoot: String,
      tag: Option[String] = None): Int = {
    val signed = changes.where(sign.isNotNull)
      .select(col("doc_id"), col("text"), sign.as("__sgn"))
    // ±1 per DISTINCT token per changed doc image, then net per token;
    // the corpus-size delta nets insert-vs-delete doc counts under the
    // reserved MetaToken (no real token can alias it — see above; "" is
    // a REAL token, contributed by empty-text docs). The meta key hashes
    // into a normal bucket, so one pruned read serves both.
    val tokenDelta = signed
      .select(col("doc_id"), col("__sgn"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(sum(col("__sgn")).as("d_docs"))
      .where(col("d_docs") =!= 0L)
    val nDelta = signed.agg(sum(col("__sgn")).as("d_docs"))
      .where(col("d_docs").isNotNull && col("d_docs") =!= 0L)
      .select(lit(MetaToken).as("token"), col("d_docs"))
    DedupIndex.upsertRefCounts(spark, tokenDelta.union(nDelta), idxRoot,
      "token", "df_docs", IndexBuckets, tag)
  }

  /** Age zeroed ref-counts out of the vocab table
    * ([[DedupIndex.purgeTombstones]]'s reasoning — a df that retracted
    * to zero is semantically absent; readers filter it, compaction
    * removes it). Rewrites only partitions holding dead rows. */
  def purgeTombstones(spark: SparkSession, idxRoot: String): Unit =
    if (ManifestTable.currentVersion(idxRoot) >= 1)
      ManifestTable.rewriteWhere(spark, idxRoot, "bucket", col("df_docs") > 0L)

  // ------------------------------------- exactly-once: [[IndexLifecycle]]

  private def lifecycle(idxRoot: String) = new IndexLifecycle("doc_id", PollScope,
    Seq((idxRoot, (ch, tag) => maintainDfIndex(ch.sparkSession, ch, idxRoot, tag))))

  def applyBatch(changes: DataFrame, batchId: Long, idxRoot: String,
      scope: String = ""): Unit =
    lifecycle(idxRoot).applyBatch(changes, batchId, scope)

  def refresh(spark: SparkSession, corpusRoot: String, idxRoot: String,
      fromV: Int, toV: Int): Unit =
    lifecycle(idxRoot).refresh(spark, corpusRoot, fromV, toV)

  /** Batched catch-up: the state diff's per-(doc, token) signs
    * telescope to the net df change, and the [[MetaToken]] corpus-size
    * row nets the same way. */
  def refreshBatched(spark: SparkSession, corpusRoot: String,
      idxRoot: String, fromV: Int, toV: Int): Unit =
    lifecycle(idxRoot).refreshBatched(spark, corpusRoot, fromV, toV)

  def startMaintenance(spark: SparkSession, corpusRoot: String,
      idxRoot: String, checkpoint: String, startingVersion: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    lifecycle(idxRoot).startMaintenance(spark, corpusRoot, checkpoint, startingVersion)

  // ------------------------------------------------------------- reads

  /** Live (token, df_docs) rows — tombstones and the meta row filtered. */
  def readDfIndex(spark: SparkSession, idxRoot: String): DataFrame =
    ManifestTable.read(spark, idxRoot)
      .where(col("df_docs") > 0L && col("token") =!= MetaToken)
      .select(col("token"), col("df_docs"))

  /** The maintained corpus size (one atomic read with the df rows'
    * lineage — the meta row commits with them). */
  def corpusSize(spark: SparkSession, idxRoot: String): DataFrame =
    ManifestTable.read(spark, idxRoot)
      .where(col("token") === MetaToken)
      .select(col("df_docs").as("n_docs"))

  /** q146's probe: TF-IDF top-3 tokens per ARRIVING doc, with IDF from
    * the MAINTAINED index — the batch is tokenized and tf-aggregated
    * (batch-sized work), the vocab table contributes only the batch
    * tokens' hash-bucket partitions ([[ManifestTable.readKeyPruned]]),
    * and the 1-row corpus size broadcasts. Tokens unseen in the corpus
    * drop (inner join) — q72's exact contract. */
  def probeTfIdf(batch: DataFrame, spark: SparkSession, idxRoot: String): DataFrame = {
    // r20: checkpointed — tf feeds readKeyPruned's key set AND the scored
    // join; without it the batch explode + aggregate ran twice per probe
    val tf = batch
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df = ManifestTable
      .readKeyPruned(spark, idxRoot, "token", IndexBuckets, tf)
      .where(col("df_docs") > 0L)
      .select(col("token"), col("df_docs"))
    val n = corpusSize(spark, idxRoot)
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df_docs")), 6))
    graft.plans.TopK.perGroup(scored, Seq("doc_id"),
        Seq(("tfidf", false), ("token", true)), 3, rankName = "rnk")
      .select(col("doc_id"), col("token"), col("tf"), col("tfidf"),
        col("rnk").cast("long").as("rnk"))
  }
}
