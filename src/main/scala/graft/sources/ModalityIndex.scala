package graft.sources

import graft.multimodal.{MediaHeaders, Multimodal}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MODALITY-FINGERPRINT index — the banded
  * (band, value) → media_id table for image aHash and audio energy
  * fingerprints (VERDICT r15 #4), closing the maintenance gap the
  * text-side [[DedupIndex]] and [[SpanIndex]] already closed: without
  * it, every visual/audio dedup question re-decodes the whole media
  * corpus. One hash-bucketed ManifestTable holds 4 band rows per
  * fingerprint (the q131/q169 banding verbatim: 4×16-bit slices of the
  * 64-bit hash), updated from the document table's CDC stream — an
  * arriving commit decodes only its CHANGED docs' media, and the merge
  * touches only the delta's band buckets. At 100 TB the alternative is
  * a full-corpus re-decode per dedup run — the single most expensive
  * recompute in the pipeline, since decode dominates fingerprinting.
  *
  * Band keys fold the modality in (`bk` = kind·2¹⁸ + band·2¹⁶ + value),
  * so one table serves both families and a probe prunes to exactly its
  * own kind's buckets. Each row carries the full (hi, lo) fingerprint
  * for verdict-time Hamming rescoring — band equality is only the
  * candidate spine, exactly as in the batch queries. This is the
  * LIVE-ROW-WINS shape of the shared [[MaintainedIndex]] protocol: an
  * update that keeps a band's value but changes the fingerprint nets
  * the OLD (hi, lo) out and the new in; the live row wins the
  * (bk, media_id) merge key. Exactly-once rides
  * [[IndexLifecycle]]'s txn-tag protocol. ModalityIndexSpec
  * pins maintained ≡ recomputed across insert/update/delete commits
  * and replay rejection; q178/q179 oracle-gate the reads against an
  * engine that never saw the index. */
object ModalityIndex extends MaintainedIndex {

  private[graft] val PollScope = "modality-refresh-poll"

  protected def bucketKey: String = "bk"
  protected def mergeKeyCols: Seq[String] = Seq("bk", "media_id")
  override protected def payloadCols: Seq[String] = Seq("hi", "lo")
  protected def facts(docs: DataFrame): DataFrame = bandRows(fingerprints(docs))

  /** 64-bit fingerprints of a (doc_id, n_chars) frame's media — the
    * image aHash family and the audio energy family, through the SAME
    * generators and hash functions the batch queries q130/q168 read,
    * so the maintained index and the single-shot queries cannot
    * drift. */
  private[graft] def fingerprints(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d = docs.select(col("doc_id"), col("n_chars"))
    val img = Multimodal.imagesFromDocs(d).flatMap { m =>
      MediaHeaders.pngPixels(m.data).map { case (w, h, px) =>
        val (hi, lo, _) = Multimodal.ahash64(w.toInt, h.toInt, px)
        (0, m.media_id, hi, lo)
      }
    }
    val aud = Multimodal.audioFromDocs(d).map { m =>
      val pcm = MediaHeaders.wavSamples(m.data)
      val (hi, lo, _) = Multimodal.audioFp64(pcm.map(_.toInt))
      (1, m.media_id, hi, lo)
    }
    img.union(aud).toDF("kc", "media_id", "hi", "lo")
  }

  /** The 4-band explode over a (kc, media_id, hi, lo) frame:
    * bk = kc·2¹⁸ + band·2¹⁶ + 16-bit slice. */
  private def bandRows(fps: DataFrame): DataFrame =
    fps.select(col("kc"), col("media_id"), col("hi"), col("lo"),
        explode(array(
          struct(lit(0L).as("b"), col("lo").bitwiseAND(65535L).as("v")),
          struct(lit(1L).as("b"), shiftright(col("lo"), 16).bitwiseAND(65535L).as("v")),
          struct(lit(2L).as("b"), col("hi").bitwiseAND(65535L).as("v")),
          struct(lit(3L).as("b"), shiftright(col("hi"), 16).bitwiseAND(65535L).as("v"))))
          .as("band"))
      .select(
        (col("kc").cast("long") * 262144L + col("band.b") * 65536L + col("band.v"))
          .as("bk"),
        col("media_id"), col("hi"), col("lo"))

  /** The modality index of a corpus snapshot — the bootstrap, and the
    * spec's ground truth: (bucket, bk, media_id, hi, lo, alive). */
  def computeModalityIndex(docs: DataFrame): DataFrame = computeIndexOf(docs)

  /** Bootstrap from a corpus snapshot (pair with a CDC
    * `startingVersion` past the snapshot, [[DedupIndex]]'s contract). */
  def bootstrapModalityIndex(docs: DataFrame, idxRoot: String): Int =
    bootstrapIndex(docs, idxRoot)

  /** Apply ONE corpus version's CDC events. `changes` must carry
    * preimages (doc_id, text, _change_type); the media derive from
    * n_chars = length(text), so a preimage regenerates exactly the
    * fingerprint rows its commit once added. Only changed docs decode;
    * the merge touches only the delta's band buckets; band rows an
    * update keeps (same value AND same fingerprint) net to zero and
    * are not rewritten. */
  def maintainModalityIndex(spark: SparkSession, changes: DataFrame,
      idxRoot: String, tag: Option[String] = None): Int =
    maintainIndex(changes, idxRoot, tag)

  // applyBatch / refresh / startMaintenance: [[MaintainedIndex]].

  // ------------------------------------------------------------- reads

  private def kindOf(bk: Column): Column =
    when(bk >= 262144L, "audio").otherwise("image")

  /** Live band rows — tombstones filtered. */
  def readModalityIndex(spark: SparkSession, idxRoot: String): DataFrame =
    readLiveRows(spark, idxRoot)

  /** q178's report: the corpus's visual AND audio near-dup pairs from
    * the STORED band rows — q131 ∪ q169 without decoding a single
    * payload. Band equality (bk carries the modality, so kinds never
    * cross) is the candidate spine; the stored (hi, lo) rescore each
    * candidate to exact Hamming before the distinct exchange. Hot bk
    * keys are dropped at [[Multimodal.ModalityBandCap]] before the
    * self-join (VERDICT r16 #1 — flat images / silence concentrate one
    * band on a real crawl), mirroring the batch queries the oracle
    * composes from. */
  def maintainedModalityDups(spark: SparkSession, idxRoot: String): DataFrame = {
    val rows = Multimodal.dropHotKeys(
      readModalityIndex(spark, idxRoot), Seq("bk"), Multimodal.ModalityBandCap)
    val l = rows.select(col("bk"), col("media_id").as("media_id_a"),
      col("hi").as("hi_a"), col("lo").as("lo_a"))
    val r = rows.select(col("bk"), col("media_id").as("media_id_b"),
      col("hi").as("hi_b"), col("lo").as("lo_b"))
    l.join(r, Seq("bk"))
      .where(col("media_id_a") < col("media_id_b"))
      .select(kindOf(col("bk")).as("kind"), col("media_id_a"), col("media_id_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  /** q179's probe: which COMMITTED media does an ARRIVING doc batch
    * near-duplicate — the production read. The batch's media decode
    * (batch-sized work), their band keys prune the index read to their
    * own buckets ([[ManifestTable.readKeyPruned]]), and candidates
    * rescore on stored fingerprints. The corpus media are never
    * re-decoded and the index is never scanned. */
  def probeModality(batch: DataFrame, spark: SparkSession,
      idxRoot: String): DataFrame = {
    val probe = bandRows(fingerprints(batch)).localCheckpoint(eager = false)
    // the CORPUS side is what concentrates (a crawl's flat images /
    // silence all landing in one band) — cap its membership per bk
    // before the join; the arriving batch is batch-sized by contract
    val committed = Multimodal.dropHotKeys(
      ManifestTable
        .readKeyPruned(spark, idxRoot, "bk", IndexBuckets, probe.select(col("bk")))
        .where(col("alive")),
      Seq("bk"), Multimodal.ModalityBandCap)
    probe.select(col("bk"), col("media_id").as("media_id_probe"),
        col("hi").as("hi_p"), col("lo").as("lo_p"))
      .join(committed.select(col("bk"), col("media_id").as("media_id_corpus"),
        col("hi").as("hi_c"), col("lo").as("lo_c")), Seq("bk"))
      .select(kindOf(col("bk")).as("kind"),
        col("media_id_probe"), col("media_id_corpus"),
        (bit_count(col("hi_p").bitwiseXOR(col("hi_c"))) +
          bit_count(col("lo_p").bitwiseXOR(col("lo_c")))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }
}
