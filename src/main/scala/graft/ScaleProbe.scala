package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

/** Scale-up experiment: run the heavy shapes at 1× and N× the sf0.1 row
  * count (fact tables unioned with shifted keys — same distributions, N×
  * the data) and ASSERT the runtime ratio. The 100 TB claim is that
  * these plans scale with data size, not super-linearly: partial aggs
  * stay map-side, broadcasts stay broadcasts, shuffles stay
  * key-partitioned. An all-pairs / join-blowup regression shows up as
  * time ratio ≈ factor² — far above the gate — so a plan regression now
  * EXITS NON-ZERO (VERDICT r7 #8) instead of relying on a human reading
  * the printed ratios.
  *
  * Gate: timeNx / max(time1x, 0.3 s) ≤ factor — "N× data may cost at
  * most N× time". The 0.3 s floor keeps sub-second 1× probes (fixed
  * job-scheduling overhead dominates them) from tripping the gate on
  * noise; observed healthy ratios at 10× are 1.2–3.3 because the 1×
  * run underutilizes the 32 cores. Disable with
  * SPARK_GRAFT_SCALE_ASSERT=false (plain measurement mode).
  *
  *   sbt "runMain graft.ScaleProbe [N]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // arg 1 is the FACTOR; the data dir comes from SPARK_GRAFT_SF_DIR —
    // the opposite of Verify/Bench, so a directory-looking first arg gets
    // a usage message instead of a NumberFormatException (VERDICT r13 #3)
    val factor = args.headOption match {
      case None => 10
      case Some(a) if a.forall(_.isDigit) && a.nonEmpty => a.toInt
      case Some(a) =>
        System.err.println(
          s"usage: runMain graft.ScaleProbe [factor]   (got '$a'; the data " +
            "dir is NOT an argument — set SPARK_GRAFT_SF_DIR, default sf0.1)")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val assertGate = sys.env.getOrElse("SPARK_GRAFT_SCALE_ASSERT", "true") == "true"
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // N copies with disjoint key spaces: same key cardinality growth as
    // a bigger SF (keys scale with data), same value distributions
    def scaled(name: String, keyCols: Seq[String]): DataFrame = {
      val base = Tables(spark, sfDir, name)
      val shift = 100000000L
      (0 until factor).map { i =>
        keyCols.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * shift)))
      }.reduce(_ union _)
    }

    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name: $sec%.2f s ($n rows)")
      sec
    }

    // every probe records (name, t1x, tNx) for the end-of-run gate, and
    // keeps its thunks so a gate failure can be re-measured (below)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val thunks = scala.collection.mutable.Map.empty[String, (() => Long, () => Long)]
    def probe(name: String)(f1: => Long)(fN: => Long): Unit = {
      thunks(name) = (() => f1, () => fN)
      val t1 = time(s"${name}_1x")(f1)
      val tN = time(s"${name}_${factor}x")(fN)
      results += ((name, t1, tN))
    }

    val li1 = Tables(spark, sfDir, "lineitem")
    val liN = scaled("lineitem", Seq("l_orderkey"))
    val ord1 = Tables(spark, sfDir, "orders")
    val ordN = scaled("orders", Seq("o_orderkey", "o_custkey"))

    def q1(li: DataFrame): Long = li
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity"), sum($"l_extendedprice"), count(lit(1))).count()

    def joinAgg(li: DataFrame, o: DataFrame): Long = li
      .join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").agg(sum($"l_extendedprice")).count()

    def topk(o: DataFrame): Long =
      graft.plans.TopK.perGroup(
        o.select($"o_custkey", $"o_orderkey", $"o_totalprice"),
        Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3).count()

    // warm codegen on the small side first
    q1(li1); joinAgg(li1, ord1); topk(ord1)
    probe("q1_agg")(q1(li1))(q1(liN))
    probe("join_agg")(joinAgg(li1, ord1))(joinAgg(liN, ordN))
    probe("topk_custom")(topk(ord1))(topk(ordN))

    // The text-dedup chain (q30 → q31 → q54) — where the 100 TB claims
    // are most load-bearing. N textually-DISJOINT copies (every token
    // gets a per-copy suffix, so shingle spaces never collide across
    // copies): the duplicate-cluster structure per copy is identical to
    // the original — a bigger crawl at the same dup rate — and candidate
    // pairs grow linearly, which is exactly the property the probe must
    // confirm the PLANS preserve (LSH bands / df-cap / union-find, not
    // an all-pairs blowup).
    val docsNDir = {
      val base = Tables(spark, sfDir, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-docs").toString
      val shift = 100000000L
      (0 until factor).map { i =>
        base.withColumn("doc_id", $"doc_id" + lit(i * shift))
          .withColumn("text", regexp_replace($"text", "(\\S+)", s"$$1c$i"))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    import graft.functions.TextOps
    def lsh(d: String): Long = TextOps.q30MinHashLsh(spark, d).count()
    def jaccard(d: String): Long = TextOps.q31JaccardPairs(spark, d).count()
    def components(d: String): Long = TextOps.q54NearDupComponents(spark, d).count()
    // q118: span hashes are per-copy disjoint (suffixed tokens), so the
    // df shuffle and spans⋈df join must grow linearly — the winnow step
    // is per-row and can't blow up by construction.
    def spans(d: String): Long = TextOps.q118RepeatedSpans(spark, d).count()
    // q148: every window position flows through one count(*) shuffle on
    // the span hash; per-copy suffixed tokens keep hash spaces disjoint,
    // so the dup set and the doc-keyed island window grow linearly —
    // a super-linear ratio would mean the hash join or window blew up.
    def exsub(d: String): Long = TextOps.q148ExactSubstrSpans(spark, d).count()
    // q152 is q148's plan at width 16: same single count shuffle +
    // island window, ~2× fewer surviving windows — the width is a
    // constant factor, never a scaling one.
    def exsub16(d: String): Long = TextOps.q152ExactSubstrSpans16(spark, d).count()
    // q151 composes q150 (semi against the copy-scaled eval half) with
    // the corpus-wide cut join — both sides grow with the copies, so
    // end-to-end must stay linear (the per-token cut cost is bounded by
    // the doc's OWN cut count, which copy-suffixing leaves unchanged).
    def scrub(d: String): Long = TextOps.q151ScrubApply(spark, d).count()
    lsh(sfDir); jaccard(sfDir); components(sfDir); spans(sfDir); exsub(sfDir)
    exsub16(sfDir); scrub(sfDir) // warm
    probe("minhash_lsh")(lsh(sfDir))(lsh(docsNDir))
    probe("jaccard")(jaccard(sfDir))(jaccard(docsNDir))
    probe("components")(components(sfDir))(components(docsNDir))
    probe("winnow_spans")(spans(sfDir))(spans(docsNDir))
    probe("exact_substr")(exsub(sfDir))(exsub(docsNDir))
    probe("exact_substr16")(exsub16(sfDir))(exsub16(docsNDir))
    probe("scrub_apply")(scrub(sfDir))(scrub(docsNDir))

    // The curation additions with corpus-sized intermediates: q70's
    // line-frequency join, q71's distributed prefix sum, and q77's
    // token×unigram join — each must grow linearly, not by join blowup
    // or single-partition collapse.
    import graft.functions.CurationOps
    def lines(d: String): Long = CurationOps.q70BoilerplateLines(spark, d).count()
    def pack(d: String): Long = CurationOps.q71SequencePack(spark, d).count()
    def surprisal(d: String): Long = TextOps.q77Surprisal(spark, d).count()
    lines(sfDir); pack(sfDir); surprisal(sfDir) // warm
    probe("boilerplate")(lines(sfDir))(lines(docsNDir))
    probe("seqpack")(pack(sfDir))(pack(docsNDir))
    probe("surprisal")(surprisal(sfDir))(surprisal(docsNDir))

    // q124 expands pairs over the WORD-FREQUENCY table: the per-copy
    // token suffixes grow the vocab ~linearly with the data, so the
    // pair aggregation must too (the corpus-side work is one combiner
    // groupBy). q125's fingerprint index likewise grows linearly
    // (suffixed texts are copy-disjoint) and the probe confirms the
    // index build + probe join stays a linear pass, not a blowup.
    def bpe(d: String): Long = TextOps.q124BpePairs(spark, d).count()
    def incdedup(d: String): Long = TextOps.q125IncrementalDedup(spark, d).count()
    bpe(sfDir); incdedup(sfDir) // warm
    probe("bpe_pairs")(bpe(sfDir))(bpe(docsNDir))
    probe("incremental_dedup")(incdedup(sfDir))(incdedup(docsNDir))

    // The MAINTAINED fp index (q135's store): a FIXED probe batch and a
    // FIXED 200-doc maintenance delta against a 1× vs N× index. Both
    // paths bucket-prune their reads, but a 1000-fp batch touches every
    // one of the 16 buckets, so the honest bound is one linear pass
    // over the index (semi vs broadcast batch) — never a shuffle or a
    // pair blowup. Maintenance additionally merges only touched
    // buckets; its ratio stays far under the gate.
    {
      import graft.sources.DedupIndex
      val idx1 = java.nio.file.Files.createTempDirectory("graft-scale-idx1").toString
      val idxN = java.nio.file.Files.createTempDirectory("graft-scale-idxN").toString
      DedupIndex.bootstrapFpIndex(Tables(spark, sfDir, "documents")
        .select($"doc_id", $"text"), idx1)
      DedupIndex.bootstrapFpIndex(Tables(spark, docsNDir, "documents")
        .select($"doc_id", $"text"), idxN)
      val probeBatch = Tables(spark, sfDir, "documents")
        .select($"doc_id", $"text").where($"doc_id" < 1000).localCheckpoint()
      def probeIdx(root: String): Long =
        DedupIndex.probeExact(probeBatch, spark, root).count()
      val delta = spark.range(200).select(
        ($"id" + 900000000L).as("doc_id"),
        concat(lit("novel scale probe doc "), $"id").as("text"),
        lit("insert").as("_change_type")).localCheckpoint()
      probeIdx(idx1) // warm
      probe("idx_probe_exact")(probeIdx(idx1))(probeIdx(idxN))
      probe("idx_maintain")(
        { DedupIndex.maintainFpIndex(spark, delta, idx1); 1L })(
        { DedupIndex.maintainFpIndex(spark, delta, idxN); 1L })
    }

    // Embedding pruning (q83): labels shift per copy so CELLS scale with
    // the data while per-cell population stays constant — the real-corpus
    // contract (k-means k grows with the corpus; cell size is bounded by
    // design). Σ|cell|² then grows linearly; a probe that kept 10 labels
    // over N× vectors would instead measure the quadratic blowup the
    // operator is explicitly not supposed to have at fixed cell size.
    val embNDir = {
      val base = Tables(spark, sfDir, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-emb").toString
      val shift = 100000000L
      (0 until factor).map { i =>
        base.withColumn("vec_id", $"vec_id" + lit(i * shift))
          .withColumn("label", $"label" + lit(i * 1000))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    import graft.functions.VectorOps
    def semdedup(d: String): Long = VectorOps.q83SemDedup(spark, d).count()
    def xsrc(d: String): Long = TextOps.q86CrossSourceDup(spark, d).count()
    semdedup(sfDir); xsrc(sfDir) // warm
    probe("semdedup")(semdedup(sfDir))(semdedup(embNDir))
    probe("xsrc_dup")(xsrc(sfDir))(xsrc(docsNDir))

    // KL drift (q90): the per-copy token suffixing grows the VOCABULARY
    // ~10x, so this probes the vocab-sized model-join path — the
    // operator's scale-sensitive half (the tf shuffle is combiner-bound).
    def drift(d: String): Long = TextOps.q90SourceDrift(spark, d).count()
    def novelty(d: String): Long = TextOps.q91Novelty(spark, d).count()
    drift(sfDir); novelty(sfDir) // warm
    probe("kl_drift")(drift(sfDir))(drift(docsNDir))
    probe("novelty")(novelty(sfDir))(novelty(docsNDir))

    // Round-7 additions. q93: the columnar-moments aggregate — the whole
    // point is that N× vectors cost N× scan and STILL one row through
    // the exchange. q95: candidate-bounded calibration — the disjoint
    // copies keep candidates linear, so the intersection joins must
    // too. q96: two corpus scans + a broadcast rate table.
    def dimstats(d: String): Long = VectorOps.q93DimStats(spark, d).count()
    def calib(d: String): Long = TextOps.q95MinhashCalibration(spark, d).count()
    def tempmix(d: String): Long = CurationOps.q96TemperatureMix(spark, d).count()
    dimstats(sfDir); calib(sfDir); tempmix(sfDir) // warm
    probe("dim_stats")(dimstats(sfDir))(dimstats(embNDir))
    probe("minhash_calib")(calib(sfDir))(calib(docsNDir))
    probe("temp_mix")(tempmix(sfDir))(tempmix(docsNDir))

    // Round-7 batch 2. q98: the bloom prefilter path — disjoint copies
    // grow BOTH the eval shingle set (bigger bitset, still KB-scale) and
    // the probed corpus linearly; the rescore join stays
    // survivor-bounded. q99: vocab stays capped at 500 (<unk> absorbs
    // the suffixed tokens), so the model join must stay broadcast-sized
    // while the corpus side grows. q100: candidate edges grow linearly
    // with the copies, and 5 iterations of rank⋈edges must too.
    def bloom(d: String): Long = CurationOps.q98BloomDecontaminate(spark, d).count()
    def bigram(d: String): Long = TextOps.q99BigramPerplexity(spark, d).count()
    def pagerank(d: String): Long = TextOps.q100PageRank(spark, d).count()
    bloom(sfDir); bigram(sfDir); pagerank(sfDir) // warm
    probe("bloom_decon")(bloom(sfDir))(bloom(docsNDir))
    probe("bigram_ppl")(bigram(sfDir))(bigram(docsNDir))
    probe("pagerank")(pagerank(sfDir))(pagerank(docsNDir))

    // q103: triangle join bounded by the candidate graph — disjoint
    // copies grow cliques linearly, so wedges and triangles must too.
    def triangles(d: String): Long = TextOps.q103Triangles(spark, d).count()
    triangles(sfDir) // warm
    probe("triangles")(triangles(sfDir))(triangles(docsNDir))

    // Event-stream analytics: N user-disjoint copies (user_id and
    // event_id shift; timestamps unchanged, read/written as raw nanos
    // longs so Tables' ns→µs conversion applies to the copy too). Users
    // scale WITH the data, so per-user window partitions keep constant
    // width — the property the per-user window ops must preserve
    // (more partitions, never wider ones).
    val eventsNDir = {
      val base = spark.read.parquet(s"$sfDir/events.parquet")
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-events").toString
      val shift = 100000000L
      (0 until factor).map { i =>
        base.withColumn("event_id", $"event_id" + lit(i * shift))
          .withColumn("user_id", $"user_id" + lit(i * shift))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    def trigramsEv(d: String): Long = TimeSeries.q104BehaviorTrigrams(spark, d).count()
    def attribution(d: String): Long = TimeSeries.q109Attribution(spark, d).count()
    trigramsEv(sfDir); attribution(sfDir) // warm
    probe("behavior_trigrams")(trigramsEv(sfDir))(trigramsEv(eventsNDir))
    probe("attribution")(attribution(sfDir))(attribution(eventsNDir))

    // Round-10 operators: PNG pixel decode is per-row byte work (must be
    // flat-linear); hybrid RRF's two candidate lists are TakeOrdered
    // scans (top-50 never grows with data, the scan does, linearly); the
    // IVF probe scores only its nprobe cells — embNDir's label shift
    // makes CELLS scale with data at constant per-cell population, so
    // scored candidates grow linearly, never as corpus × corpus.
    spark.read.parquet(s"$embNDir/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$docsNDir/embeddings.parquet")
    def png(d: String): Long = graft.multimodal.Multimodal.q127PngPixels(spark, d).count()
    def rrf(d: String): Long = VectorOps.q128HybridRrf(spark, d).count()
    def ivf(d: String): Long = VectorOps.q129IncrementalIvf(spark, d).count()
    // q130 aHash is per-row byte work like q127 — must be flat-linear.
    // q131 (the banded pair report) is deliberately NOT probed here: the
    // N× fixture shifts doc_id by a multiple of 256, so every copy
    // regenerates IDENTICAL images and the true near-dup pair set grows
    // as copies² — a correct pair report on that corpus is quadratic by
    // definition, which says nothing about the band join's plan shape.
    def ahash(d: String): Long = graft.multimodal.Multimodal.q130ImageAhash(spark, d).count()
    png(sfDir); rrf(sfDir); ivf(sfDir); ahash(sfDir) // warm
    probe("png_pixels")(png(sfDir))(png(docsNDir))
    probe("image_ahash")(ahash(sfDir))(ahash(docsNDir))
    probe("hybrid_rrf")(rrf(sfDir))(rrf(docsNDir))
    probe("incremental_ivf")(ivf(sfDir))(ivf(embNDir))

    // q134 DSIR: the importance model is 256 hashed buckets BY
    // CONSTRUCTION — the suffixed copies grow the vocabulary ~10x, but
    // every new token folds into the same 256 cells, so the model join
    // stays broadcast-sized and both token passes must scale linearly
    // (the q77 envelope with a constant-size model).
    def dsir(d: String): Long = CurationOps.q134DsirWeights(spark, d).count()
    dsir(sfDir) // warm
    probe("dsir_weights")(dsir(sfDir))(dsir(docsNDir))

    // Round-11 operators: q139's covariance is ONE typed-Aggregator pass
    // whose buffer is fixed-size (17 KB) regardless of rows — the probe
    // confirms the cost is the scan, not the d² term; q140's matryoshka
    // pairing is a co-partitioned equi self-join on the derived pair key,
    // so pairs (and the ×3 width explode) grow linearly with vectors.
    def cov(d: String): Long = VectorOps.q139EmbeddingCovariance(spark, d).count()
    def matry(d: String): Long = VectorOps.q140MatryoshkaFidelity(spark, d).count()
    cov(sfDir); matry(sfDir) // warm
    probe("covariance")(cov(sfDir))(cov(embNDir))
    probe("matryoshka")(matry(sfDir))(matry(embNDir))

    // q143: whitening = q139's stats pass + a map-only broadcast-literal
    // projection — both scan-bound, so 10x vectors must cost at most 10x.
    // (q142's audit and q144/q145's maintained reads are NOT probed: their
    // timed cost is dominated by one-off fixture builds at the 10x scale,
    // and their data-path shapes — fp scan + bucket-pruned join, tiny-table
    // reads — are already covered by the incdedup and covariance probes.)
    def whiten(d: String): Long = VectorOps.q143WhitenTopComponent(spark, d).count()
    whiten(sfDir) // warm
    probe("whitening")(whiten(sfDir))(whiten(embNDir))

    // ER family: N part copies with disjoint record keys AND disjoint
    // name spaces (per-copy token suffix — the docsNDir trick), so the
    // name dimension and its match graph replicate per copy. Candidate
    // pairs, scored pairs, and entities must grow LINEARLY — the probe
    // that blocking stays block-bounded (per-key self-join) and never
    // degrades into a cross-name comparison as the catalog grows.
    val partNDir = {
      val base = Tables(spark, sfDir, "part")
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-part").toString
      val shift = 100000000L
      (0 until factor).map { i =>
        base.withColumn("p_partkey", $"p_partkey" + lit(i * shift))
          .withColumn("p_name", regexp_replace($"p_name", "(\\S+)", s"$$1c$i"))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      dir
    }
    import graft.functions.EntityOps
    def erScore(d: String): Long = EntityOps.q157ErMatchWeights(spark, d).count()
    def erEntities(d: String): Long = EntityOps.q155ErEntities(spark, d).count()
    erScore(sfDir) // warm
    probe("er_match_weights")(erScore(sfDir))(erScore(partNDir))
    probe("er_entities")(erEntities(sfDir))(erEntities(partNDir))

    // The MAINTAINED entity index: a FIXED 50-name arrival batch against
    // a 1× vs N× catalog. Every maintenance read is bucket-pruned (block
    // rows by key, membership by name, members by entity) and the
    // affected set is entity-bounded, so the cost tracks the batch and
    // its affected entities — not the catalog. The ratio stays far
    // under the gate; catalog-size-proportional work here would mean a
    // pruned read regressed to a scan. Runs under the WIDER 3-pass
    // blocker config (tokens + consonant skeleton) so the batch-bounded
    // claim is proven blocker-generic — the skeleton pass adds a third
    // block row per name on both the batch and the walk.
    {
      import graft.sources.EntityIndex
      import graft.functions.EntityOps
      def bootstrapped(d: String): (String, String, String) = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-entidx").toString
        val roots = (s"$w/blocks", s"$w/memb", s"$w/ents")
        EntityIndex.bootstrap(Tables(spark, d, "part")
          .select($"p_partkey", $"p_name"), roots._1, roots._2, roots._3,
          blockers = EntityOps.PartBlockers3)
        roots
      }
      val r1 = bootstrapped(sfDir)
      val rN = bootstrapped(partNDir)
      var batch = 0L
      def maintain(roots: (String, String, String)): Long = {
        // a FRESH 50-name arrival batch per call — re-inserting the same
        // names would take the cheap count-only path on the warm side
        // and the arrival re-solve on the other, skewing the ratio
        batch += 1
        // the adjective token is batch-unique (zzz<batch>novel) so each
        // batch's affected block holds ONLY its own 50 names: a shared
        // adjective would make the measured call re-solve every prior
        // batch's accumulated names on whichever side ran more batches,
        // biasing the tN/t1 ratio (ADVICE r14)
        val delta = spark.range(50).select(
          ($"id" + 900000000L + batch * 1000L).as("p_partkey"),
          concat(lit(s"zzz${batch}novel b$batch n"), $"id").as("p_name"),
          lit("insert").as("_change_type")).localCheckpoint()
        EntityIndex.applyBatch(delta, batch, roots._1, roots._2, roots._3,
          scope = s"probe$batch", blockers = EntityOps.PartBlockers3)
        1L
      }
      maintain(r1); maintain(rN) // warm BOTH roots: symmetric JIT + state
      probe("entity_index_maintain")(maintain(r1))(maintain(rN))
    }

    // The round-15 modality dedup families, probed on the same scaled
    // docs (audio content keys off doc_id/4 and the color corpus off
    // doc_id and n_chars, so the shifted copies carry disjoint quad
    // spaces — planted dup structure per copy identical, pairs linear).
    // q169: scan-speed fingerprint extraction + the banded equi-join —
    // a super-linear ratio would mean the band buckets degenerated.
    // q167: per-row dual-codec decode + md5 equi-join on the
    // fingerprint — the binary never shuffles, so time must track rows.
    {
      import graft.multimodal.Multimodal
      def audioDup(d: String): Long = Multimodal.q169AudioNeardup(spark, d).count()
      def colorDup(d: String): Long = Multimodal.q167ColorCrossDups(spark, d).count()
      audioDup(sfDir); colorDup(sfDir) // warm
      probe("audio_fp_neardup")(audioDup(sfDir))(audioDup(docsNDir))
      probe("color_cross_dup")(colorDup(sfDir))(colorDup(docsNDir))
    }

    // Round-16 modality realism: q174's 4:2:0 decode is per-row scan
    // work (the subsampled-MCU walk + chroma upsample never shuffles
    // pixels — only the 9-column summary leaves the task), and q176's
    // trimmed-dup matcher equi-joins on exact 64-sample window
    // fingerprints — the nonlinear PCM mix keeps distinct recordings'
    // windows distinct, so fp buckets are quad-bounded and pairs (and
    // time) must grow linearly with docs. The doc_id shift (1e8) is a
    // multiple of 4, so each copy replicates the quad structure with a
    // disjoint gid space.
    {
      import graft.multimodal.Multimodal
      def jpeg420(d: String): Long = Multimodal.q174Jpeg420Pixels(spark, d).count()
      def trimmed(d: String): Long = Multimodal.q176AudioTrimmedDups(spark, d).count()
      jpeg420(sfDir); trimmed(sfDir) // warm
      probe("jpeg420_decode")(jpeg420(sfDir))(jpeg420(docsNDir))
      probe("audio_trimmed_dup")(trimmed(sfDir))(trimmed(docsNDir))
      // q180: decode + keyframe-select + hash is per-row work; the scene
      // equi-join is quad-bounded (the 1e8 doc shift is a multiple of 4,
      // and cross-copy gid collisions would need Δgid ≡ 0 mod 768 —
      // the shift's residue 64·Δcopy never is, for 10 copies)
      def videoDup(d: String): Long = Multimodal.q180VideoSceneDups(spark, d).count()
      videoDup(sfDir) // warm
      probe("video_scene_dup")(videoDup(sfDir))(videoDup(docsNDir))
      // Round-17 (VERDICT r16 #1): the hot-band cap. q186 runs the
      // banded pair machinery over a corpus WITH a planted flat-image
      // cohort (1/15 of docs, ALL aHashing to the same four band
      // values): uncapped, that one band is ~3.3k members per slot at
      // sf0.1 and ~33k at 10x — ≈22M candidate rows growing to ≈2.2B,
      // a clean factor² blowup this gate would catch. The capped plan
      // drops the hot bands before the join, so time tracks rows.
      def hotBand(d: String): Long = Multimodal.q186HotBandReport(spark, d).count()
      hotBand(sfDir) // warm
      probe("hot_band_cap")(hotBand(sfDir))(hotBand(docsNDir))
      // Round-17 robust fingerprints: q189 decodes + keyframe-selects +
      // aHashes per row and band-joins (quad-bounded by the nonlinear
      // pixel mix); q190 windows + sign-packs per row and equi-joins on
      // 63-bit patterns (quad-bounded by the quartic PCM mix) — both
      // must track rows
      def reenc(d: String): Long = Multimodal.q189ReencodedSceneDups(spark, d).count()
      def gain(d: String): Long = Multimodal.q190GainRobustDups(spark, d).count()
      reenc(sfDir); gain(sfDir) // warm
      probe("reencode_scene_dup")(reenc(sfDir))(reenc(docsNDir))
      probe("gain_audio_dup")(gain(sfDir))(gain(docsNDir))
      // Round-17 cross-modal classifier: both arms are candidate-
      // bounded before they meet (capped image bands, LSH caption
      // bands) and the full-outer join is pair-count-sized — time must
      // track rows, never pairs²
      def xmodal(d: String): Long = Multimodal.q195CrossModalPairs(spark, d).count()
      xmodal(sfDir) // warm
      probe("crossmodal_pairs")(xmodal(sfDir))(xmodal(docsNDir))
      // Round-17 split-leakage audit: the candidate spine plus per-row
      // split hashing — no corpus join, so time must track rows
      def leak(d: String): Long =
        graft.functions.TextOps.q199SplitLeakage(spark, d).count()
      leak(sfDir) // warm
      probe("split_leakage")(leak(sfDir))(leak(docsNDir))
    }

    // Maintained SPAN index: applying a FIXED 50-doc arrival batch must
    // cost the same against a 1x and an Nx positions table — the batch
    // re-hashes only its own windows (batch-unique tokens keep its hash
    // keys fresh on both sides), and the merge touches only those
    // windows' buckets. Catalog-proportional time here would mean the
    // delta derivation or the bucket merge regressed to a table scan.
    {
      import graft.sources.SpanIndex
      def spanBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-spanidx").toString
        SpanIndex.bootstrapSpanIndex(
          Tables(spark, d, "documents").select($"doc_id", $"text"), w)
        w
      }
      val sp1 = spanBootstrapped(sfDir)
      val spN = spanBootstrapped(docsNDir)
      var sb = 0L
      def maintainSpan(root: String): Long = {
        sb += 1
        val delta = spark.range(50).select(
          ($"id" + 700000000L + sb * 1000L).as("doc_id"),
          concat_ws(" ",
            (0 until 12).map(j => concat(lit(s"zz${sb}t${j}x"), $"id")): _*).as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        SpanIndex.applyBatch(delta, sb, root, scope = s"probe$sb")
        1L
      }
      maintainSpan(sp1); maintainSpan(spN) // warm both roots
      probe("span_index_maintain")(maintainSpan(sp1))(maintainSpan(spN))
    }

    // Maintained MODALITY-FINGERPRINT index: a FIXED 50-doc arrival
    // batch against a 1x vs Nx band table. The batch decodes only its
    // own media (fresh doc_ids -> fresh gids/pixels) and the merge
    // touches only the batch fingerprints' band buckets, so the cost
    // tracks the batch — catalog-proportional time would mean the
    // bucket merge regressed to an index scan (or the decode leaked
    // onto the corpus side).
    {
      import graft.sources.ModalityIndex
      def modBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-modidx").toString
        ModalityIndex.bootstrapModalityIndex(
          Tables(spark, d, "documents").select($"doc_id", $"n_chars"), w)
        w
      }
      val m1 = modBootstrapped(sfDir)
      val mN = modBootstrapped(docsNDir)
      var mb = 0L
      def maintainMod(root: String): Long = {
        mb += 1
        val delta = spark.range(50).select(
          ($"id" + 600000000L + mb * 1000L).as("doc_id"),
          concat(lit("m"), $"id").as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        ModalityIndex.applyBatch(delta, mb, root, scope = s"probe$mb")
        1L
      }
      maintainMod(m1); maintainMod(mN) // warm both roots
      probe("modality_index_maintain")(maintainMod(m1))(maintainMod(mN))
    }

    // Maintained AUDIO WINDOW index: a FIXED 50-clip arrival batch
    // (ids forced to the audio residue class) against a 1x vs Nx window
    // table — the SpanIndex shape on PCM; cost must track the batch.
    {
      import graft.sources.AudioWindowIndex
      def awinBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-awin").toString
        AudioWindowIndex.bootstrapAudioWindowIndex(
          Tables(spark, d, "documents").select($"doc_id", $"n_chars"), w)
        w
      }
      val a1 = awinBootstrapped(sfDir)
      val aN = awinBootstrapped(docsNDir)
      var ab = 0L
      def maintainAwin(root: String): Long = {
        ab += 1
        val delta = spark.range(50).select(
          ($"id" * 3 + 600000000L + ab * 3000L + 1L).as("doc_id"),
          concat(lit("a"), $"id").as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        AudioWindowIndex.applyBatch(delta, ab, root, scope = s"probe$ab")
        1L
      }
      maintainAwin(a1); maintainAwin(aN) // warm both roots
      probe("audiowin_index_maintain")(maintainAwin(a1))(maintainAwin(aN))
    }

    // Maintained VIDEO SCENE index: a FIXED 50-clip arrival batch (ids
    // forced to the video residue class) against a 1x vs Nx keyframe
    // table — the exact-fact protocol on video; cost must track the
    // batch (decode + keyframe-select of 50 clips + a bucket-bounded
    // merge), never the catalog.
    {
      import graft.sources.SceneIndex
      def sceneBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-scene").toString
        SceneIndex.bootstrapSceneIndex(
          Tables(spark, d, "documents").select($"doc_id", $"n_chars"), w)
        w
      }
      val s1 = sceneBootstrapped(sfDir)
      val sN = sceneBootstrapped(docsNDir)
      var sb2 = 0L
      def maintainScene(root: String): Long = {
        sb2 += 1
        val delta = spark.range(50).select(
          ($"id" * 3 + 600000000L + sb2 * 3000L + 2L).as("doc_id"),
          concat(lit("v"), $"id").as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        SceneIndex.applyBatch(delta, sb2, root, scope = s"probe$sb2")
        1L
      }
      maintainScene(s1); maintainScene(sN) // warm both roots
      probe("scene_index_maintain")(maintainScene(s1))(maintainScene(sN))
    }

    // Maintained ROBUST faces (re-encode bands / gain windows): FIXED
    // 50-doc arrival batches, ids forced to each family's residue
    // (re-encode clips live on doc_id = 12m+8: %3==2 AND gid%3==2;
    // gain audio on the %3==1 class) — cost must track the batch.
    {
      import graft.sources.{GainWindowIndex, ReencodeIndex}
      def reencBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-reenc").toString
        ReencodeIndex.bootstrapReencodeIndex(
          Tables(spark, d, "documents").select($"doc_id", $"n_chars"), w)
        w
      }
      val r1 = reencBootstrapped(sfDir)
      val rN = reencBootstrapped(docsNDir)
      var rb = 0L
      def maintainReenc(root: String): Long = {
        rb += 1
        val delta = spark.range(50).select(
          ($"id" * 12 + 600000008L + rb * 1200L).as("doc_id"),
          concat(lit("r"), $"id").as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        ReencodeIndex.applyBatch(delta, rb, root, scope = s"probe$rb")
        1L
      }
      maintainReenc(r1); maintainReenc(rN) // warm both roots
      probe("reencode_index_maintain")(maintainReenc(r1))(maintainReenc(rN))

      def gwinBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-gwin").toString
        GainWindowIndex.bootstrapGainWindowIndex(
          Tables(spark, d, "documents").select($"doc_id", $"n_chars"), w)
        w
      }
      val g1 = gwinBootstrapped(sfDir)
      val gN = gwinBootstrapped(docsNDir)
      var gb = 0L
      def maintainGwin(root: String): Long = {
        gb += 1
        val delta = spark.range(50).select(
          ($"id" * 3 + 600000000L + gb * 3000L + 1L).as("doc_id"),
          concat(lit("g"), $"id").as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        GainWindowIndex.applyBatch(delta, gb, root, scope = s"probe$gb")
        1L
      }
      maintainGwin(g1); maintainGwin(gN) // warm both roots
      probe("gainwin_index_maintain")(maintainGwin(g1))(maintainGwin(gN))
    }

    // Maintained CROSS-MODAL image index: a FIXED 50-doc arrival batch
    // (image residue, real multi-token captions so seeds derive) must
    // cost the same against a 1x and an Nx band table.
    {
      import graft.sources.CrossModalIndex
      def xmodBootstrapped(d: String): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-xmod").toString
        CrossModalIndex.bootstrapCrossModalIndex(
          Tables(spark, d, "documents").select($"doc_id", $"text"), w)
        w
      }
      val x1 = xmodBootstrapped(sfDir)
      val xN = xmodBootstrapped(docsNDir)
      var xb = 0L
      def maintainXmod(root: String): Long = {
        xb += 1
        val delta = spark.range(50).select(
          ($"id" * 3 + 600000000L + xb * 3000L).as("doc_id"),
          concat_ws(" ", lit("cap"), $"id", lit("tion"), $"id" + 7,
            lit("word"), $"id" * 31).as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
        CrossModalIndex.applyBatch(delta, xb, root, scope = s"probe$xb")
        1L
      }
      maintainXmod(x1); maintainXmod(xN) // warm both roots
      probe("crossmodal_index_maintain")(maintainXmod(x1))(maintainXmod(xN))
    }

    // GC COST (VERDICT r17 #7): maintenance latency must not grow with
    // COMMIT HISTORY once compaction has run — 100 commits × 13 indexes
    // is the real-ops shape, and IndexGcSpec only proves compact+vacuum
    // CORRECTNESS. Two span indexes over the SAME bootstrap corpus, one
    // driven through 3 tiny commits and one through 3×factor, then both
    // compacted and vacuumed; the probe times one identical fixed
    // arrival batch against each. The fragments the commit history left
    // behind (per-commit manifest entries, file shards, batch tags) are
    // exactly what GC exists to erase, so post-GC maintenance must cost
    // the batch, not the history — history-proportional time here means
    // GC left per-commit residue on the maintenance path.
    {
      import graft.sources.{ManifestTable, SpanIndex}
      var gcSeq = 0L
      def gcDelta(): DataFrame = {
        gcSeq += 1
        spark.range(5).select(
          ($"id" + 800000000L + gcSeq * 1000L).as("doc_id"),
          concat_ws(" ",
            (0 until 12).map(j => concat(lit(s"gc${gcSeq}t${j}x"), $"id")): _*).as("text"),
          lit("insert").as("_change_type")).localCheckpoint()
      }
      def committed(nCommits: Int): String = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-gc").toString
        SpanIndex.bootstrapSpanIndex(
          Tables(spark, sfDir, "documents").select($"doc_id", $"text"), w)
        (1 to nCommits).foreach { i =>
          SpanIndex.applyBatch(gcDelta(), i.toLong, w, scope = s"gc$w$i")
        }
        ManifestTable.compact(spark, w, "bucket")
        ManifestTable.vacuum(w, keepVersions = 1, orphanGraceMs = 0L)
        w
      }
      val g1 = committed(3)
      val gN = committed(3 * factor)
      def maintainAfterGc(root: String): Long = {
        gcSeq += 1
        SpanIndex.applyBatch(gcDelta(), gcSeq, root, scope = s"gcprobe$gcSeq")
        1L
      }
      maintainAfterGc(g1); maintainAfterGc(gN) // warm both roots
      probe("index_gc_cost")(maintainAfterGc(g1))(maintainAfterGc(gN))
    }

    // GC COST for the AFFECTED-SET indexes (VERDICT r18 #8):
    // index_gc_cost gates the shared MaintainedIndex protocol via
    // SpanIndex, but ClusterIndex and EntityIndex run their OWN
    // maintenance paths — affected-component re-solves that
    // read-modify-write the membership/representative tables — with
    // their own fragmentation behavior: every tiny commit shards THREE
    // tables at once and the re-solve READS what earlier commits wrote,
    // so per-commit residue would compound on exactly the path the
    // probe times. Same shape as above: two fixtures over the same
    // bootstrap, 3 vs 3×factor commits, compact + vacuum every table,
    // then one identical arrival batch against each.
    // Both fixtures feed applyBatch the PRODUCTION delta shape — a real
    // corpus ManifestTable merge followed by readChanges — not a
    // hand-built change frame (the turnkey streams and fixtures only
    // ever feed CDC-derived frames).
    {
      import graft.sources.{ClusterIndex, DedupIndex, ManifestTable}
      var cgSeq = 0L
      def clCommit(corpus: String): DataFrame = {
        cgSeq += 1
        val rows = (0 until 5).map { id =>
          (id + 810000000L + cgSeq * 1000L,
            (0 until 6).map(j => s"cg${cgSeq}t${j}x$id").mkString(" "))
        }.toDF("doc_id", "text")
        val v = ManifestTable.merge(rows, corpus, Seq("doc_id"))
        ManifestTable.readChanges(spark, corpus, v - 1, v, Seq("doc_id"),
          preimages = true).localCheckpoint()
      }
      def committed(nCommits: Int): (String, String, String, String) = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-clgc").toString
        val docs = Tables(spark, sfDir, "documents").select($"doc_id", $"text")
        ManifestTable.merge(docs, s"$w/corpus", Seq("doc_id"))
        DedupIndex.bootstrapBandIndex(docs, s"$w/band")
        ClusterIndex.bootstrap(docs, s"$w/memb", s"$w/rep")
        (1 to nCommits).foreach { i =>
          ClusterIndex.applyBatch(clCommit(s"$w/corpus"), i.toLong, s"$w/band",
            s"$w/memb", s"$w/rep", scope = s"clgc$w$i")
        }
        Seq(s"$w/band" -> "pbucket", s"$w/memb" -> "mbucket",
            s"$w/rep" -> "rbucket").foreach { case (r, p) =>
          ManifestTable.compact(spark, r, p)
          ManifestTable.vacuum(r, keepVersions = 1, orphanGraceMs = 0L)
        }
        (s"$w/corpus", s"$w/band", s"$w/memb", s"$w/rep")
      }
      val c1 = committed(3)
      val cN = committed(3 * factor)
      def maintainAfterGc(roots: (String, String, String, String)): Long = {
        cgSeq += 1
        ClusterIndex.applyBatch(clCommit(roots._1), cgSeq, roots._2, roots._3,
          roots._4, scope = s"clgcprobe$cgSeq")
        1L
      }
      maintainAfterGc(c1); maintainAfterGc(cN) // warm both roots
      probe("cluster_gc_cost")(maintainAfterGc(c1))(maintainAfterGc(cN))
    }
    {
      import graft.sources.{EntityIndex, ManifestTable}
      var egSeq = 0L
      def erCommit(corpus: String): DataFrame = {
        egSeq += 1
        val rows = (0 until 5).map { id =>
          (id + 820000000L + egSeq * 1000L,
            s"eg${egSeq}adj$id eg${egSeq}noun$id")
        }.toDF("p_partkey", "p_name")
        val v = ManifestTable.merge(rows, corpus, Seq("p_partkey"))
        ManifestTable.readChanges(spark, corpus, v - 1, v, Seq("p_partkey"),
          preimages = true).localCheckpoint()
      }
      def committed(nCommits: Int): (String, String, String, String) = {
        val w = java.nio.file.Files.createTempDirectory("graft-scale-ergc").toString
        val records = Tables(spark, sfDir, "part").select($"p_partkey", $"p_name")
        ManifestTable.merge(records, s"$w/corpus", Seq("p_partkey"))
        EntityIndex.bootstrap(records, s"$w/block", s"$w/memb", s"$w/ent")
        (1 to nCommits).foreach { i =>
          EntityIndex.applyBatch(erCommit(s"$w/corpus"), i.toLong, s"$w/block",
            s"$w/memb", s"$w/ent", scope = s"ergc$w$i")
        }
        Seq(s"$w/block" -> "kbucket", s"$w/memb" -> "mbucket",
            s"$w/ent" -> "ebucket").foreach { case (r, p) =>
          ManifestTable.compact(spark, r, p)
          ManifestTable.vacuum(r, keepVersions = 1, orphanGraceMs = 0L)
        }
        (s"$w/corpus", s"$w/block", s"$w/memb", s"$w/ent")
      }
      val e1 = committed(3)
      val eN = committed(3 * factor)
      def maintainAfterGc(roots: (String, String, String, String)): Long = {
        egSeq += 1
        EntityIndex.applyBatch(erCommit(roots._1), egSeq, roots._2, roots._3,
          roots._4, scope = s"ergcprobe$egSeq")
        1L
      }
      maintainAfterGc(e1); maintainAfterGc(eN) // warm both roots
      probe("entity_gc_cost")(maintainAfterGc(e1))(maintainAfterGc(eN))
    }

    // ---- the gate: time must grow at most linearly with data ----
    val gated = results.toSeq.map { case (n, t1, tN) =>
      (n, t1, tN, tN / math.max(t1, 0.3))
    }
    val ratios = gated.map { case (n, _, _, r) =>
      "\"" + n + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
    }.mkString("{", ",", "}")
    println(s"""SCALEPROBE_RATIOS={"factor":$factor,"gate":$factor,"ratios":$ratios}""")
    // A shape fails only if a CONFIRMING re-measurement also exceeds the
    // gate: each side is timed once, so an external load spike landing in
    // one window reads as a fake 10x+ ratio (observed: the same probe
    // swinging 5x <-> 20x run-to-run on the shared box). A structural
    // blowup (quadratic join, collapsed partitioning) reproduces on
    // retry; interference does not. The retry reuses the same thunks,
    // warm from the first pass.
    val over = gated.filter(_._4 > factor).filter { case (n, t1, tN, r) =>
      println(f"SCALEPROBE_SUSPECT $n: $r%.1fx ($t1%.2f s -> $tN%.2f s), re-measuring")
      val (f1, fN) = thunks(n)
      val t1b = time(s"${n}_1x_retry")(f1())
      val tNb = time(s"${n}_${factor}x_retry")(fN())
      tNb / math.max(t1b, 0.3) > factor
    }
    spark.stop()
    over.foreach { case (n, t1, tN, r) =>
      println(f"SCALEPROBE_FAIL $n: ${factor}x data took $r%.1fx time ($t1%.2f s -> $tN%.2f s)")
    }
    if (assertGate && over.nonEmpty) {
      println(s"SCALEPROBE_VERDICT=FAIL (${over.size} shapes super-linear)")
      sys.exit(2)
    }
    println("SCALEPROBE_VERDICT=PASS")
  }
}
