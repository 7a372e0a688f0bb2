package graft.functions

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis and document-deduplication surface for training-data
  * pipelines (the 100 TB extension mandated alongside SURVEY §2): token
  * counting, quality scoring, language-ID, fingerprinting, exact dedup,
  * MinHash+LSH and SimHash near-dup, n-gram Jaccard.
  *
  * Everything is built from codegen'd built-in expressions (split/
  * transform/aggregate/md5) — no UDFs — so whole-stage codegen covers the
  * hot path and the same plan distributes: per-doc work is embarrassingly
  * parallel; the only shuffles are the groupBy(doc_id) signature build and
  * the band-bucket self-join, both on keys that stay well-distributed.
  */
object TextOps {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Tokens of `text` split on whitespace (trimmed). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Positional word 3-gram shingles; empty array for docs under 3 tokens
    * (guarded — Spark's sequence(1,0) would run DESCENDING otherwise). */
  val shinglesExpr: String =
    """CASE WHEN size(toks) < 3 THEN array()
      |     ELSE transform(sequence(1, size(toks) - 2),
      |                    i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))
      |END""".stripMargin

  /** Exploded (doc_id, shingle) rows, duplicates included. */
  /** The raw (doc_id, shingle) multiset — the shared base of the whole
    * near-dup family (q30's signatures, q31's capped sets, q91's novelty
    * view). Under `graft.cacheTables` the explode itself is persisted
    * once per (session, path), so the three consumers' derived views all
    * build off one corpus pass instead of re-exploding. */
  private val rawShingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[functions] def rawShingles(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = shinglesOf(docs(s, d))
    if (sys.props.get("graft.cacheTables").contains("true")) {
      rawShingleCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      rawShingleCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  /** DuckDB-side shingle CTE: DISTINCT (doc_id, shingle) sets (list
    * comprehension replaces Spark's transform+sequence). Consumers that
    * are dedup-invariant (min — q30) use it interchangeably with the raw
    * multiset. */
  private[graft] val shingleCte: String =
    """sh AS (SELECT DISTINCT doc_id,
      |  unnest(CASE WHEN len(toks) < 3 THEN []
      |              ELSE [array_to_string(toks[i:i+2], ' ')
      |                    FOR i IN generate_series(1, len(toks) - 2)] END) AS shingle
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents))""".stripMargin

  /** Token counting + per-language corpus stats (the "token budget"
    * aggregation every training-data pipeline starts with). */
  def q25DocStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"lang", size(tokens($"text")).cast("long").as("n_tokens"),
              length($"text").cast("long").as("text_len"), $"n_chars")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens").as("total_tokens"),
           avg($"n_tokens").as("avg_tokens"),
           sum($"n_chars").as("total_chars"),
           avg($"text_len").as("avg_text_len"))
  }

  val q25Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  avg(len(string_split_regex(trim(text), '\s+'))) AS avg_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  avg(length(text)) AS avg_text_len
      |FROM documents
      |GROUP BY lang""".stripMargin

  /** Quality scoring: token count, stopword ratio (list_filter over the
    * token array — word-boundary exact, not substring), length band. The
    * score is a deterministic arithmetic formula so the DuckDB oracle
    * reproduces it bit-for-bit (modulo driver rounding). */
  def q26QualityScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        size(expr("filter(toks, x -> x IN ('the', 'a', 'of', 'and'))")).cast("long").as("n_stopwords"))
      .withColumn("stopword_ratio", $"n_stopwords" / $"n_tokens")
      .withColumn("quality_score",
        least($"n_tokens" / 100.0, lit(1.0)) * (lit(1.0) - $"stopword_ratio"))
  }

  val q26Sql: String =
    """SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stopwords,
      |  len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) / len(toks) AS stopword_ratio,
      |  least(len(toks) / 100.0, 1.0)
      |    * (1.0 - len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and'))) / len(toks)) AS quality_score
      |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)""".stripMargin

  /** Language-ID by stopword-profile scoring (n-gram-heuristic family):
    * count profile hits per language over the token array, argmax with a
    * fixed precedence tie-break. (The corpus is synthetic word-soup; the
    * operator's value is the deterministic, distributable shape.) */
  def q27LangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", $"lang", tokens($"text").as("toks"))
      .select($"doc_id", $"lang",
        size(expr("filter(toks, x -> x IN ('the', 'a', 'of'))")).cast("long").as("en_hits"),
        size(expr("filter(toks, x -> x IN ('der', 'die', 'und'))")).cast("long").as("de_hits"),
        size(expr("filter(toks, x -> x IN ('el', 'la', 'de'))")).cast("long").as("es_hits"))
      .withColumn("lang_guess",
        when($"en_hits" >= $"de_hits" && $"en_hits" >= $"es_hits", "en")
          .when($"de_hits" >= $"es_hits", "de")
          .otherwise("es"))
  }

  val q27Sql: String =
    """SELECT doc_id, lang,
      |  CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS BIGINT) AS en_hits,
      |  CAST(len(list_filter(toks, x -> x IN ('der', 'die', 'und'))) AS BIGINT) AS de_hits,
      |  CAST(len(list_filter(toks, x -> x IN ('el', 'la', 'de'))) AS BIGINT) AS es_hits,
      |  CASE WHEN len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) >= len(list_filter(toks, x -> x IN ('der', 'die', 'und')))
      |        AND len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) >= len(list_filter(toks, x -> x IN ('el', 'la', 'de')))
      |       THEN 'en'
      |       WHEN len(list_filter(toks, x -> x IN ('der', 'die', 'und'))) >= len(list_filter(toks, x -> x IN ('el', 'la', 'de')))
      |       THEN 'de' ELSE 'es' END AS lang_guess
      |FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks FROM documents)""".stripMargin

  /** Exact content dedup (hash-groupBy — the D1 shape at corpus scale):
    * canonical hash of normalized text, one keeper per group (min doc_id),
    * copy count. One shuffle on the hash; combiner-friendly. */
  def q28ExactDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", md5(trim($"text")).as("text_hash"))
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  val q28Sql: String =
    """SELECT md5(trim(text)) AS text_hash, min(doc_id) AS keeper_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** Document fingerprinting: stable 16-hex-char fingerprint of the
    * whitespace-normalized lowercase text (md5-prefix family; the rolling
    * polynomial variant is q45RollingFingerprint). */
  def q29Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id",
        substring(md5(regexp_replace(lower(trim($"text")), "\\s+", " ")), 1, 16).as("fingerprint"),
        $"source")
  }

  val q29Sql: String =
    """SELECT doc_id,
      |  substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fingerprint,
      |  source
      |FROM documents""".stripMargin

  /** MinHash + LSH near-dup candidates: 3-gram shingles → ONE md5 per
    * shingle, 8 MinHash signatures as the 8 disjoint 4-hex-char (16-bit)
    * slices of that single digest (min over a fixed-width hex slice is
    * engine-portable lexicographic = numeric min) → 4 bands of 2 →
    * candidate pairs sharing an 8-char band bucket. Round 1 hashed every
    * shingle occurrence 8× and shuffled 64-char buckets; this is the same
    * LSH shape at 1/8 the hash work and 1/8 the shuffle width — at 100 TB
    * the bucket cardinality keeps the self-join shuffle fine-grained, and
    * no pairwise work happens outside colliding buckets (the LSH point). */
  /** The 8-slice MinHash signature per doc (q30's construction, shared
    * with the q95 calibration): one md5 per shingle, 8 disjoint 4-hex
    * (16-bit) slices, min per slice. min() is dedup-invariant — no
    * distinct shuffle before the groupBy. */
  private def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignaturesOf(rawShingles(s, d))

  /** The signature aggregation over an arbitrary (doc_id, shingle)
    * frame — shared by the path-based view above and the incremental
    * index maintenance ([[graft.sources.DedupIndex]]), so the
    * maintained index and the recompute provably hash the same way. */
  private[graft] def minhashSignaturesOf(shingleRows: DataFrame): DataFrame = {
    val sh = shingleRows.withColumn("h", md5(col("shingle")))
    val mins = (0 until 8).map(i => min(substring(col("h"), 1 + 4 * i, 4)).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Exploded (doc_id, shingle) rows of an arbitrary (doc_id, text, …)
    * frame — [[rawShingles]] without the path/view machinery, for
    * callers that shingle a CHANGED-ROWS delta rather than a table
    * (the "never re-shingle the lake" ingest path). */
  private[graft] def shinglesOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(shinglesExpr)).as("shingle"))

  /** Append the exact content fingerprint `fp` to an arbitrary docs
    * frame (columns preserved) — q125's fingerprint and
    * [[graft.sources.DedupIndex]]'s maintained exact index share this
    * single definition. */
  private[graft] def withFingerprint(docsDf: DataFrame): DataFrame =
    docsDf.withColumn("fp", md5(col("text")))

  /** Just (doc_id, fp) — [[withFingerprint]] projected to the probe shape. */
  private[graft] def fingerprintsOf(docsDf: DataFrame): DataFrame =
    withFingerprint(docsDf).select(col("doc_id"), col("fp"))

  /** The 4-band LSH rows (doc_id, band, bucket) of an arbitrary docs
    * frame — q30/q126's banding over [[minhashSignaturesOf]], shared
    * with the maintained band-bucket index. Docs with fewer than 3
    * tokens have no shingles, hence no signature and NO band rows —
    * identically on the query and index paths. */
  private[graft] def bandRowsOf(docsDf: DataFrame): DataFrame =
    minhashSignaturesOf(shinglesOf(docsDf)).selectExpr("doc_id", bandStackExpr)

  /** The 4-bands-of-2-slices banding, shared verbatim by q30, q126 and
    * [[bandRowsOf]] so every LSH surface buckets identically. */
  private[graft] val bandStackExpr: String =
    "stack(4, 0, concat(h0, h1), 1, concat(h2, h3), 2, concat(h4, h5), 3, concat(h6, h7)) AS (band, bucket)"

  /** Per-row (non-aggregating) form of [[bandRowsOf]] for STREAMS: the
    * signature min runs over each row's own shingle ARRAY (`array_min`
    * of the same md5 slices) instead of a groupBy — legal before a
    * stateful streaming operator, and value-identical, because min over
    * a doc's exploded shingle rows ≡ array_min over its shingle array.
    * Docs under 3 tokens drop out exactly as on the batch path (empty
    * array → filtered). Extra input columns are preserved so a stream's
    * routing flags ride along. */
  private[graft] def bandRowsPerRow(docsDf: DataFrame): DataFrame = {
    val extra = docsDf.columns.filterNot(Set("doc_id", "text")).toSeq
    val mins = (0 until 8).map(i =>
      expr(s"array_min(transform(hs, h -> substring(h, ${1 + 4 * i}, 4)))").as(s"h$i"))
    docsDf
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", expr(shinglesExpr))
      .where(size(col("sh")) > 0)
      .withColumn("hs", expr("transform(sh, x -> md5(x))"))
      .select((col("doc_id") +: mins) ++ extra.map(col): _*)
      .selectExpr(Seq("doc_id", bandStackExpr) ++ extra: _*)
  }

  def q30MinHashLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = minhashSignatures(s, d)
    val bands = sig.selectExpr("doc_id", bandStackExpr)
    // merge-join hint: at corpus scale the signature table (4 rows/doc)
    // is never broadcastable, and with both sides shuffled identically
    // Spark reuses ONE exchange — the shingle+minhash build runs once,
    // not twice (verified: ReusedExchange in PlanSpec)
    bands.as("a").join(bands.as("b").hint("merge"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
  }

  /** The candidate-pair set as a SHARED MATERIALIZED VIEW: q30 emits it,
    * q54's component labeling consumes it, and in a real curation
    * pipeline so do keeper selection and review sampling — computing it
    * once and persisting is the production shape (the engine-side analog
    * of the reference's st.cache_data gold cache, same opt-in flag as
    * [[graft.Tables]]). Off by default: Verify measures each query's
    * real cost from the scan. */
  private val candidateCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  def candidatePairs(s: SparkSession, d: String): DataFrame =
    if (sys.props.get("graft.cacheTables").contains("true")) {
      // keyed by (session, path): a later SparkSession in the same JVM
      // reusing the path must not get a DataFrame bound to a stopped
      // session; entries of dead sessions are dropped on access
      candidateCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      candidateCache.getOrElseUpdate((s, d), q30MinHashLsh(s, d).persist())
    } else q30MinHashLsh(s, d)

  val q30Sql: String =
    s"""WITH $shingleCte,
      |hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
      |sig AS (SELECT doc_id,
      |  min(substring(h, 1, 4)) h0, min(substring(h, 5, 4)) h1,
      |  min(substring(h, 9, 4)) h2, min(substring(h, 13, 4)) h3,
      |  min(substring(h, 17, 4)) h4, min(substring(h, 21, 4)) h5,
      |  min(substring(h, 25, 4)) h6, min(substring(h, 29, 4)) h7
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 || h1 AS bucket FROM sig
      |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
      |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
      |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin

  /** Document-frequency cap for q31's shingle self-join: a shingle shared
    * by k docs produces O(k²) candidate pairs, so one hot shingle (think
    * boilerplate headers at 100 TB) makes the join quadratic. Dropping
    * shingles with df > K bounds pair expansion at K·|shingle rows| —
    * standard near-dup practice (a shingle in "everything" carries no
    * similarity signal anyway). K = 30 exceeds the max observed df at the
    * test SFs (25 at sf0.1), so test answers are unchanged; the guard is
    * structural. */
  val JaccardDfCap = 30

  /** The df-capped distinct (shid, doc_id) rows q31 builds its self-join
    * from. ONE exchange does dedup + df-cap + candidate grouping, with
    * memory bounded by the CAP rather than the data: capped_collect_set
    * (a custom TypedImperativeAggregate) behaves exactly like
    * `collect_set(..) filtered to size <= cap`, but every aggregation
    * buffer stops growing at cap+1 elements — a boilerplate shingle
    * shared by 10M docs costs 31 longs, not a multi-GB array on one row.
    * (Measured against the two declarative no-giant-row forms — distinct
    * + count window; distinct + df-count + shuffle-hash join — both pay
    * a second full-data shuffle and ran ~2x slower at sf0.1.)
    *
    * Under the shared-view flag the result is persisted per (session,
    * path): q31 consumes it twice (pair expansion + size lookup), and
    * the physical planner does not reuse the aggregation exchange across
    * those subtrees — the same st.cache_data-analog treatment the q30
    * candidate view gets.
    *
    * The cached form is the AGGREGATED row (shid, sorted ids array), not
    * the exploded one: each shingle's ≤cap docs on one row is exactly
    * the shape pair generation wants, so q31 never needs a self-join. */
  private val cappedShingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def cappedShingleSets(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = {
      import s.implicits._
      graft.expressions.CappedCollectSet.register(s)
      rawShingles(s, d)
        .select($"doc_id", xxhash64($"shingle").as("shid"))
        .groupBy($"shid")
        .agg(expr(s"capped_collect_set(doc_id, $JaccardDfCap)").as("ids"))
        .where($"ids".isNotNull)
        .select($"shid", array_sort($"ids").as("ids"))
    }
    if (sys.props.get("graft.cacheTables").contains("true")) {
      cappedShingleCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      cappedShingleCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  /** n-gram Jaccard similarity: pairs sharing ≥1 shingle, scored
    * |A∩B| / |A∪B|, thresholded. Grouping by shingle first means
    * pairwise work is proportional to actual overlap, not n². Scale
    * levers vs the naive form: the grouping key is the 64-bit `xxhash64`
    * of the shingle, not the raw string — the OUTPUT carries no hash
    * values, so the engine-internal hash can be the fastest codegen'd
    * one (the DuckDB oracle uses its own md5 prefix; both are
    * collision-free at these cardinalities, so results coincide) —
    * shingles above [[JaccardDfCap]] are dropped during that aggregation
    * (bounds the blowup a hot shingle causes), and pairs are expanded
    * directly from each shingle's co-located ≤cap doc set, so no
    * self-join ever happens. */
  def q31JaccardPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cappedPairStats(s, d)
      .withColumn("jaccard", $"n_shared" / ($"na" + $"nb" - $"n_shared"))
      .where($"jaccard" >= 0.10)
      .select($"doc_a", $"doc_b", $"n_shared", $"jaccard")
  }

  /** (doc_a < doc_b, |A∩B|, |A|, |B|) over the df-capped shingle sets —
    * the shared spine of q31 (Jaccard) and q116 (containment). Pair
    * generation runs straight off the aggregated (shid, sorted ids) row
    * — each shingle's ≤cap docs are already co-located, so the former
    * sort-merge self-join (two sorts + an exchange of the exploded
    * table) collapses to two chained codegen explodes; ids sorted
    * ascending makes doc_a < doc_b by construction. The pair expansion
    * and its shuffle dominate both consumers' cost, so under the
    * shared-view flag the RESULT (not just the input sets) is persisted
    * per (session, path) — q31 and q116 then differ only in the final
    * per-row score. */
  private val pairStatsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def cappedPairStats(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = {
      import s.implicits._
      val sets = cappedShingleSets(s, d)
      val sizes = sets.select(explode($"ids").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      val shared = sets
        // singleton shingles (the vast majority) yield no pairs — drop them
        // BEFORE the double explode instead of materializing their rows
        .where(size($"ids") >= 2)
        .select($"ids", posexplode($"ids").as(Seq("i", "doc_a")))
        .select($"doc_a", explode(slice($"ids", $"i" + lit(2), size($"ids"))).as("doc_b"))
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
    }
    if (sys.props.get("graft.cacheTables").contains("true")) {
      pairStatsCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      pairStatsCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  /** q116 — shingle CONTAINMENT pairs (Broder's containment
    * coefficient, |A∩B| / min(|A|,|B|)): the asymmetric near-dup
    * measure that catches a SHORT doc embedded in a LONG one — a quote,
    * a syndicated excerpt, a README pasted into a larger page — where
    * symmetric Jaccard stays low (the union is dominated by the long
    * doc) and q31-style dedup never fires. Output names the contained
    * (smaller-set) side and carries BOTH scores so a pipeline can see
    * exactly which pairs containment adds over Jaccard; pairs are
    * containment ≥ 0.8. Rides q31's df-capped co-located pair spine
    * ([[cappedPairStats]]): same ONE-exchange scale shape, no self-join,
    * blowup bounded by [[JaccardDfCap]]. */
  def q116ContainmentPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cappedPairStats(s, d)
      .withColumn("containment", $"n_shared" / least($"na", $"nb"))
      .where($"containment" >= 0.8)
      .select(
        when($"nb" < $"na", $"doc_b").otherwise($"doc_a").as("doc_contained"),
        when($"nb" < $"na", $"doc_a").otherwise($"doc_b").as("doc_container"),
        $"n_shared", $"containment",
        ($"n_shared" / ($"na" + $"nb" - $"n_shared")).as("jaccard"))
  }

  val q116Sql: String =
    s"""WITH $shingleCte,
      |h AS (SELECT DISTINCT doc_id, substring(md5(shingle), 1, 16) AS sh16 FROM sh),
      |capped AS (SELECT doc_id, sh16 FROM (
      |    SELECT doc_id, sh16, count(*) OVER (PARTITION BY sh16) AS df FROM h)
      |  WHERE df <= 30),
      |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
      |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |           FROM capped a JOIN capped b ON a.sh16 = b.sh16 AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)
      |SELECT CASE WHEN sb.n < sa.n THEN doc_b ELSE doc_a END AS doc_contained,
      |       CASE WHEN sb.n < sa.n THEN doc_a ELSE doc_b END AS doc_container,
      |       n_shared,
      |       n_shared / least(sa.n, sb.n) AS containment,
      |       n_shared / (sa.n + sb.n - n_shared) AS jaccard
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_shared / least(sa.n, sb.n) >= 0.8""".stripMargin

  /** q118 — repeated token-SPAN detection by WINNOWING (Schleimer,
    * Wilkerson & Aiken, SIGMOD'02 — the MOSS fingerprinter; span-granular
    * kin of "Deduplicating Training Data Makes Language Models Better"
    * suffix dedup): hash every 8-token window, then per doc select the
    * MINIMUM hash in each sliding window of w=4 consecutive span hashes.
    * Selection is CONTENT-defined, so two docs sharing a verbatim run
    * pick identical fingerprints inside it no matter where the run sits
    * in either doc — the winnowing theorem guarantees any shared run of
    * ≥ w+L−1 = 11 tokens yields at least one common selected span.
    * (Position-strided sampling, the tempting cheap alternative, has NO
    * such guarantee: its samples only align when the run's offsets agree
    * mod the stride.) Per doc: how many selected fingerprints, and how
    * many also occur in ANOTHER doc — catching partial boilerplate /
    * quotation overlap that whole-doc fingerprints (q28/q29) miss and
    * shingle-Jaccard (q31) underweights on long docs.
    *
    * Scale shape: selected spans per doc ≈ 2/(w+1) of positions (~2.5×
    * reduction), one shuffle keyed by span hash for document frequency;
    * the spans⋈df join is hint-free — AQE broadcasts the df side at
    * test SF (observed plan), and at corpus scale both sides
    * hash-partition on span_hash, which stays skew-safe under AQE where
    * a window-count alternative would serialize a hot boilerplate span
    * into one task. Never a doc-pair expansion, so cost stays linear in
    * corpus tokens however duplicated the corpus is. Docs under 11
    * tokens (< w spans) have no winnow window and drop out (both
    * engines agree). */
  /** All w-token span hashes of a `toks` array column (every position) —
    * the ExactSubstr min-match length is a TUNABLE (Lee et al. 2022 use
    * 50 BPE tokens; the suite gates w = 8 and w = 16). */
  def spanHashesExprW(w: Int): String =
    s"transform(sequence(0, size(toks) - $w), i -> md5(array_join(slice(toks, i + 1, $w), ' ')))"

  /** All 8-token span hashes of a `toks` array column (every position). */
  val spanHashesExpr: String = spanHashesExprW(8)

  /** Winnow selection over a `hashes` array column: min hash per sliding
    * window of 4, deduplicated. Shared by q118 and the streaming twin so
    * the two can never drift on the fingerprint definition. */
  val winnowExpr: String =
    "array_distinct(transform(sequence(0, size(hashes) - 4), j -> array_min(slice(hashes, j + 1, 4))))"

  /** Under the suite-wide cache flag the winnowed (doc_id, span_hash)
    * table is persisted per (session, path): q118 consumes it twice (df
    * aggregation + the join back), so sharing saves a full re-derivation
    * of every span hash. */
  private val winnowCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def winnowedSpansView(s: SparkSession, d: String): DataFrame =
    if (sys.props.get("graft.cacheTables").contains("true")) {
      winnowCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      winnowCache.getOrElseUpdate((s, d), winnowedSpans(docs(s, d)).persist())
    } else winnowedSpans(docs(s, d))

  def q118RepeatedSpans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spans = winnowedSpansView(s, d)
    val df = spans.groupBy($"span_hash")
      .agg(countDistinct($"doc_id").as("span_df"))
    spans.join(df, "span_hash")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when($"span_df" >= 2, 1L).otherwise(0L)).as("n_shared_spans"))
      .withColumn("shared_ratio", round($"n_shared_spans" / $"n_spans", 6))
  }

  /** (doc_id, span_hash) winnowed fingerprints of a (doc_id, text, …)
    * frame — q118's selection step, shared with the streaming twin
    * ([[graft.streaming.EventStream.spanOverlapStream]]). */
  def winnowedSpans(docFrame: DataFrame): DataFrame = {
    val s = docFrame.sparkSession
    import s.implicits._
    docFrame
      .select($"doc_id", tokens($"text").as("toks"))
      .where(size($"toks") >= 11)
      .select($"doc_id", expr(spanHashesExpr).as("hashes"))
      .select($"doc_id", explode(expr(winnowExpr)).as("span_hash"))
  }

  val q118Sql: String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents),
      |h AS (SELECT doc_id,
      |             list_transform(generate_series(1, len(toks) - 7),
      |               i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS hashes
      |      FROM t WHERE len(toks) >= 11),
      |w AS (SELECT doc_id,
      |             unnest(list_distinct(list_transform(generate_series(1, len(hashes) - 3),
      |               j -> list_aggregate(list_slice(hashes, j, j + 3), 'min')))) AS span_hash
      |      FROM h),
      |df AS (SELECT span_hash, count(DISTINCT doc_id) AS span_df
      |       FROM w GROUP BY span_hash)
      |SELECT w.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_spans,
      |       CAST(sum(CASE WHEN df.span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
      |       round(sum(CASE WHEN df.span_df >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS shared_ratio
      |FROM w JOIN df USING (span_hash)
      |GROUP BY w.doc_id""".stripMargin

  /** q148 — EXACT-SUBSTRING duplicate spans ("ExactSubstr" from Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 §4.1): the maximal token intervals of
    * each document whose content occurs at least twice ANYWHERE in the
    * corpus — the spans that method would cut before training. Where
    * q118 winnow-SAMPLES spans to estimate per-doc overlap ratios, q148
    * is exhaustive and positional: every 8-token window is hashed at
    * every position, a window is duplicated when its hash occurs ≥ 2
    * times corpus-wide (including twice within ONE doc — self-repetition
    * is cut too, unlike q118's cross-doc countDistinct), and per doc the
    * duplicated positions are merged into maximal removal intervals by
    * gaps-and-islands: window position p covers tokens [p+1, p+8]
    * (1-based), two length-8 covers merge when they overlap or touch,
    * i.e. a new island starts when p − lag(p) > 8. One output row per
    * merged interval: (doc_id, span_start, span_end, span_tokens).
    *
    * The reference paper builds a suffix array; the distributed
    * re-expression is windowed hashing — linear in corpus tokens, never
    * a doc-pair expansion, and a true superset detector for runs ≥ 8
    * tokens (any duplicated run of length L ≥ 8 yields L − 7 duplicated
    * windows that merge back into exactly that run, ± the window-length
    * rounding at the edges).
    *
    * 100 TB shape: the position table is O(corpus tokens) but never
    * materialized — it flows from the scan into one count(*) shuffle on
    * span hash (map-side partial counts collapse each doc's repeats
    * early); the join back is hash⋈hash (AQE broadcasts the duplicated
    * side at small SF; at corpus scale both sides hash-partition on the
    * hash, skew-safe because a hot boilerplate hash still lands its
    * positions across many docs); only DUPLICATED positions — a small
    * fraction of the corpus for a healthy mix — reach the per-doc
    * window, so the doc_id shuffle carries the dup subset, not the
    * corpus. */
  /** Every w-token window position of every (≥ w-token) doc as
    * (doc_id, p, h) with p the 0-based hash-array index — the window at p
    * covers tokens [p+1, p+w] (1-based). Shared by q148/q149/q150 (w = 8)
    * and q152 (w = 16). */
  private[graft] def windowPositions(docFrame: DataFrame, w: Int = 8): DataFrame = {
    val s = docFrame.sparkSession
    import s.implicits._
    windowPositionsFromToks(
      docFrame.select($"doc_id", tokens($"text").as("toks")), w)
  }

  /** The width-specific explode over an already-tokenized (doc_id, toks)
    * frame — the per-width work. Splitting this from tokenization lets
    * the w = 8 and w = 16 views share ONE tokenized corpus pass
    * (VERDICT r13 #4: each width's view build used to re-tokenize the
    * whole corpus; the hash tables are legitimately per-width, the
    * token arrays are not). */
  private def windowPositionsFromToks(tokFrame: DataFrame, w: Int): DataFrame = {
    val s = tokFrame.sparkSession
    import s.implicits._
    tokFrame
      .where(size($"toks") >= w)
      .select($"doc_id", posexplode(expr(spanHashesExprW(w))).as(Seq("p", "h")))
  }

  /** Shared (doc_id, toks) tokenized corpus — persisted once per
    * (session, path) under the suite cache flag so every window width
    * derives from one tokenization. */
  private val tokenizedDocsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop the shared tokenized corpus once every per-width window view
    * has materialized (VERDICT r14 #3): the token arrays are build
    * scaffolding, not a consumer surface — holding them alongside both
    * width views just raises the suite's cache peak for no reader. */
  private[graft] def releaseTokenizedDocs(s: SparkSession, d: String): Unit =
    tokenizedDocsCache.remove((s, d)).foreach(_.unpersist())

  private def tokenizedDocsView(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def build: DataFrame = docs(s, d).select($"doc_id", tokens($"text").as("toks"))
    if (sys.props.get("graft.cacheTables").contains("true")) {
      tokenizedDocsCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      tokenizedDocsCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  /** Under the suite-wide cache flag the (doc_id, p, h) window-position
    * table is persisted per (session, path): q148 consumes it twice
    * (occurrence count + join back), q149/q151 re-derive their parents
    * and q150 splits it into train/eval halves — sharing saves four
    * full re-hashings of every corpus window. Doc-level predicates
    * (q150's % 19 split) commute with the per-row derivation, so
    * filtering the shared view is exactly filtering the docs first. */
  private val windowPosCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), DataFrame]

  private def windowPositionsView(s: SparkSession, d: String, w: Int = 8): DataFrame =
    if (sys.props.get("graft.cacheTables").contains("true")) {
      windowPosCache.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
      windowPosCache.getOrElseUpdate((s, d, w),
        windowPositionsFromToks(tokenizedDocsView(s, d), w).persist())
    } else windowPositions(docs(s, d), w)

  /** Gaps-and-islands merge of duplicated window positions (doc_id, p)
    * into maximal token intervals: length-w covers [p+1, p+w] merge when
    * they overlap or touch (new island iff p − lag(p) > w). Shared by
    * q148 (corpus-wide duplicates, w = 8), q150 (eval-set hits) and
    * q152 (w = 16). */
  private[graft] def mergeWindowCovers(dupPos: DataFrame, width: Int = 8): DataFrame = {
    val s = dupPos.sparkSession
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy($"doc_id").orderBy($"p")
    dupPos
      .withColumn("brk", when($"p" - lag($"p", 1).over(w) > width, 1).otherwise(0))
      .withColumn("gid", sum($"brk").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .groupBy($"doc_id", $"gid")
      .agg(
        (min($"p") + 1).cast("long").as("span_start"),
        (max($"p") + width).cast("long").as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_tokens"))
  }

  /** The whole ExactSubstr pipeline at a given min-match width —
    * q148's plan shape verbatim (one count shuffle on span hash,
    * join-back, doc-keyed island merge), widths sharing nothing but
    * code (different window sets, different hash tables). */
  private def exactSubstrSpans(pos: DataFrame, w: Int): DataFrame = {
    val s = pos.sparkSession
    import s.implicits._
    val dup = pos.groupBy($"h").agg(count(lit(1)).as("occ")).where($"occ" >= 2)
    mergeWindowCovers(pos.join(dup, "h").select($"doc_id", $"p"), w)
  }

  def q148ExactSubstrSpans(s: SparkSession, d: String): DataFrame =
    exactSubstrSpans(windowPositionsView(s, d), 8)

  /** q152 — q148's detector with the min-match length raised to 16
    * tokens: the Lee et al. tunable that trades recall (short leaks
    * pass) for precision (only substantial verbatim runs are cut) —
    * the setting a curation team A/Bs before committing to a cut
    * budget. Same linear plan as q148; only runs ≥ 16 tokens survive,
    * so every q152 span is contained in a q148 span (TextDedupSpec
    * pins the containment). */
  def q152ExactSubstrSpans16(s: SparkSession, d: String): DataFrame =
    exactSubstrSpans(windowPositionsView(s, d, 16), 16)

  /** The ExactSubstr oracle text at min-match width w (q148Sql = w 8,
    * q152Sql = w 16) — one generator so a width can't drift from its
    * Spark plan's geometry (window count len−w+1, island break > w,
    * span end p+w−1). */
  private def exactSubstrSql(w: Int): String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents),
      |hl AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - ${w - 1}),
      |         i -> md5(array_to_string(list_slice(toks, i, i + ${w - 1}), ' '))) AS hs
      |       FROM t WHERE len(toks) >= $w),
      |p AS MATERIALIZED (SELECT doc_id, g.i AS p, hs[g.i] AS h
      |      FROM hl, LATERAL (SELECT unnest(generate_series(1, len(hs))) AS i) g),
      |d AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
      |dp AS (SELECT p.doc_id, p.p FROM p JOIN d USING (h)),
      |b AS (SELECT doc_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $w
      |             THEN 1 ELSE 0 END AS brk
      |      FROM dp),
      |g AS (SELECT doc_id, p,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM b)
      |SELECT doc_id,
      |       CAST(min(p) AS BIGINT) AS span_start,
      |       CAST(max(p) + ${w - 1} AS BIGINT) AS span_end,
      |       CAST(max(p) + $w - min(p) AS BIGINT) AS span_tokens
      |FROM g GROUP BY doc_id, gid""".stripMargin

  val q148Sql: String = exactSubstrSql(8)
  val q152Sql: String = exactSubstrSql(16)

  /** q149 — per-SOURCE savings of ExactSubstr dedup: for each source,
    * how many tokens q148 would cut and what fraction of the source's
    * token mass that is — the budgeting report a curation team reads
    * before enabling span-level dedup (complement of q119, which prices
    * whole-doc near-dup removal). Merged intervals within a doc are
    * disjoint by construction, so removable tokens = Σ span_tokens with
    * no double count. Docs with no duplicated span still contribute
    * their token mass to the denominator via the separate per-source
    * total (a broadcast-sized 1-row-per-source aggregate). */
  def q149ExactSubstrSavings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val totals = docs(s, d)
      .select($"source", size(tokens($"text")).cast("long").as("n_toks"))
      .groupBy($"source")
      .agg(sum($"n_toks").as("total_tokens"))
    val spans = q148ExactSubstrSpans(s, d)
      .join(docs(s, d).select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(
        countDistinct($"doc_id").as("docs_affected"),
        sum($"span_tokens").as("removable_tokens"))
    totals.join(spans, Seq("source"), "left")
      .select($"source",
        coalesce($"docs_affected", lit(0L)).as("docs_affected"),
        $"total_tokens",
        coalesce($"removable_tokens", lit(0L)).as("removable_tokens"),
        round(coalesce($"removable_tokens", lit(0L)) / $"total_tokens", 6)
          .as("removable_ratio"))
  }

  val q149Sql: String =
    raw"""WITH t AS (SELECT doc_id, source,
      |             string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |hl AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 7),
      |         i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS hs
      |       FROM t WHERE len(toks) >= 8),
      |p AS MATERIALIZED (SELECT doc_id, g.i AS p, hs[g.i] AS h
      |      FROM hl, LATERAL (SELECT unnest(generate_series(1, len(hs))) AS i) g),
      |d AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
      |dp AS (SELECT p.doc_id, p.p FROM p JOIN d USING (h)),
      |b AS (SELECT doc_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
      |             THEN 1 ELSE 0 END AS brk
      |      FROM dp),
      |g AS (SELECT doc_id, p,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM b),
      |sp AS (SELECT doc_id, max(p) + 8 - min(p) AS span_tokens
      |       FROM g GROUP BY doc_id, gid),
      |tot AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS total_tokens
      |        FROM t GROUP BY source),
      |sav AS (SELECT t.source,
      |          CAST(count(DISTINCT sp.doc_id) AS BIGINT) AS docs_affected,
      |          CAST(sum(sp.span_tokens) AS BIGINT) AS removable_tokens
      |        FROM sp JOIN t ON sp.doc_id = t.doc_id
      |        GROUP BY t.source)
      |SELECT tot.source,
      |       coalesce(sav.docs_affected, 0) AS docs_affected,
      |       tot.total_tokens,
      |       coalesce(sav.removable_tokens, 0) AS removable_tokens,
      |       round(coalesce(sav.removable_tokens, 0) / tot.total_tokens, 6)
      |         AS removable_ratio
      |FROM tot LEFT JOIN sav USING (source)""".stripMargin

  /** q150 — eval-set SPAN scrubbing: the exact token intervals of each
    * TRAINING doc that verbatim-overlap the held-out eval suite (docs
    * with doc_id % 19 = 0, q98's convention) by at least one full
    * 8-token window — the surgical decontamination cut ("remove the
    * leaked benchmark passage, keep the doc") that The Pile / FineWeb
    * style pipelines apply, where q98 flags whole documents
    * (probabilistically, via the bloom) and q67 counts distinct shared
    * n-grams without locating them. Train-side window positions
    * semi-join the DISTINCT eval window hashes, then the q148
    * gaps-and-islands merge produces maximal removal intervals.
    *
    * 100 TB shape: the eval side is one distinct-aggregate bounded by
    * the eval suite's window count; NO broadcast hint — a real
    * benchmark suite broadcasts via AQE, but this fixture's "eval set"
    * is 1/19 of the corpus (corpus-scale, the misconfiguration
    * q98's loud cap exists for), and unhinted both sides hash-partition
    * on the window hash — still one linear pass, never a pair
    * expansion. Only HIT positions (≈ the contamination mass, tiny for
    * a healthy corpus) reach the doc-keyed island window. */
  def q150EvalSpanScrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = windowPositionsView(s, d)
    val pos = all.where($"doc_id" % 19 =!= 0)
    val evalW = all.where($"doc_id" % 19 === 0).select($"h").distinct()
    mergeWindowCovers(
      pos.join(evalW, Seq("h"), "left_semi").select($"doc_id", $"p"))
  }

  val q150Sql: String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents),
      |hl AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 7),
      |         i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS hs
      |       FROM t WHERE len(toks) >= 8),
      |p AS (SELECT doc_id, g.i AS p, hs[g.i] AS h
      |      FROM hl, LATERAL (SELECT unnest(generate_series(1, len(hs))) AS i) g),
      |ev AS (SELECT DISTINCT h FROM p WHERE doc_id % 19 = 0),
      |dp AS (SELECT p.doc_id, p.p FROM p JOIN ev USING (h)
      |       WHERE p.doc_id % 19 <> 0),
      |b AS (SELECT doc_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
      |             THEN 1 ELSE 0 END AS brk
      |      FROM dp),
      |g AS (SELECT doc_id, p,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM b)
      |SELECT doc_id,
      |       CAST(min(p) AS BIGINT) AS span_start,
      |       CAST(max(p) + 7 AS BIGINT) AS span_end,
      |       CAST(max(p) + 8 - min(p) AS BIGINT) AS span_tokens
      |FROM g GROUP BY doc_id, gid""".stripMargin

  /** q151 — APPLY the q150 cuts: the scrubbed corpus itself. Every
    * training doc comes back with its contaminated intervals removed —
    * kept-token count and an md5 of the whitespace-rejoined clean text,
    * so the gate hashes the actual output corpus, not just the span
    * report (the last step a user runs: q150 tells you WHERE the leaks
    * are, q151 hands you the text with them gone). Docs with no cuts
    * (including sub-8-token docs, which have no windows) pass through
    * whole, with their whitespace normalized by the same
    * tokenize-rejoin both engines apply.
    *
    * 100 TB shape: q150's span table is contamination-mass-sized; its
    * per-doc cut lists group in one combiner shuffle and LEFT-join back
    * onto the corpus on doc_id (AQE broadcasts the cut list when
    * contamination is sparse — the healthy case); the cut itself is a
    * per-row higher-order filter (token index ∉ any cut interval),
    * codegen-friendly and linear in corpus tokens, with per-token cost
    * bounded by the doc's OWN cut count (typically 0 or 1). */
  def q151ScrubApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cuts = q150EvalSpanScrub(s, d)
      .groupBy($"doc_id")
      .agg(
        collect_list(struct($"span_start".as("a"), $"span_end".as("b"))).as("cuts"),
        count(lit(1)).as("n_cuts"))
    docs(s, d).where($"doc_id" % 19 =!= 0)
      .select($"doc_id", tokens($"text").as("toks"))
      .join(cuts, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_cuts", lit(0L)).as("n_cuts"),
        expr("filter(toks, (t, i) -> NOT coalesce(" +
          "exists(cuts, c -> i + 1 >= c.a AND i + 1 <= c.b), false))").as("kept"))
      .select($"doc_id", $"n_cuts",
        size($"kept").cast("long").as("kept_tokens"),
        md5(concat_ws(" ", $"kept")).as("clean_md5"))
  }

  val q151Sql: String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents),
      |hl AS (SELECT doc_id, list_transform(generate_series(1, len(toks) - 7),
      |         i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))) AS hs
      |       FROM t WHERE len(toks) >= 8),
      |p AS (SELECT doc_id, g.i AS p, hs[g.i] AS h
      |      FROM hl, LATERAL (SELECT unnest(generate_series(1, len(hs))) AS i) g),
      |ev AS (SELECT DISTINCT h FROM p WHERE doc_id % 19 = 0),
      |dp AS (SELECT p.doc_id, p.p FROM p JOIN ev USING (h)
      |       WHERE p.doc_id % 19 <> 0),
      |b AS (SELECT doc_id, p,
      |        CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
      |             THEN 1 ELSE 0 END AS brk
      |      FROM dp),
      |g AS (SELECT doc_id, p,
      |        sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS gid FROM b),
      |q AS (SELECT doc_id, CAST(min(p) AS BIGINT) AS a, CAST(max(p) + 7 AS BIGINT) AS b
      |      FROM g GROUP BY doc_id, gid),
      |cl AS (SELECT doc_id, list(struct_pack(a := a, b := b)) AS cuts,
      |              CAST(count(*) AS BIGINT) AS n_cuts
      |       FROM q GROUP BY doc_id),
      |j AS (SELECT t.doc_id, t.toks, cl.cuts, coalesce(cl.n_cuts, 0) AS n_cuts
      |      FROM t LEFT JOIN cl USING (doc_id) WHERE t.doc_id % 19 <> 0),
      |k AS (SELECT doc_id, n_cuts,
      |        list_filter(list_transform(generate_series(1, len(toks)),
      |          i -> CASE WHEN cuts IS NOT NULL AND
      |                 len(list_filter(cuts, c -> i >= c.a AND i <= c.b)) > 0
      |               THEN NULL ELSE toks[i] END), x -> x IS NOT NULL) AS kept
      |      FROM j)
      |SELECT doc_id, CAST(n_cuts AS BIGINT) AS n_cuts,
      |       CAST(len(kept) AS BIGINT) AS kept_tokens,
      |       md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
      |FROM k""".stripMargin

  val q31Sql: String =
    s"""WITH $shingleCte,
      |h AS (SELECT DISTINCT doc_id, substring(md5(shingle), 1, 16) AS sh16 FROM sh),
      |capped AS (SELECT doc_id, sh16 FROM (
      |    SELECT doc_id, sh16, count(*) OVER (PARTITION BY sh16) AS df FROM h)
      |  WHERE df <= 30),
      |sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
      |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |           FROM capped a JOIN capped b ON a.sh16 = b.sh16 AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared,
      |       n_shared / (sa.n + sb.n - n_shared) AS jaccard
      |FROM shared
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_shared / (sa.n + sb.n - n_shared) >= 0.10""".stripMargin

  /** q95 — MinHash CALIBRATION: for every q30 candidate pair, the
    * estimated Jaccard (fraction of the 8 signature slices that agree)
    * next to the EXACT distinct-shingle Jaccard, bucketed by exact-decile
    * with the mean absolute estimation error per bucket. This is the
    * "measure, don't guess" audit of the near-dup sketch: it tells a
    * pipeline operator how much the 8-slice signature under/over-counts
    * at each similarity level, i.e. what a q30/q54 threshold actually
    * means in true-Jaccard terms.
    *
    * 100 TB shape: everything is candidate-bounded. The exact-Jaccard
    * side never goes all-pairs — the candidate list (duplicate-sized,
    * tiny next to the corpus) broadcasts into two joins against the
    * distinct (doc, shingle-hash) view, so intersection work is
    * O(candidates · shingles-per-doc); sizes and signatures are one
    * combiner-friendly aggregation each. Internal keys use xxhash64 (the
    * output carries no hash values; the oracle's md5-prefix keys build
    * the same sets — both collision-free at these cardinalities). */
  /** The distinct (doc_id, shingle-md5) view q95 consumes three times
    * (signatures+sizes aggregate, two intersection joins); persisted per
    * (session, path) under the shared-view flag like the q30/q31 views. */
  private val distinctShingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def distinctShingleMd5(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = {
      import s.implicits._
      rawShingles(s, d).select($"doc_id", md5($"shingle").as("h")).distinct()
    }
    if (sys.props.get("graft.cacheTables").contains("true")) {
      distinctShingleCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      distinctShingleCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  def q95MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cand = candidatePairs(s, d)
    // ONE distinct (doc, shingle-md5) view feeds signatures, set sizes
    // AND intersections — min is dedup-invariant, so distinct-first
    // leaves the q30 signature unchanged, and signature + size collapse
    // into a single aggregate. The distinct's exchange is the only
    // corpus-wide shuffle; its three consumers reuse it.
    val shd = distinctShingleMd5(s, d)
    val aggCols = (0 until 8).map(i => min(substring($"h", 1 + 4 * i, 4)).as(s"h$i")) :+
      count(lit(1)).as("n")
    val stats = shd.groupBy($"doc_id").agg(aggCols.head, aggCols.tail: _*)
    val statsA = stats.toDF(stats.columns.toIndexedSeq.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val statsB = stats.toDF(stats.columns.toIndexedSeq.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val inter = cand
      .join(shd.toDF("doc_a", "h"), "doc_a")
      .join(shd.toDF("doc_b", "h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_shared", coalesce($"n_shared", lit(0L)))
      .join(statsA, "doc_a").join(statsB, "doc_b")
      .withColumn("est",
        (0 until 8).map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
          .reduce(_ + _) / lit(8.0))
      .withColumn("exact", $"n_shared" / ($"a_n" + $"b_n" - $"n_shared"))
      .groupBy((floor($"exact" * 10) / 10.0).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"exact"), 6).as("mean_exact"),
        round(avg($"est"), 6).as("mean_est"),
        round(avg(abs($"est" - $"exact")), 6).as("mae"))
  }

  val q95Sql: String =
    s"""WITH $shingleCte,
      |hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
      |sig AS (SELECT doc_id,
      |  min(substring(h, 1, 4)) h0, min(substring(h, 5, 4)) h1,
      |  min(substring(h, 9, 4)) h2, min(substring(h, 13, 4)) h3,
      |  min(substring(h, 17, 4)) h4, min(substring(h, 21, 4)) h5,
      |  min(substring(h, 25, 4)) h6, min(substring(h, 29, 4)) h7
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 || h1 AS bucket FROM sig
      |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
      |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
      |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |est AS (SELECT c.doc_a, c.doc_b,
      |  ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
      |   + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
      |   + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
      |   + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 AS est
      |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b),
      |hd AS (SELECT DISTINCT doc_id, substring(md5(shingle), 1, 16) AS sh16 FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM hd GROUP BY 1),
      |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      |          FROM cand c JOIN hd a ON a.doc_id = c.doc_a
      |                      JOIN hd b ON b.doc_id = c.doc_b AND b.sh16 = a.sh16
      |          GROUP BY 1, 2),
      |ex AS (SELECT e.doc_a, e.doc_b, e.est,
      |         COALESCE(i.n_shared, 0) / (sa.n + sb.n - COALESCE(i.n_shared, 0)) AS exact
      |       FROM est e LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      |       JOIN sizes sa ON sa.doc_id = e.doc_a JOIN sizes sb ON sb.doc_id = e.doc_b)
      |SELECT floor(exact * 10) / 10.0 AS bucket, count(*) AS n_pairs,
      |       round(avg(exact), 6) AS mean_exact, round(avg(est), 6) AS mean_est,
      |       round(avg(abs(est - exact)), 6) AS mae
      |FROM ex GROUP BY 1""".stripMargin

  /** SimHash: 16-bit signature; bit i is the sign of the sum over distinct
    * tokens of ±1 by the i-th md5 nibble's high bit. Returns one
    * (doc_id, simhash) sketch row per doc, computed by the codegen
    * expression inside the scan (near-dup docs collide on the value;
    * bucketing/grouping is the caller's downstream step). */
  def q32SimHash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.expressions.SimHash.register(s)
    // the codegen'd per-row sketch replaces the explode + 16-sum
    // aggregate: zero shuffle, one scan (TextDedupSpec pins equivalence
    // with [[simHashDeclarative]]; the DuckDB oracle is the declarative
    // form)
    docs(s, d).select($"doc_id",
      expr(s"simhash_native(${tokensSqlExpr("text")})").as("simhash"))
  }

  /** SQL-text form of [[tokens]] for use inside expr(...) — also the
    * stable tokenizer identity fixture signatures fold in, so a
    * tokenizer change invalidates on-disk df fixtures. */
  private[graft] def tokensSqlExpr(c: String): String = raw"split(trim($c), '\\s+')"

  /** The declarative explode + 16-sum form of q32 — the shape the DuckDB
    * oracle computes; kept as the equivalence baseline for the codegen
    * expression. */
  private[graft] def simHashDeclarative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, d)
      .select($"doc_id", explode(array_distinct(tokens($"text"))).as("tok"))
      .withColumn("h", md5($"tok"))
    val bitSums = (1 to 16).map { i =>
      sum(when(expr(s"instr('0123456789abcdef', substring(h, $i, 1)) - 1") >= 8, 1)
        .otherwise(-1)).as(s"s$i")
    }
    val bits = (1 to 16).map(i => when(col(s"s$i") >= 0, "1").otherwise("0"))
    toks.groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", concat(bits: _*).as("simhash"))
  }

  val q32Sql: String = {
    val sums = (1 to 16).map(i =>
      s"sum(CASE WHEN instr('0123456789abcdef', substring(h, $i, 1)) - 1 >= 8 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n  ")
    val bits = (1 to 16).map(i => s"CASE WHEN s$i >= 0 THEN '1' ELSE '0' END").mkString(" || ")
    raw"""WITH toks AS (SELECT DISTINCT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
      |              FROM documents),
      |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
      |sums AS (SELECT doc_id,
      |  $sums
      |  FROM hashed GROUP BY doc_id)
      |SELECT doc_id, $bits AS simhash FROM sums""".stripMargin
  }

  /** Rolling polynomial fingerprint: h = fold(chars, h*31 + ascii mod p)
    * — the classic content-defined rolling hash, as pure built-ins
    * (transform + aggregate). The fold seed 0 makes Spark's aggregate
    * and DuckDB's first-element-seeded list_reduce coincide exactly
    * (0*31 + c == c). */
  def q45RollingFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.expressions.RollingHash.register(s)
    // the codegen'd expression replaces the interpreted HOF fold
    // (identical values — RollingHashSpec pins the equivalence; empty
    // string folds to the 0 seed in both forms)
    docs(s, d).select($"doc_id",
      expr("rolling_hash_native(trim(text))").as("rolling_hash"))
  }

  val q45Sql: String =
    """SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE list_reduce([CAST(ascii(c) AS BIGINT) FOR c IN string_split(trim(text), '')],
      |                        (acc, x) -> (acc * 31 + x) % 1000000007)
      |  END AS rolling_hash
      |FROM documents""".stripMargin

  /** BPE-ish token counting (the brief's "whitespace + a BPE-ish regex"):
    * subword-style segmentation via an RE2-safe GPT-2-family pattern
    * (space-prefixed letter runs, digit runs, punctuation runs — no
    * lookahead, so Spark and DuckDB RE2 agree). Reports both counts and
    * the chars-per-token compression ratio. */
  def q47BpeTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    docs(s, d)
      .select($"doc_id", $"lang",
        size(tokens($"text")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit(pat), lit(0))).cast("long").as("n_bpe_tokens"),
        length($"text").cast("long").as("n_chars"))
      .withColumn("chars_per_bpe_token",
        round($"n_chars" / $"n_bpe_tokens", 6))
  }

  val q47Sql: String =
    """SELECT doc_id, lang,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  round(length(text) / len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')), 6) AS chars_per_bpe_token
      |FROM documents""".stripMargin

  /** Near-dup CONNECTED COMPONENTS over the q30 candidate-pair graph —
    * the step that turns pairwise candidates into dedup decisions (each
    * component keeps one representative; component_id IS the keeper:
    * the min doc_id, matching the reference's deterministic keeper rule,
    * main.py:96-105).
    *
    * Two solvers behind one contract, chosen by candidate-graph size —
    * the production CC pattern (GraphFrames et al. do the same):
    *
    *  - subcritical graph (edges ≤ [[LocalComponentsMaxEdges]], the LSH
    *    design's common case — candidates are a small fraction of the
    *    corpus): ONE single-task union-find pass over the edge list.
    *    No iteration, no barrier chain; components of a few-million-edge
    *    graph solve in memory in milliseconds.
    *  - beyond that: distributed min-label propagation with pointer
    *    jumping ([[componentLabelsIterative]]) — O(log diameter)
    *    rounds of joins, nothing ever collected.
    *
    * Both produce the identical fixpoint (label = min doc_id of the
    * component; TextDedupSpec pins solver equivalence). */
  def q54NearDupComponents(s: SparkSession, d: String): DataFrame = {
    val shared = sys.props.get("graft.cacheTables").contains("true")
    if (shared) {
      // dedup decisions are consumed by more than one downstream op
      // (q54 itself, q69 keeper selection): solve the graph once per
      // (session, corpus) and share the labeled table, the production
      // shape (the components table would be materialized, not re-solved
      // per consumer). Same lifecycle rule as candidateCache.
      componentsCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      componentsCache.getOrElseUpdate((s, d), buildNearDupComponents(s, d).persist())
    } else buildNearDupComponents(s, d)
  }

  private val componentsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def buildNearDupComponents(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val shared = sys.props.get("graft.cacheTables").contains("true")
    // when the shared candidate view is on, reuse it (and leave its
    // lifetime to the cache); otherwise persist privately for the two
    // passes (count + solve) and release before returning
    val edges = if (shared) candidatePairs(s, d) else q30MinHashLsh(s, d).persist()
    val labels =
      if (edges.count() <= LocalComponentsMaxEdges)
        // localCheckpoint: materialize the labels so unpersisting the
        // edge list below cannot trigger a recompute from the scan
        // (labels are tiny — at most 2 rows per edge)
        componentLabelsLocal(edges).localCheckpoint()
      else componentLabelsIterative(edges) // checkpoints + unpersists internally
    if (!shared) edges.unpersist()
    val all = docs(s, d).select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lbl", $"doc_id").as("lbl"))
    val sizes = all.groupBy($"lbl").agg(count(lit(1)).as("component_size"))
    all.join(sizes, "lbl")
      .select($"doc_id", $"lbl".as("component_id"), $"component_size")
  }

  /** Cutoff for the single-task union-find solver. Peak bytes/edge in
    * [[componentLabelsLocal]], all primitive arrays (no boxing): 16
    * (edge buffer: two longs) + 16 (node-id array: ≤ 2 longs/edge before
    * dedup) + 8 (parent: ≤ 2 ints/edge) ≈ 40 B/edge ⇒ ≤ ~1 GB at this
    * gate — a bounded, predictable slice of one executor's heap. Beyond
    * it the distributed solver takes over. */
  val LocalComponentsMaxEdges: Long = 25000000L

  /** Bounded solver-choice probe (VERDICT r14 #2, hardened per ADVICE
    * r15): true iff `edges` has at most `cap` rows, decided WITHOUT
    * materializing the whole graph AND without collecting rows to the
    * driver. limit(cap+1).count() plans LocalLimit(cap+1) inside every
    * partition under one GlobalLimit: the early-stop is PER-PARTITION
    * (each task emits at most cap+1 rows then stops), not global — all
    * partitions still launch, so a P-partition mega-graph pays up to
    * ~P·(cap+1) rows of scan, the accepted trade (ADVICE r16) for
    * shipping only the final count (one long) to the driver, vs the
    * earlier take(cap+1) which shipped up to 25M boxed Rows and could
    * blow spark.driver.maxResultSize. EntityOpsSpec proves the bounded
    * per-partition scan with a row-counting accumulator. */
  def isSubcritical(edges: DataFrame,
      cap: Long = LocalComponentsMaxEdges): Boolean =
    edges.select(lit(1)).limit(cap.toInt + 1).count() <= cap

  /** Union-find (path-halving + union-by-attachment-to-min) over the
    * whole edge list in one task: (node, min-of-component) labels for
    * every node with degree ≥ 1. All state is primitive arrays — edge
    * buffers, a sorted distinct node-id array (index = dense handle,
    * node→index by binary search), and an int parent array — so the
    * working set is the ~40 B/edge of [[LocalComponentsMaxEdges]]'s
    * math, not the 50–80 B/entry of a boxed HashMap. */
  def componentLabelsLocal(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    edges.select($"doc_a", $"doc_b").as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        var n = 0
        var ea = new Array[Long](1024)
        var eb = new Array[Long](1024)
        it.foreach { case (a, b) =>
          if (n == ea.length) {
            ea = java.util.Arrays.copyOf(ea, n << 1)
            eb = java.util.Arrays.copyOf(eb, n << 1)
          }
          ea(n) = a; eb(n) = b; n += 1
        }
        // sorted distinct node ids: index in `nodes` is the dense handle
        val nodes = new Array[Long](2 * n)
        System.arraycopy(ea, 0, nodes, 0, n)
        System.arraycopy(eb, 0, nodes, n, n)
        java.util.Arrays.sort(nodes)
        var m = 0
        var i = 0
        while (i < 2 * n) {
          if (m == 0 || nodes(m - 1) != nodes(i)) { nodes(m) = nodes(i); m += 1 }
          i += 1
        }
        val parent = Array.tabulate(m)(identity)
        def find(x0: Int): Int = {
          var r = x0
          while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
          r
        }
        def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, 0, m, v)
        i = 0
        while (i < n) {
          val ra = find(idx(ea(i)))
          val rb = find(idx(eb(i)))
          // `nodes` is sorted, so a smaller index IS a smaller doc_id:
          // attaching the larger root under the smaller keeps every
          // set's root at its minimum member — the label contract
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
          i += 1
        }
        (0 until m).iterator.map(k => (nodes(k), nodes(find(k))))
      }
      .toDF("doc_id", "lbl")
  }

  /** Distributed min-label propagation with pointer jumping — the
    * large-graph path. Iteration tables hold only the degree ≥ 1
    * subgraph (a singleton's label can never change); each round is a
    * lazy localCheckpoint (plan-tree truncation — the self-join would
    * otherwise double the plan every round) materialized by the
    * convergence-sum action, one job per round. */
  def componentLabelsIterative(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val sym = edges.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(edges.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .persist()
    var labels = sym.select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("lbl")).persist()
    val initial = labels // unpersisted once the loop is done with it
    var prevSum = -1L
    var currSum = labels.agg(sum($"lbl")).head().getLong(0)
    var rounds = 0
    while (currSum != prevSum && rounds < 25) {
      val nmin = sym.join(labels.withColumnRenamed("doc_id", "n"), $"src" === $"n")
        .groupBy($"dst").agg(min($"lbl").as("nlbl"))
      val propagated = labels.join(nmin, labels("doc_id") === nmin("dst"), "left")
        .select(labels("doc_id"),
          least(coalesce($"nlbl", labels("lbl")), labels("lbl")).as("lbl"))
      val parents = propagated.select($"doc_id".as("p"), $"lbl".as("plbl"))
      labels = propagated.as("x").join(parents, $"x.lbl" === $"p", "left")
        .select($"x.doc_id".as("doc_id"), coalesce($"plbl", $"x.lbl").as("lbl"))
        .localCheckpoint(eager = false)
      prevSum = currSum
      currSum = labels.agg(sum($"lbl")).head().getLong(0)
      rounds += 1
    }
    // the returned labels are a materialized localCheckpoint (the
    // convergence sum was their action), so the solver's inputs can be
    // released here rather than leaking for the session's lifetime
    sym.unpersist()
    if (labels ne initial) initial.unpersist()
    labels
  }

  /** Shared DuckDB CTE chain ending in `comp(doc_id, component_id)` —
    * the q30 candidate CTEs, then a recursive CTE enumerating (node,
    * reachable-label) pairs; UNION dedup bounds it at Σ|component|²
    * rows, tiny for near-dup clusters. Used by q54 and q69. */
  /** The q30 candidate set + symmetrized edge list as a reusable CTE
    * prefix (consumed by q54/q69's components and q100's PageRank). */
  private val candidateEdgeCtes: String =
    s"""$shingleCte,
      |hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
      |sig AS (SELECT doc_id,
      |  min(substring(h, 1, 4)) h0, min(substring(h, 5, 4)) h1,
      |  min(substring(h, 9, 4)) h2, min(substring(h, 13, 4)) h3,
      |  min(substring(h, 17, 4)) h4, min(substring(h, 21, 4)) h5,
      |  min(substring(h, 25, 4)) h6, min(substring(h, 29, 4)) h7
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 || h1 AS bucket FROM sig
      |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
      |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
      |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
      |          UNION ALL SELECT doc_b, doc_a FROM cand)""".stripMargin

  private val componentsCtes: String =
    s"""$candidateEdgeCtes,
      |reach(node, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node)""".stripMargin

  /** DuckDB twin of q54 (see [[componentsCtes]]). */
  val q54Sql: String =
    s"""WITH RECURSIVE $componentsCtes
      |SELECT doc_id, component_id,
      |       count(*) OVER (PARTITION BY component_id) AS component_size
      |FROM comp""".stripMargin

  /** Keeper selection — the dedup DECISION the component step exists
    * for: per near-dup component keep exactly one document, the longest
    * (token count; min doc_id on ties — explicit rank, not arg_max,
    * whose tie-break is engine-unspecified). Singletons keep themselves.
    * One window per component after a doc-keyed join; at 100 TB both
    * sides shuffle once on their natural keys. */
  def q69KeeperSelection(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"component_id").orderBy($"n_tokens".desc, $"doc_id")
    q54NearDupComponents(s, d)
      .join(docs(s, d).select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens")),
        "doc_id")
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"component_id", $"doc_id".as("keeper_id"),
        $"n_tokens".as("keeper_tokens"), $"component_size")
  }

  val q69Sql: String =
    raw"""WITH RECURSIVE $componentsCtes,
      |tokd AS (SELECT doc_id,
      |                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |         FROM documents),
      |ranked AS (SELECT c.component_id, c.doc_id, t.n_tokens,
      |                  row_number() OVER (PARTITION BY c.component_id
      |                    ORDER BY t.n_tokens DESC, c.doc_id) AS rn,
      |                  count(*) OVER (PARTITION BY c.component_id) AS component_size
      |           FROM comp c JOIN tokd t USING (doc_id))
      |SELECT component_id, doc_id AS keeper_id, n_tokens AS keeper_tokens,
      |       CAST(component_size AS BIGINT) AS component_size
      |FROM ranked WHERE rn = 1""".stripMargin

  /** q119 — dedup-SAVINGS report: the cluster-size distribution of the
    * near-dup components with, per size, how many tokens deduplication
    * would remove (every doc's tokens except the longest-doc keeper —
    * q69's keeper convention, computed as sum−max so length ties still
    * charge exactly one keeper). This is the number a capacity review
    * asks for BEFORE running dedup — "what does it buy us" — and the
    * histogram shape (many pairs vs a few giant clusters) decides
    * whether clustering thresholds need tightening. Rides q54's shared
    * component spine; past it the report is two aggregations whose
    * output is bounded by |distinct cluster sizes|. */
  def q119DedupSavings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perComp = q54NearDupComponents(s, d)
      .join(docs(s, d).select($"doc_id",
        size(tokens($"text")).cast("long").as("n_tokens")), "doc_id")
      .groupBy($"component_id")
      .agg(count(lit(1)).as("component_size"),
        sum($"n_tokens").as("total_tokens"),
        max($"n_tokens").as("keeper_tokens"))
    perComp.groupBy($"component_size")
      .agg(count(lit(1)).as("n_components"),
        sum($"component_size").as("n_docs"),
        sum($"total_tokens" - $"keeper_tokens").as("removable_tokens"))
  }

  val q119Sql: String =
    raw"""WITH RECURSIVE $componentsCtes,
      |tokd AS (SELECT doc_id,
      |                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |         FROM documents),
      |pc AS (SELECT c.component_id, CAST(count(*) AS BIGINT) AS component_size,
      |              CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
      |              CAST(max(t.n_tokens) AS BIGINT) AS keeper_tokens
      |       FROM comp c JOIN tokd t USING (doc_id) GROUP BY c.component_id)
      |SELECT component_size,
      |       CAST(count(*) AS BIGINT) AS n_components,
      |       CAST(sum(component_size) AS BIGINT) AS n_docs,
      |       CAST(sum(total_tokens - keeper_tokens) AS BIGINT) AS removable_tokens
      |FROM pc GROUP BY component_size""".stripMargin

  /** PageRank damping factor and fixed iteration count for q100. Fixed
    * iterations (not convergence-test) keep the result a deterministic
    * closed form both engines compute identically. */
  val PageRankDamping = 0.85
  val PageRankIters = 5

  /** PageRank over the near-dup candidate graph — the "centrality inside
    * a duplicate cluster" signal (which doc is the canonical hub of a
    * template family), and the engine's representative ITERATIVE graph
    * operator next to q54's components and q58's k-means. Semantics:
    * symmetrized q30 edges, uniform teleport, dangling mass (docs with
    * no near-dup edges — most of the corpus) redistributed uniformly
    * each step, 5 fixed iterations from a uniform start.
    *
    * The scale lever is the ACTIVE-SUBGRAPH reduction: in a symmetrized
    * graph the dangling nodes are exactly the edge-less ones, and every
    * edge-less node has the IDENTICAL rank at every iteration (it
    * receives only teleport + dangling shares). So the corpus-sized rank
    * vector never exists: the driver tracks the isolated-node rank and
    * the dangling mass as two scalar recurrences, and the DataFrame
    * iteration runs only over edge ENDPOINTS — the duplicate-cluster
    * subgraph, tiny next to a 100 TB corpus (the same
    * candidate-bounded contract as q54/q95). Each iteration is one
    * rank⋈edge join + a dst-keyed combine on that small set; the corpus
    * is touched exactly twice (N count; final left-join to emit the
    * closed-form isolated rank). Each iteration is a LAZY local
    * checkpoint, which truncates the plan one iteration deep; nothing is
    * unpersisted, so the edge list and all 5 checkpointed iterations
    * stay cached until the returned DataFrame is garbage-collected (or
    * the session ends). All are duplicate-graph-sized — bounded the
    * same way as the shared [[candidatePairs]] view. */
  def q100PageRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dmp = PageRankDamping
    val cand = candidatePairs(s, d)
    val edges = cand.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(cand.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .persist()
    val active = edges.groupBy($"src".as("doc_id")).agg(count(lit(1)).as("deg"))
    val nodes = docs(s, d).select($"doc_id")
    val n = nodes.count().toDouble
    val nIso = n - active.count().toDouble
    var rIso = 1.0 / n
    var ranks = active.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to PageRankIters) {
      val dm = nIso * rIso
      val contrib = ranks.join(edges, $"doc_id" === $"src")
        .groupBy($"dst".as("doc_id")).agg(sum($"rank" / $"deg").as("contrib"))
      // localCheckpoint, not persist (VERDICT r20 #5 / guide §5): persist
      // keeps the full logical lineage, so 5 unrolled iterations nested
      // into an ~11k-line executed plan whose PLANNING cost is its own
      // tax; the checkpoint truncates the SQL plan at CONSTRUCTION (the
      // returned frame is a LogicalRDD), so the plan the final action
      // optimizes is one iteration deep, and the materialized table is
      // active-subgraph-sized (edge endpoints only), the same bound the
      // old persist had. eager = false matters here: an eager checkpoint
      // ran 5 separate jobs per CALL and regressed the bench 1.8x — the
      // lazy form keeps ONE job at action time (the iteration chain
      // lives in the RDD lineage, each marked RDD persisted as the job
      // computes through it).
      ranks = active
        .join(contrib, Seq("doc_id"), "left")
        .select($"doc_id", $"deg",
          (lit((1 - dmp) / n) + lit(dmp) *
            (coalesce($"contrib", lit(0.0)) + lit(dm / n))).as("rank"))
        .localCheckpoint(eager = false)
      rIso = (1 - dmp) / n + dmp * dm / n
    }
    val out = nodes.join(ranks.select($"doc_id", $"rank"), Seq("doc_id"), "left")
      .select($"doc_id",
        round(coalesce($"rank", lit(rIso)) * n, 6).as("rank_x_n"))
    out
  }

  /** DuckDB twin of q100: the same 5 iterations unrolled as chained CTEs
    * over the shared candidate/edge prefix. Every iteration CTE is
    * AS MATERIALIZED: each r_i is referenced twice by r_{i+1} (contrib
    * join + dangling sum), so an inlining planner would otherwise double
    * the whole upstream pipeline per level — 2^5 copies of the band
    * self-join. */
  val q100Sql: String = {
    val d = PageRankDamping
    val iter = (i: Int) => {
      val p = s"r${i - 1}"
      s"""r$i AS MATERIALIZED (SELECT dd.doc_id,
        |  (1 - $d)/n.n + $d*(COALESCE(c.contrib, 0) + dang.dm/n.n) AS rank
        |  FROM documents dd
        |  LEFT JOIN (SELECT e.dst AS doc_id, sum(r.rank/deg.deg) AS contrib
        |             FROM $p r JOIN deg ON r.doc_id = deg.src
        |                       JOIN edges e ON e.src = r.doc_id
        |             GROUP BY 1) c USING (doc_id)
        |  CROSS JOIN (SELECT COALESCE(sum(r.rank), 0) AS dm
        |              FROM $p r LEFT JOIN deg ON r.doc_id = deg.src
        |              WHERE deg.src IS NULL) dang
        |  CROSS JOIN n)""".stripMargin
    }
    s"""WITH $candidateEdgeCtes,
      |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |                     FROM edges GROUP BY 1),
      |n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |r0 AS MATERIALIZED (SELECT doc_id, 1.0/n.n AS rank
      |                    FROM documents CROSS JOIN n),
      |${(1 to PageRankIters).map(iter).mkString(",\n")}
      |SELECT r.doc_id, round(r.rank * n.n, 6) AS rank_x_n
      |FROM r$PageRankIters r CROSS JOIN n""".stripMargin
  }

  /** Triangle counting + local clustering coefficient over the near-dup
    * candidate graph — the third graph operator (q54 components answer
    * "which docs form one template family", q100 PageRank "which doc is
    * the family's hub", q103 "how CLIQUE-LIKE is each neighborhood":
    * boilerplate families triangulate densely, chain-shaped drift
    * families don't). Classic ordered-wedge join: candidate pairs are
    * already oriented doc_a < doc_b, so wedges (a<b<c) join once and
    * close against the pair set once — no triangle is generated twice
    * and work is bounded by Σ deg² of the CANDIDATE graph (never the
    * corpus). Per node: degree, triangle count, and lcc =
    * 2T / (deg·(deg−1)) for deg ≥ 2. Output covers graph nodes only
    * (the corpus-minus-graph remainder is all zeros by definition). */
  def q103Triangles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cand = candidatePairs(s, d)
    val deg = cand.select($"doc_a".as("node"))
      .union(cand.select($"doc_b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val ab = cand.select($"doc_a".as("a"), $"doc_b".as("b"))
    val bc = cand.select($"doc_a".as("b"), $"doc_b".as("c"))
    val ac = cand.select($"doc_a".as("a"), $"doc_b".as("c"))
    val tri = ab.join(bc, "b").join(ac, Seq("a", "c"))
    val triPerNode = tri.select($"a".as("node"))
      .union(tri.select($"b".as("node")))
      .union(tri.select($"c".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select($"node".as("doc_id"), $"deg",
        coalesce($"n_tri", lit(0L)).as("n_tri"))
      .withColumn("lcc",
        when($"deg" >= 2, round($"n_tri" * 2.0 / ($"deg" * ($"deg" - 1)), 6))
          .otherwise(lit(0.0)))
  }

  val q103Sql: String =
    s"""WITH $candidateEdgeCtes,
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |          SELECT doc_a AS node FROM cand
      |          UNION ALL SELECT doc_b FROM cand) GROUP BY 1),
      |tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
      |        FROM cand ab
      |        JOIN cand bc ON ab.doc_b = bc.doc_a
      |        JOIN cand ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
      |tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |          SELECT a AS node FROM tri
      |          UNION ALL SELECT b FROM tri
      |          UNION ALL SELECT c FROM tri) GROUP BY 1)
      |SELECT deg.node AS doc_id, deg.deg,
      |       COALESCE(tpn.n_tri, 0) AS n_tri,
      |       CASE WHEN deg.deg >= 2
      |            THEN round(COALESCE(tpn.n_tri, 0) * 2.0 / (deg.deg * (deg.deg - 1)), 6)
      |            ELSE 0.0 END AS lcc
      |FROM deg LEFT JOIN tpn USING (node)""".stripMargin

  /** Deterministic train/val/test split by content-independent hash
    * bucket (80/10/10): bucket = first 16 bits of md5(doc_id). The split
    * is a pure function of the key — stable across runs, machines, and
    * engine versions, which is the property a training pipeline needs
    * (no rand(), no sampling drift on re-runs). Embarrassingly parallel;
    * no shuffle at all. */
  def q55HashSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", $"lang",
        conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("long").as("bucket"))
      .withColumn("split",
        when($"bucket" < 52429, "train")     // 0.8 * 65536
          .when($"bucket" < 58982, "val")    // 0.9 * 65536
          .otherwise("test"))
  }

  val q55Sql: String =
    """SELECT doc_id, lang,
      |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS bucket,
      |  CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 52429 THEN 'train'
      |       WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 58982 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** q55's split as a pure per-row function of the key — computed
    * INLINE on whatever rows need it (q199 stamps it onto pair rows,
    * q200 onto stored index rows), so no query ever joins the corpus
    * just to learn a split. */
  private[graft] def splitOf(c: Column): Column = {
    val b = conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long")
    when(b < 52429, "train").when(b < 58982, "val").otherwise("test")
  }

  /** q199 — SPLIT-LEAKAGE audit: eval (val/test) documents that have a
    * near-duplicate in the TRAIN split — the contamination a
    * hash-by-key split (q55) cannot prevent, because near-dup PAIRS
    * straddle any key-hash boundary: evaluating on a lightly-edited
    * copy of a training document measures memorization, not
    * generalization. The standard fix is component-aware splitting
    * (assign whole q54 clusters to one side); this query is the audit
    * that says whether — and where — the cheap split needs it. Per
    * leaked eval doc: its split and how many distinct train partners
    * leak into it.
    *
    * 100 TB shape: rides the shared candidate-pair spine (bounded, the
    * q30 contract); both splits are stamped onto the pair rows as
    * per-row hash math — the corpus is never joined, never re-read.
    * Output is bounded by the leaked subset of candidate pairs. */
  def q199SplitLeakage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = candidatePairs(s, d)
      .withColumn("split_a", splitOf($"doc_a"))
      .withColumn("split_b", splitOf($"doc_b"))
    pairs.where($"split_a" =!= "train" && $"split_b" === "train")
      .select($"doc_a".as("doc_id"), $"split_a".as("split"),
        $"doc_b".as("train_doc"))
      .union(pairs.where($"split_b" =!= "train" && $"split_a" === "train")
        .select($"doc_b".as("doc_id"), $"split_b".as("split"),
          $"doc_a".as("train_doc")))
      .groupBy($"doc_id", $"split")
      .agg(countDistinct($"train_doc").as("n_train_dups"))
  }

  /** Oracle twin of [[q199SplitLeakage]]: the shared candidate CTEs,
    * splits recomputed inline from the same md5 prefix. */
  val q199Sql: String =
    s"""WITH $candidateEdgeCtes,
      |sp AS (SELECT c.doc_a, c.doc_b,
      |  CASE WHEN CAST(('0x' || substring(md5(CAST(c.doc_a AS VARCHAR)), 1, 4)) AS BIGINT) < 52429 THEN 'train'
      |       WHEN CAST(('0x' || substring(md5(CAST(c.doc_a AS VARCHAR)), 1, 4)) AS BIGINT) < 58982 THEN 'val'
      |       ELSE 'test' END AS split_a,
      |  CASE WHEN CAST(('0x' || substring(md5(CAST(c.doc_b AS VARCHAR)), 1, 4)) AS BIGINT) < 52429 THEN 'train'
      |       WHEN CAST(('0x' || substring(md5(CAST(c.doc_b AS VARCHAR)), 1, 4)) AS BIGINT) < 58982 THEN 'val'
      |       ELSE 'test' END AS split_b
      |  FROM cand c),
      |pe AS (SELECT doc_a AS doc_id, split_a AS split, doc_b AS train_doc
      |       FROM sp WHERE split_a <> 'train' AND split_b = 'train'
      |       UNION ALL
      |       SELECT doc_b, split_b, doc_a
      |       FROM sp WHERE split_b <> 'train' AND split_a = 'train')
      |SELECT doc_id, split, CAST(count(DISTINCT train_doc) AS BIGINT) AS n_train_dups
      |FROM pe GROUP BY doc_id, split""".stripMargin

  /** Within-document repetition score — the boilerplate/spam quality
    * signal: fraction of repeated 3-gram shingles inside each doc
    * (1 - distinct/total). Pure per-row array math, no explode and no
    * shuffle. */
  def q56Repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id", expr(shinglesExpr).as("shs"))
      .select($"doc_id",
        size($"shs").cast("long").as("n_shingles"),
        size(array_distinct($"shs")).cast("long").as("n_distinct"))
      .withColumn("repetition_ratio",
        when($"n_shingles" === 0, 0.0)
          .otherwise(round(lit(1.0) - $"n_distinct" / $"n_shingles", 6)))
  }

  val q56Sql: String =
    """WITH shs AS (SELECT doc_id,
      |  CASE WHEN len(toks) < 3 THEN []
      |       ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks) - 2)] END AS l
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents))
      |SELECT doc_id,
      |  CAST(len(l) AS BIGINT) AS n_shingles,
      |  CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
      |  CASE WHEN len(l) = 0 THEN 0.0
      |       ELSE round(1.0 - len(list_distinct(l)) / len(l), 6) END AS repetition_ratio
      |FROM shs""".stripMargin

  /** Per-language vocabulary heads: top-5 tokens by frequency — the
    * corpus-analysis pass behind tokenizer/vocab decisions. Runs through
    * the custom [[graft.plans.TopKPerGroup]] operator (map-side bounded
    * heaps), composed here with an upstream aggregation: partial counts
    * combine map-side, then the per-group heap caps what the ranking
    * shuffle moves. Oracle is the equivalent window form. */
  def q57TopTokensPerLang(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = tokenTable(s, d)
      .select($"lang", $"token".as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("n"))
    graft.plans.TopK.perGroup(counts, Seq("lang"),
        Seq(("n", false), ("tok", true)), 5)
      .select($"lang", $"tok", $"n", $"rn".cast("long").as("rn"))
  }

  val q57Sql: String =
    """WITH c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
      |           FROM (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |                 FROM documents)
      |           GROUP BY 1, 2),
      |r AS (SELECT lang, tok, n,
      |             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
      |      FROM c)
      |SELECT lang, tok, n, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 5""".stripMargin

  /** Doc-level TF-IDF: top-3 most DISTINCTIVE tokens per document
    * (tf · ln(n_docs / doc-frequency)) — the keyword-extraction
    * complement of q57's raw frequency ranking. Shape at scale: one
    * shuffle builds the (doc, token) term frequencies; the
    * token-keyed document-frequency table derived from it is
    * VOCABULARY-sized, so it broadcasts and the join back is
    * shuffle-free; the final top-3 window repartitions only the tf
    * rows by doc. Ranking compares the ROUNDED score in both engines
    * so float formatting can't reorder ties; token asc breaks exact
    * ties deterministically. */
  /** The exploded (doc_id, lang, token) table as an opt-in shared
    * persisted view (same `graft.cacheTables` flag and lifecycle as the
    * base-table and candidate-pair caches): q57, q72 and q77 all start
    * from this explode, so suite runs pay for it once. Off by default —
    * Verify measures each query's real scan cost. */
  private val tokenTableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def tokenTable(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = {
      import s.implicits._
      val base = docs(s, d)
      // minimal fixtures carry only (doc_id, text); null-fill lang so
      // every consumer sees one schema
      val withLang = if (base.columns.contains("lang")) base
        else base.withColumn("lang", lit(null).cast("string"))
      // repartition by doc_id BEFORE the explode (docs shuffle, tokens
      // don't): the cached view then carries HashPartitioning(doc_id),
      // which satisfies every per-doc clustering downstream — q72's
      // (doc_id, token) tf aggregate, its doc_id top-k, q77's per-doc
      // surprisal sum — so none of them re-exchange the token matrix.
      // The bucketed-table analog, paid once at view build.
      withLang.repartition($"doc_id")
        .select($"doc_id", $"lang", explode(tokens($"text")).as("token"))
    }
    if (sys.props.get("graft.cacheTables").contains("true")) {
      tokenTableCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      tokenTableCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  def q72TfIdf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = tokenTable(s, d)
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    // one row per (doc, token) already, so df = plain count per token
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df_docs"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    // the df table is VOCABULARY-sized — unbounded on a web corpus
    // (URLs/hashes/numbers push distinct tokens into the billions), so
    // the join strategy is deliberately LEFT TO AQE: at any sane SF the
    // runtime size is tiny and AQE broadcasts it (PlanSpec pins this);
    // past the broadcast threshold Spark falls back to a shuffled join
    // instead of OOMing the driver, which a forced broadcast() forbids.
    // Only the 1-row count scalar is hinted — bounded by construction.
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round($"tf" * log($"n_docs" / $"df_docs"), 6))
    // top-3 via the TopKPerGroup plan (map-side bounded heaps) — no
    // sort-based window over the full (doc, token) matrix
    graft.plans.TopK.perGroup(scored, Seq("doc_id"),
        Seq(("tfidf", false), ("token", true)), 3, rankName = "rnk")
      .select($"doc_id", $"token", $"tf", $"tfidf", $"rnk".cast("long").as("rnk"))
  }

  val q72Sql: String =
    raw"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |             FROM documents),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |         round(tf.tf * ln(n.n_docs / df.df_docs), 6) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, token, tf, tfidf,
      |       CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                 ORDER BY tfidf DESC, token) AS rnk
      |      FROM scored)
      |WHERE rnk <= 3""".stripMargin

  /** Source-similarity matrix: pairwise estimated Jaccard between the
    * shingle sets of every pair of SOURCES, from one 8-slice MinHash
    * signature per source (q30's construction lifted from doc level to
    * source level — the "how much does crawl A overlap crawl B" question
    * a corpus mix is designed around). Cost at 100 TB: one corpus scan
    * with map-side combined min() into a sources-sized table, then a
    * broadcast self-join over |sources|² pairs — the corpus itself never
    * joins. min() is dedup-invariant, so the raw shingle multiset feeds
    * it directly. */
  def q75SourceSimilarity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = docs(s, d)
      .select($"source", tokens($"text").as("toks"))
      .select($"source", explode(expr(shinglesExpr)).as("shingle"))
      .select($"source", md5($"shingle").as("h"))
    val mins = (0 until 8).map(i => min(substring($"h", 1 + 4 * i, 4)).as(s"h$i"))
    val sig = sh.groupBy($"source").agg(mins.head, mins.tail: _*)
    // same `sig` subtree on both sides (aliases only at the join) so the
    // signature build's exchange is REUSED — one corpus scan, not two
    sig.as("a").join(broadcast(sig.as("b")), $"a.source" < $"b.source")
      .withColumn("sig_matches",
        (0 until 8).map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
          .reduce(_ + _))
      .select($"a.source".as("source_a"), $"b.source".as("source_b"), $"sig_matches",
        round($"sig_matches" / 8.0, 6).as("est_jaccard"))
  }

  val q75Sql: String =
    raw"""WITH shs AS (SELECT source,
      |  unnest(CASE WHEN len(toks) < 3 THEN []
      |              ELSE [array_to_string(toks[i:i+2], ' ')
      |                    FOR i IN generate_series(1, len(toks) - 2)] END) AS shingle
      |  FROM (SELECT source, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
      |h AS (SELECT source, md5(shingle) AS h FROM shs),
      |sig AS (SELECT source,
      |  min(substring(h, 1, 4)) h0, min(substring(h, 5, 4)) h1,
      |  min(substring(h, 9, 4)) h2, min(substring(h, 13, 4)) h3,
      |  min(substring(h, 17, 4)) h4, min(substring(h, 21, 4)) h5,
      |  min(substring(h, 25, 4)) h6, min(substring(h, 29, 4)) h7
      |  FROM h GROUP BY source)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST((a.h0 = b.h0)::INT + (a.h1 = b.h1)::INT + (a.h2 = b.h2)::INT
      |     + (a.h3 = b.h3)::INT + (a.h4 = b.h4)::INT + (a.h5 = b.h5)::INT
      |     + (a.h6 = b.h6)::INT + (a.h7 = b.h7)::INT AS BIGINT) AS sig_matches,
      |  round(((a.h0 = b.h0)::INT + (a.h1 = b.h1)::INT + (a.h2 = b.h2)::INT
      |       + (a.h3 = b.h3)::INT + (a.h4 = b.h4)::INT + (a.h5 = b.h5)::INT
      |       + (a.h6 = b.h6)::INT + (a.h7 = b.h7)::INT) / 8.0, 6) AS est_jaccard
      |FROM sig a JOIN sig b ON a.source < b.source""".stripMargin

  /** Unigram surprisal — the language-model-proxy quality score (the
    * KenLM-perplexity stand-in that needs no model artifact): per doc,
    * the mean negative log-probability of its tokens under the corpus's
    * own unigram distribution. Rare-token-heavy docs score high,
    * boilerplate scores low — the standard "perplexity filter" axis.
    * Shape at scale: the unigram table is VOCABULARY-sized — AQE
    * broadcasts it while it fits, so token rows join map-side and
    * aggregate back to one row per doc — two corpus scans, zero
    * corpus-sized shuffles beyond the (doc) combine. */
  def q77Surprisal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokenTable(s, d).select($"doc_id", $"token")
    val uni = toks.groupBy($"token").agg(count(lit(1)).as("ctf"))
    val total = toks.agg(count(lit(1)).as("ntot"))
    // unigram table is vocabulary-sized → unbounded at web scale; no
    // broadcast hint — AQE broadcasts it while it fits (PlanSpec pins
    // this at test SF) and degrades to a shuffled join past the
    // threshold instead of OOMing. The 1-row total stays hinted.
    toks.join(uni, "token")
      .crossJoin(broadcast(total))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log($"ctf" / $"ntot")), 6).as("surprisal"))
  }

  val q77Sql: String =
    raw"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |             FROM documents),
      |uni AS (SELECT token, CAST(count(*) AS BIGINT) AS ctf FROM tok GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM tok)
      |SELECT doc_id, count(*) AS n_tokens,
      |       round(avg(-ln(ctf / ntot)), 6) AS surprisal
      |FROM tok JOIN uni USING (token) CROSS JOIN n
      |GROUP BY doc_id""".stripMargin

  /** Bigram-LM perplexity — q77's unigram surprisal upgraded to the real
    * "train an n-gram LM on the corpus, score every doc" loop. The three
    * pieces a 100 TB run needs are each in their scalable form:
    *
    *  - vocabulary pruning: top-500 tokens by corpus frequency (ties
    *    broken token-asc so the cut is total-ordered and engine-
    *    portable), selected with orderBy+limit = TakeOrderedAndProject —
    *    map-side partial top-K, never a global sort of the vocabulary;
    *  - <unk> mapping bounds the model: every out-of-vocab token folds
    *    into one symbol, so the bigram table is ≤(V+1)² rows regardless
    *    of corpus size — broadcastable by construction;
    *  - scoring: P(w2|w1) = c2(w1,w2)/c1(w1) with c1 the PREFIX count
    *    (sum over continuations, the standard MLE conditional). Every
    *    doc bigram was counted into the model, so no smoothing is needed
    *    for finiteness. Per-doc ppl = exp(mean nll); the corpus side
    *    takes two broadcast vocab joins + one broadcast model join and
    *    one combiner-friendly per-doc aggregate — zero corpus-wide
    *    shuffles. */
  def q99BigramPerplexity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = docs(s, d).select($"doc_id", tokens($"text").as("toks"))
    // vocab counts ride the shared exploded token view (cached once per
    // suite under graft.cacheTables, same as q57/q72/q77); the bigram
    // pass below still needs the ordered arrays, so it scans text itself
    val vocab = tokenTable(s, d).select($"token".as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(500)
      .select($"w")
    val bi = toks.where(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks)-1), i -> named_struct('w1', toks[i-1], 'w2', toks[i]))"))
        .as("p"))
      .select($"doc_id", $"p.w1", $"p.w2")
    // r20 (guide §2.3/§2.4): join the SAME broadcast(vocab) subtree for
    // both positions — identical canonical plans, so ONE BroadcastExchange
    // serves both joins (the aliased-projection form built two, and the
    // vocab top-K ran once per consumer).
    val mapped = bi
      .join(broadcast(vocab), $"w1" === $"w", "left")
      .select($"doc_id",
        when($"w".isNotNull, $"w1").otherwise(lit("<unk>")).as("u1"), $"w2")
      .join(broadcast(vocab), $"w2" === $"w", "left")
      .select($"doc_id", $"u1",
        when($"w".isNotNull, $"w2").otherwise(lit("<unk>")).as("u2"))
    // r20 (guide §2.3 "aggregate before you shuffle"): collapse the
    // occurrence stream to per-doc bigram COUNTS first. The old shape
    // consumed `mapped` twice (model build + scoring join), re-running
    // the corpus explode and both vocab joins; `dc` is computed once and
    // its exchange is REUSED by the model aggregation and the scoring
    // join. Scoring off counts is exact: per-doc mean nll =
    // sum(k * ln(c1/c2)) / sum(k), n_bigrams = sum(k).
    val dc = mapped.groupBy($"doc_id", $"u1", $"u2").agg(count(lit(1)).as("k"))
    val c2 = dc.groupBy($"u1", $"u2").agg(sum($"k").as("c2"))
    val c1 = c2.groupBy($"u1").agg(sum($"c2").as("c1"))
    val model = c2.join(c1, "u1")
    dc.join(broadcast(model), Seq("u1", "u2"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_bigrams"),
        round(exp(sum($"k".cast("double") * log($"c1".cast("double") / $"c2")) /
          sum($"k").cast("double")), 6).as("ppl"))
  }

  val q99Sql: String =
    raw"""WITH tokd AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |              FROM documents),
      |vocab AS (SELECT w FROM (
      |    SELECT unnest(toks) AS w FROM tokd) u
      |  GROUP BY w ORDER BY count(*) DESC, w LIMIT 500),
      |bi AS (SELECT doc_id,
      |              unnest(toks[1:len(toks)-1]) AS w1,
      |              unnest(toks[2:len(toks)]) AS w2
      |       FROM tokd WHERE len(toks) >= 2),
      |m AS (SELECT doc_id,
      |             CASE WHEN v1.w IS NULL THEN '<unk>' ELSE bi.w1 END AS u1,
      |             CASE WHEN v2.w IS NULL THEN '<unk>' ELSE bi.w2 END AS u2
      |      FROM bi LEFT JOIN vocab v1 ON bi.w1 = v1.w
      |               LEFT JOIN vocab v2 ON bi.w2 = v2.w),
      |c2 AS (SELECT u1, u2, CAST(count(*) AS BIGINT) AS c2 FROM m GROUP BY 1, 2),
      |c1 AS (SELECT u1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       round(exp(avg(ln(CAST(c1 AS DOUBLE) / c2))), 6) AS ppl
      |FROM m JOIN c2 USING (u1, u2) JOIN c1 USING (u1)
      |GROUP BY doc_id""".stripMargin

  /** Token-collocation mining: top-20 token pairs by document-level PMI
    * (pointwise mutual information over co-occurrence in the same doc).
    * The pair set is built by PER-ROW combinatorial expansion over each
    * doc's sorted distinct-token array — the pairs of one doc never
    * leave their row's task, so there is NO doc-keyed self-join and the
    * only corpus shuffle is the combiner-friendly (tok_a, tok_b) count.
    * Pair volume is bounded by doc length squared per row (the operator
    * contract), not corpus size squared. The doc-frequency table is
    * vocabulary-sized → AQE-broadcast while it fits; top-20 is
    * TakeOrderedAndProject on the rounded score, never a global sort. */
  def q78Collocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dt = docs(s, d)
      .select($"doc_id", array_sort(array_distinct(tokens($"text"))).as("toks"))
    // two chained codegen'd explodes, not a transform/flatten lambda —
    // higher-order functions run interpreted (measured ~1.5x slower here)
    val pairs = dt
      .select($"toks", posexplode($"toks").as(Seq("i", "tok_a")))
      .select($"tok_a",
        explode(slice($"toks", $"i" + lit(2), size($"toks"))).as("tok_b"))
    val co = pairs.groupBy($"tok_a", $"tok_b").agg(count(lit(1)).as("n_ab"))
    val df = dt.select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    // both df lookups are vocabulary-sized → no broadcast hint; AQE
    // broadcasts them while small (PlanSpec pins this at test SF) and
    // falls back to a shuffled join past the threshold. Only the 1-row
    // doc count is hinted.
    co.join(df.select($"tok".as("tok_a"), $"df".as("df_a")), "tok_a")
      .join(df.select($"tok".as("tok_b"), $"df".as("df_b")), "tok_b")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(log(($"n_ab" * $"n_docs") / ($"df_a" * $"df_b")), 6))
      .select($"tok_a", $"tok_b", $"n_ab", $"pmi")
      .orderBy($"pmi".desc, $"tok_a", $"tok_b")
      .limit(20)
  }

  val q78Sql: String =
    raw"""WITH dt AS (SELECT doc_id,
      |              list_sort(list_distinct(string_split_regex(trim(text), '\s+'))) AS toks
      |            FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM dt),
      |co AS (SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
      |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.tok < b.tok
      |       GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT tok_a, tok_b, n_ab,
      |       round(ln((n_ab * n_docs) / (da.df * db.df)), 6) AS pmi
      |FROM co JOIN df da ON co.tok_a = da.tok
      |        JOIN df db ON co.tok_b = db.tok
      |        CROSS JOIN n
      |ORDER BY pmi DESC, tok_a, tok_b
      |LIMIT 20""".stripMargin

  /** Cross-source duplication matrix on PREFIX fingerprints: an md5 of
    * each doc's first 8 tokens (the shared-header/boilerplate-start
    * signal q29's whole-text fingerprint misses), deduped to (source,
    * fp) and self-joined — for every source pair, how many distinct
    * prefixes both crawls contain. The "which crawls re-serve each
    * other's pages" audit that decides a corpus mix. Scale shape (the
    * q31 lesson — expand pairs off grouped sets, never self-join the
    * corpus): ONE scan collapses to per-fingerprint source SETS, whose
    * size is bounded by |sources| (a handful), not by how many docs
    * share the prefix; the ordered pair expansion is two chained codegen
    * explodes over those tiny sets, and the count is one pair-keyed
    * combiner shuffle. No second corpus scan, no fp-keyed self-join. */
  def q86CrossSourceDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sets = docs(s, d)
      .select($"source",
        md5(concat_ws(" ", slice(tokens($"text"), 1, 8))).as("fp"))
      // collect_set is dedup-invariant, so no distinct shuffle first;
      // sort_array makes the (a, b) expansion deterministic and ordered
      .groupBy($"fp").agg(sort_array(collect_set($"source")).as("srcs"))
      .where(size($"srcs") >= 2)
    sets
      .select(posexplode($"srcs").as(Seq("i", "src_a")), $"srcs")
      .select($"src_a",
        explode(slice($"srcs", $"i" + 2, size($"srcs"))).as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  val q86Sql: String =
    raw"""WITH p AS (SELECT DISTINCT source,
      |         md5(array_to_string(string_split_regex(trim(text), '\s+')[1:8], ' ')) AS fp
      |       FROM documents)
      |SELECT a.source AS src_a, b.source AS src_b,
      |       CAST(count(*) AS BIGINT) AS n_shared
      |FROM p a JOIN p b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  /** Zipf fit per language: rank the top-100 tokens by frequency (the
    * TopKPerGroup plan — map-side bounded heaps, never a per-lang sort)
    * and regress ln(count) on ln(rank); the slope is the Zipf exponent,
    * the one-number summary of vocabulary naturalness used to flag
    * template-generated or scrambled corpora. regr_slope is the SQL
    * standard covar/var form in both engines; operands are O(1)-magnitude
    * logs over ≤100 rows per group, so 6 dp rounding absorbs any
    * summation-order wobble. */
  def q87ZipfSlope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = tokenTable(s, d)
      .groupBy($"lang", $"token").agg(count(lit(1)).as("cnt"))
    graft.plans.TopK.perGroup(c, Seq("lang"),
        Seq(("cnt", false), ("token", true)), 100, rankName = "rnk")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_ranks"),
           round(expr("regr_slope(ln(cast(cnt AS DOUBLE)), ln(cast(rnk AS DOUBLE)))"), 6)
             .as("zipf_slope"))
  }

  val q87Sql: String =
    raw"""WITH tok AS (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
      |       FROM documents),
      |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
      |r AS (SELECT lang, cnt,
      |             row_number() OVER (PARTITION BY lang
      |                                ORDER BY cnt DESC, token) AS rnk
      |      FROM c)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
      |       round(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6)
      |         AS zipf_slope
      |FROM r WHERE rnk <= 100 GROUP BY lang""".stripMargin

  /** The curation FUNNEL — the pipeline-endpoint report every corpus
    * build publishes: how many documents survive each stage.
    *
    *   1_raw             corpus size
    *   2_exact           distinct whitespace/case-normalized text hashes
    *   3_near_dup        q69 keepers (one per q54 near-dup component)
    *   4_decontaminated  keepers minus q67 benchmark-contaminated docs
    *   5_quality         of those, q26 quality score ≥ 0.5
    *
    * Pure composition of the already-verified stages — each count is a
    * distributed aggregate over the stage's own scale-shaped plan
    * (components via LSH bands + propagation, contamination via the
    * compiled probe scan, quality per-row); the funnel adds only
    * broadcast-sized anti-joins of keeper ids and five 1-row aggregates.
    * The DuckDB oracle recomputes the whole chain from scratch in SQL,
    * so this row-set cross-checks the stages' COMPOSITION, not just each
    * stage alone. */
  def q88DedupFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), $"n_docs")
    val raw = docs(s, d).select($"doc_id")
    val exact = docs(s, d)
      .select(md5(regexp_replace(lower(trim($"text")), "\\s+", " ")).as("h")).distinct()
    val keepers = q69KeeperSelection(s, d).select($"keeper_id".as("doc_id"))
    val clean = keepers.join(
      CurationOps.q67Contamination(s, d).select($"doc_id"), Seq("doc_id"), "left_anti")
    val quality = clean.join(
      q26QualityScore(s, d).where($"quality_score" >= 0.5).select($"doc_id"), Seq("doc_id"))
    stage("1_raw", raw)
      .union(stage("2_exact", exact))
      .union(stage("3_near_dup", keepers))
      .union(stage("4_decontaminated", clean))
      .union(stage("5_quality", quality))
  }

  // lazy: reads CurationOps.BenchmarkShingles - laziness breaks the
  // TextOps<->CurationOps object-init cycle regardless of member order
  lazy val q88Sql: String = {
    val inlist = CurationOps.BenchmarkShingles.map(b => s"'$b'").mkString(", ")
    raw"""WITH RECURSIVE $componentsCtes,
      |tokd AS (SELECT doc_id,
      |                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |         FROM documents),
      |ranked AS (SELECT c.component_id, c.doc_id,
      |                  row_number() OVER (PARTITION BY c.component_id
      |                    ORDER BY t.n_tokens DESC, c.doc_id) AS rn
      |           FROM comp c JOIN tokd t USING (doc_id)),
      |keepers AS (SELECT doc_id FROM ranked WHERE rn = 1),
      |contaminated AS (SELECT DISTINCT doc_id FROM sh WHERE shingle IN ($inlist)),
      |clean AS (SELECT doc_id FROM keepers
      |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |quality AS (SELECT doc_id
      |            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |                  FROM documents)
      |            WHERE least(len(toks) / 100.0, 1.0)
      |                  * (1.0 - len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and')))
      |                           / len(toks)) >= 0.5)
      |SELECT '1_raw' AS stage, count(*) AS n_docs FROM documents
      |UNION ALL SELECT '2_exact',
      |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
      |  FROM documents
      |UNION ALL SELECT '3_near_dup', count(*) FROM keepers
      |UNION ALL SELECT '4_decontaminated', count(*) FROM clean
      |UNION ALL SELECT '5_quality', count(*) FROM clean JOIN quality USING (doc_id)""".stripMargin
  }

  /** Source drift: KL(source ‖ corpus) over unigram distributions — the
    * domain-shift score that flags a crawl whose vocabulary departs from
    * the corpus mix (the quantitative companion to q75's set-overlap
    * similarity). No smoothing needed: every source token is by
    * definition in the corpus model, so the ratio is always finite.
    * Scale shape: ONE (source, token) combiner shuffle builds the term
    * frequencies; the per-source totals and the corpus model are both
    * derivatives of that aggregate (the shared exchange is reused, not
    * rescanned), the model is vocabulary-sized and broadcasts, and the
    * KL sum is one more combiner-friendly source-keyed aggregate. The
    * cross-engine float-sum-order wobble is ~1e-12 relative over
    * vocabulary-sized sums — absorbed by the 6 dp round (same argument
    * as q44/q77). */
  def q90SourceDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // explicit source-notnull: the join branches push isnotnull(source)
    // into THEIR scans anyway; filtering it once up front makes every
    // branch's subtree canonically identical, so the (source, token)
    // exchange is built once and reused (3 consumers), not rescanned
    val st = docs(s, d).where($"source".isNotNull)
      .select($"source", explode(tokens($"text")).as("token"))
      .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
    val stot = st.groupBy($"source").agg(sum($"c").as("n"))
    val ct = st.groupBy($"token").agg(sum($"c").as("cc"))
    val nn = ct.agg(sum($"cc").as("nn"))
    st.join(stot, "source")
      .join(broadcast(ct), "token")
      .crossJoin(broadcast(nn))
      .groupBy($"source", $"n")
      .agg(round(sum(($"c" / $"n") * log(($"c" / $"n") / ($"cc" / $"nn"))), 6)
        .as("kl_vs_corpus"))
      .select($"source", $"n".as("n_tokens"), $"kl_vs_corpus")
  }

  val q90Sql: String =
    raw"""WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
      |       FROM documents WHERE source IS NOT NULL),
      |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1),
      |ct AS (SELECT token, CAST(sum(c) AS BIGINT) AS cc FROM st GROUP BY 1),
      |ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS nn FROM ct)
      |SELECT st.source, stot.n AS n_tokens,
      |       round(sum((st.c / CAST(stot.n AS DOUBLE))
      |                 * ln((st.c / CAST(stot.n AS DOUBLE))
      |                      / (ct.cc / CAST(ctot.nn AS DOUBLE)))), 6) AS kl_vs_corpus
      |FROM st JOIN stot USING (source) JOIN ct USING (token) CROSS JOIN ctot
      |GROUP BY 1, 2""".stripMargin

  /** Per-document corpus-novelty score: the fraction of a doc's distinct
    * word-3-gram shingles that are NOT corpus-common (document frequency
    * ≥ 5) — the "how much of this doc is boilerplate the corpus already
    * has" signal, the intra-corpus complement of q67's external
    * contamination check and q56's intra-doc repetition. Docs under 3
    * tokens have no shingles and are absent by definition (both
    * engines). Shingles join on their 64-bit md5 prefix (the q31
    * pattern: fixed-width keys keep the shuffle narrow; both engines
    * hash identically so any collision is shared). Scale: one distinct
    * (doc, shingle) shuffle, a combiner-friendly df count — a count per
    * hot shingle, never a doc-list — and one hash-keyed join back;
    * every stage is corpus-linear. */
  /** q91's distinct (doc, shingle-hash) view — the shingle explode is the
    * expensive half, so it gets the same opt-in persisted-view treatment
    * (`graft.cacheTables`) as the token/candidate/capped-set views. */
  private val docShingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def docShingles(s: SparkSession, d: String): DataFrame = {
    def build: DataFrame = {
      import s.implicits._
      rawShingles(s, d)
        .select($"doc_id", substring(md5($"shingle"), 1, 16).as("h"))
        .distinct()
    }
    if (sys.props.get("graft.cacheTables").contains("true")) {
      docShingleCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      docShingleCache.getOrElseUpdate((s, d), build.persist())
    } else build
  }

  def q91Novelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: the distinct (doc, shingle) view is consumed TWICE (df
    // build + join back), and without materialization AQE sometimes
    // re-derives the whole shingle-explode subtree instead of reusing
    // the exchange — a runtime coin-flip that showed up as a 28x swing
    // on the 10x scale probe. One materialization pins the cost and
    // lets the join strategy be chosen from the REAL table size.
    // (No-op under graft.cacheTables, where docShingles is already the
    // persisted shared view.)
    val sh = docShingles(s, d).persist()
    val df = sh.groupBy($"h").agg(count(lit(1)).as("df"))
    sh.join(df, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           count(when($"df" >= 5, 1)).as("n_common"),
           round(lit(1.0) - count(when($"df" >= 5, 1)) / count(lit(1)), 6)
             .as("novelty"))
  }

  val q91Sql: String =
    raw"""WITH sh AS (SELECT DISTINCT doc_id,
      |    substring(md5(unnest(CASE WHEN len(toks) < 3 THEN []
      |                ELSE [array_to_string(toks[i:i+2], ' ')
      |                      FOR i IN generate_series(1, len(toks) - 2)] END)), 1, 16) AS h
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)),
      |df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY h)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |       CAST(count(*) FILTER (WHERE df >= 5) AS BIGINT) AS n_common,
      |       round(1.0 - count(*) FILTER (WHERE df >= 5) / CAST(count(*) AS DOUBLE), 6)
      |         AS novelty
      |FROM sh JOIN df USING (h) GROUP BY doc_id""".stripMargin

  /** q111 — Gopher-style quality-rule audit (Rae et al. 2021's repetition
    * /length/stopword heuristics, the standard pre-training filter
    * battery): per doc, the signal values AND one 0/1 flag per rule so a
    * pipeline can report WHY a doc fails, not just that it failed.
    * Rules: token count in [5, 10000]; mean word length in [3, 10];
    * type-token ratio ≥ 0.3 (the repetition axis); ≥ 1 function word
    * (q26's stopword list). Rule thresholds compare the ROUNDED signals
    * so both engines make identical boundary calls. Pure per-row array
    * math — zero shuffles, scan-speed at any corpus size (PlanSpec). */
  def q111GopherRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        expr("aggregate(toks, 0L, (a, x) -> a + length(x))").as("sum_len"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        size(expr("filter(toks, x -> x IN ('the', 'a', 'of', 'and'))"))
          .cast("long").as("n_stop"))
      .withColumn("mean_word_len", round($"sum_len" / $"n_tokens", 6))
      .withColumn("ttr", round($"n_distinct" / $"n_tokens", 6))
      .withColumn("r_len", ($"n_tokens" >= 5 && $"n_tokens" <= 10000).cast("long"))
      .withColumn("r_wordlen",
        ($"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0).cast("long"))
      .withColumn("r_ttr", ($"ttr" >= 0.3).cast("long"))
      .withColumn("r_stop", ($"n_stop" >= 1).cast("long"))
      .withColumn("keep",
        ($"r_len" + $"r_wordlen" + $"r_ttr" + $"r_stop" === 4).cast("long"))
      .select($"doc_id", $"n_tokens", $"mean_word_len", $"ttr", $"n_stop",
        $"r_len", $"r_wordlen", $"r_ttr", $"r_stop", $"keep")
  }

  val q111Sql: String =
    raw"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |            FROM documents),
      |m AS (SELECT doc_id,
      |        CAST(len(toks) AS BIGINT) AS n_tokens,
      |        round(list_sum(list_transform(toks, x -> length(x)))
      |              / len(toks), 6) AS mean_word_len,
      |        round(len(list_distinct(toks)) / len(toks), 6) AS ttr,
      |        CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and')))
      |             AS BIGINT) AS n_stop
      |      FROM t),
      |r AS (SELECT *,
      |        CAST(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1 ELSE 0 END AS BIGINT) AS r_len,
      |        CAST(CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END AS BIGINT) AS r_wordlen,
      |        CAST(CASE WHEN ttr >= 0.3 THEN 1 ELSE 0 END AS BIGINT) AS r_ttr,
      |        CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS BIGINT) AS r_stop
      |      FROM m)
      |SELECT doc_id, n_tokens, mean_word_len, ttr, n_stop,
      |       r_len, r_wordlen, r_ttr, r_stop,
      |       CAST(CASE WHEN r_len + r_wordlen + r_ttr + r_stop = 4
      |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM r""".stripMargin

  /** q112 — train/test LEAKAGE audit: for every pair of splits, how many
    * distinct 8-token-prefix fingerprints (q86's shared-boilerplate
    * signal) appear in BOTH — the "is my eval split contaminated by my
    * own training split" check that must gate every release of a split
    * assignment. Same scale shape as q86: ONE corpus scan collapses to
    * per-fingerprint SPLIT SETS (bounded by |splits| = 3, regardless of
    * how many docs share the prefix), pairs expand per-row from those
    * tiny sets, and the count is one pair-keyed combiner shuffle — no
    * fp-keyed self-join of the corpus. */
  def q112SplitLeakage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assigned = docs(s, d)
      .select($"doc_id",
        md5(concat_ws(" ", slice(tokens($"text"), 1, 8))).as("fp"),
        conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("long").as("bucket"))
      .withColumn("split",
        when($"bucket" < 52429, "train")
          .when($"bucket" < 58982, "val")
          .otherwise("test"))
    val sets = assigned
      .groupBy($"fp").agg(sort_array(collect_set($"split")).as("splits"))
      .where(size($"splits") >= 2)
    sets
      .select(posexplode($"splits").as(Seq("i", "split_a")), $"splits")
      .select($"split_a",
        explode(slice($"splits", $"i" + 2, size($"splits"))).as("split_b"))
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_fingerprints"))
  }

  val q112Sql: String =
    raw"""WITH f AS (SELECT doc_id,
      |         md5(array_to_string(string_split_regex(trim(text), '\s+')[1:8], ' ')) AS fp,
      |         CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 52429 THEN 'train'
      |              WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) < 58982 THEN 'val'
      |              ELSE 'test' END AS split
      |       FROM documents),
      |d AS (SELECT DISTINCT fp, split FROM f)
      |SELECT a.split AS split_a, b.split AS split_b,
      |       CAST(count(*) AS BIGINT) AS n_fingerprints
      |FROM d a JOIN d b ON a.fp = b.fp AND a.split < b.split
      |GROUP BY 1, 2""".stripMargin

  /** q114 — hashed-feature LINEAR CLASSIFIER inference (the fastText /
    * quality-classifier scoring pass every curation pipeline runs over
    * its full corpus): binary bag-of-words over distinct tokens, each
    * token hashed into one of 256 buckets (md5's first two hex digits —
    * the q32/q112 engine-portable hash idiom), a fixed weight per bucket,
    * score = sigmoid(mean bucket weight). The weight table here is a
    * deterministic stand-in for trained weights — crucially it is DYADIC
    * ((2k-255)/1024), so the fold's partial sums are exact in IEEE
    * double and the score is order-independent across engines.
    *
    * Scale shape: the model lives INSIDE the row expression (256 weights
    * by construction), so inference is pure per-row math — zero
    * exchanges, scan-speed at any corpus size (PlanSpec), the same
    * reason fastText inference shards embarrassingly. A real trained
    * model swaps the weight formula for a 256-entry lookup broadcast to
    * every executor; nothing else changes. */
  def q114QualityClassifier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", array_distinct(tokens($"text")).as("feats"))
      .select($"doc_id",
        size($"feats").cast("long").as("n_feats"),
        // 127.5D/512D: bare decimal literals inside expr() make the
        // division DECIMAL (scale-rounded) instead of exact IEEE double
        expr("""aggregate(feats, 0D, (a, x) ->
            a + ((cast(conv(substring(md5(x), 1, 2), 16, 10) as bigint) * 37 + 11) % 256
                 - 127.5D) / 512D)""").as("logit_sum"))
      .withColumn("logit", round($"logit_sum" / $"n_feats", 6))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) + exp(-$"logit_sum" / $"n_feats")), 6))
      .withColumn("keep", ($"score" >= 0.5).cast("long"))
      .select($"doc_id", $"n_feats", $"logit", $"score", $"keep")
  }

  val q114Sql: String =
    raw"""WITH f AS (SELECT doc_id,
      |         list_distinct(string_split_regex(trim(text), '\s+')) AS feats
      |       FROM documents),
      |m AS (SELECT doc_id,
      |        CAST(len(feats) AS BIGINT) AS n_feats,
      |        list_sum(list_transform(feats, x ->
      |          ((CAST('0x' || substring(md5(x), 1, 2) AS BIGINT) * 37 + 11) % 256
      |           - 127.5) / 512)) AS logit_sum
      |      FROM f)
      |SELECT doc_id, n_feats,
      |       round(logit_sum / n_feats, 6) AS logit,
      |       round(1.0 / (1.0 + exp(-logit_sum / n_feats)), 6) AS score,
      |       CAST(CASE WHEN round(1.0 / (1.0 + exp(-logit_sum / n_feats)), 6) >= 0.5
      |                 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM m""".stripMargin

  /** q115 — PSI (population stability index) DRIFT MONITOR: how far each
    * source's doc-length distribution sits from the corpus-wide one —
    * the standard production gate for "did this week's crawl shift"
    * (PSI > 0.25 = investigate). Bins are DIGIT COUNTS of n_chars
    * (decimal log bins via pure string length — no floating log2 whose
    * last-ulp behavior differs between engines), add-one smoothed so
    * empty cells contribute finite terms.
    *
    * Scale shape: ONE corpus scan collapses to (source × digit-bin)
    * counts — a combiner-friendly aggregate whose result is
    * catalog-sized (|sources| · ≤ ~12 bins) — and every join below it
    * (the zero-cell grid, the corpus marginals, the scalar totals) runs
    * on that tiny table with broadcast fan-out. The crossJoins are
    * bounded by construction: |sources| × |bins| cells. */
  def q115PsiDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // persisted: four downstream branches (source totals, bin marginals,
    // scalars, the grid join) read this catalog-sized table — without the
    // persist each branch would RE-SCAN the corpus (PlanSpec pins it)
    val counts = docs(s, d)
      .select($"source", length($"n_chars".cast("string")).cast("long").as("bin"))
      .groupBy($"source", $"bin").agg(count(lit(1)).as("cnt"))
      .persist()
    val srcTotals = counts.groupBy($"source").agg(sum($"cnt").as("n_s"))
    val binTotals = counts.groupBy($"bin").agg(sum($"cnt").as("c_b"))
    val scalars = binTotals.agg(count(lit(1)).as("nb"), sum($"c_b").as("n"))
    val grid = srcTotals
      .crossJoin(broadcast(binTotals))
      .crossJoin(broadcast(scalars))
      .join(counts, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("cnt"))
    val p = ($"cnt" + 1.0) / ($"n_s" + $"nb")
    val q = ($"c_b" + 1.0) / ($"n" + $"nb")
    grid.groupBy($"source", $"n_s")
      .agg(round(sum((p - q) * log(p / q)), 6).as("psi"))
      .select($"source", $"n_s".cast("long").as("n_docs"), $"psi")
  }

  val q115Sql: String =
    """WITH b AS (SELECT source, CAST(length(CAST(n_chars AS STRING)) AS BIGINT) AS bin
      |           FROM documents),
      |c AS (SELECT source, bin, count(*) AS cnt FROM b GROUP BY source, bin),
      |s AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM c GROUP BY source),
      |t AS (SELECT bin, CAST(sum(cnt) AS BIGINT) AS c_b FROM c GROUP BY bin),
      |k AS (SELECT CAST(count(*) AS BIGINT) AS nb, CAST(sum(c_b) AS BIGINT) AS n FROM t),
      |g AS (SELECT s.source, s.n_s, t.bin, t.c_b, k.nb, k.n, coalesce(c.cnt, 0) AS cnt
      |      FROM s CROSS JOIN t CROSS JOIN k
      |      LEFT JOIN c ON c.source = s.source AND c.bin = t.bin)
      |SELECT source, n_s AS n_docs,
      |       round(sum(((cnt + 1.0) / (n_s + nb) - (c_b + 1.0) / (n + nb))
      |                 * ln(((cnt + 1.0) / (n_s + nb)) / ((c_b + 1.0) / (n + nb)))), 6) AS psi
      |FROM g GROUP BY source, n_s""".stripMargin

  /** q124 — BPE MERGE INDUCTION (first iteration) at corpus scale: the
    * most frequent adjacent character pairs, which is exactly the merge
    * a byte-pair tokenizer would learn next. The classic scale trick:
    * collapse the corpus to the WORD-FREQUENCY table first (vocab-sized,
    * zipf-bounded), then expand each distinct word's ≤len−1 pairs
    * weighted by its frequency — pair expansion runs over the vocab, not
    * the corpus, so 100× more text with the same vocabulary costs one
    * bigger pre-aggregation and nothing downstream. Top-50 under the
    * total order (freq DESC, pair) → a deterministic set for the oracle.
    * Iterating = re-running with the winning pair fused into the vocab
    * table (vocab-sized state, never a corpus re-scan). */
  def q124BpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wf = docs(s, d)
      .select(explode(tokens($"text")).as("w"))
      .where(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("f"))
    wf.select($"w", $"f",
        explode(sequence(lit(1), length($"w") - 1)).as("i"))
      .select(expr("substr(w, i, 2)").as("pair"), $"f")
      .groupBy($"pair").agg(sum($"f").as("freq"))
      .orderBy($"freq".desc, $"pair")
      .limit(50)
  }

  val q124Sql: String =
    raw"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |              FROM documents),
      |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks
      |       WHERE length(w) >= 2 GROUP BY w),
      |p AS (SELECT substr(w, g.i, 2) AS pair, f
      |      FROM wf, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g)
      |SELECT pair, CAST(sum(f) AS BIGINT) AS freq
      |FROM p GROUP BY pair ORDER BY freq DESC, pair LIMIT 50""".stripMargin

  /** q125 — INCREMENTAL dedup: flag new-batch docs whose exact content
    * fingerprint already exists in the committed corpus. This is the
    * ingest shape that never re-dedups the lake: the corpus collapses
    * once to a distinct-fingerprint INDEX and each arriving batch
    * probes it. The MAINTAINED form of that index is real code, not a
    * comment: [[graft.sources.DedupIndex]] keeps it as a
    * fingerprint-bucketed ManifestTable updated from readChanges CDC
    * deltas ([[graft.sources.DedupIndex.maintainFpIndex]]), sharing
    * [[withFingerprint]] with this query so both hash identically —
    * DedupIndexSpec pins maintained ≡ recomputed, probe included.
    * Here (single-shot oracle form) batch = doc_id % 10 == 9 as the
    * stand-in split and the index is derived in-query. AQE picks the
    * join side to build: the batch is the small side at production
    * ratios. */
  def q125IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = fingerprintsOf(docs(s, d))
    val idx = all.where($"doc_id" % 10 =!= 9).select($"fp").distinct()
      .withColumn("known", lit(1L))
    all.where($"doc_id" % 10 === 9)
      .join(idx, Seq("fp"), "left")
      .select($"doc_id", $"fp", $"known".isNotNull.as("is_known_dup"))
  }

  val q125Sql: String =
    """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |idx AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 9)
      |SELECT b.doc_id, b.fp, (idx.fp IS NOT NULL) AS is_known_dup
      |FROM f b LEFT JOIN idx ON idx.fp = b.fp
      |WHERE b.doc_id % 10 = 9""".stripMargin

  /** q126 — INCREMENTAL near-dup: q125's ingest shape upgraded from
    * exact fingerprints to LSH — new-batch docs (doc_id % 10 == 9 as
    * the stand-in) that share a MinHash band bucket with any committed
    * corpus doc. The corpus side is the band-bucket INDEX q30 already
    * builds (same signatures, same [[bandStackExpr]] banding). The
    * MAINTAINED form is [[graft.sources.DedupIndex]]: 4 stored rows per
    * doc in a bucketed ManifestTable updated from readChanges CDC
    * deltas ([[graft.sources.DedupIndex.maintainBandIndex]]), so an
    * arriving batch only shingles ITSELF and joins the stored index —
    * the 100 TB corpus is never re-shingled (DedupIndexSpec pins
    * maintained ≡ recomputed across commits incl. update/delete; the
    * streaming face is EventStream.nearDupProbeStream). Here (the
    * single-shot oracle form) both sides derive from one signature
    * build (the split is a filter), so the plan reuses a single
    * exchange exactly like q30's self-join. */
  def q126IncrementalNeardup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = minhashSignatures(s, d)
    val bands = sig.selectExpr("doc_id", bandStackExpr)
    val idx = bands.where($"doc_id" % 10 =!= 9)
    val probe = bands.where($"doc_id" % 10 === 9)
    // No join hint (VERDICT r9): an equi-join can never plan as a nested
    // loop (PlanSpec pins that), and the previous `.hint("merge")` pin
    // also forbade AQE from broadcasting the probe side — which is
    // exactly the production shape (small arriving batch vs huge
    // committed index). Unhinted, AQE picks broadcast when the batch is
    // tiny and sort-merge with ONE reused exchange when sides are
    // symmetric (as here, both filters of one signature build).
    probe.as("a").join(idx.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket")
      .select($"a.doc_id".as("batch_doc"), $"b.doc_id".as("corpus_doc"))
      .distinct()
  }

  val q126Sql: String =
    s"""WITH $shingleCte,
      |hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
      |sig AS (SELECT doc_id,
      |  min(substring(h, 1, 4)) h0, min(substring(h, 5, 4)) h1,
      |  min(substring(h, 9, 4)) h2, min(substring(h, 13, 4)) h3,
      |  min(substring(h, 17, 4)) h4, min(substring(h, 21, 4)) h5,
      |  min(substring(h, 25, 4)) h6, min(substring(h, 29, 4)) h7
      |  FROM hashed GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 || h1 AS bucket FROM sig
      |  UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
      |  UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
      |  UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig)
      |SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.bucket = b.bucket
      |WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9""".stripMargin

  /** Every suite-shared persisted view, by name, with a thunk forcing
    * its materialization — Bench times these as named `view:<name>`
    * entries BEFORE the per-query passes, so a query's sequential number
    * stops silently absorbing a view (re)build when memory pressure
    * evicts one mid-suite (VERDICT r9: q58/q87/q30-class numbers tripled
    * on eviction noise). Listed in dependency order (capped/distinct/
    * candidate views all derive from raw_shingles; components from
    * candidates), so each thunk's time is its OWN build, not a hidden
    * upstream build. Only meaningful under `graft.cacheTables`. */
  private[graft] def sharedViewBuilders(
      s: SparkSession, d: String): Seq[(String, () => Long)] = Seq(
    "raw_shingles" -> (() => rawShingles(s, d).count()),
    "capped_shingles" -> (() => cappedShingleSets(s, d).count()),
    "pair_stats" -> (() => cappedPairStats(s, d).count()),
    "distinct_shingles" -> (() => distinctShingleMd5(s, d).count()),
    "candidates" -> (() => candidatePairs(s, d).count()),
    "components" -> (() => q54NearDupComponents(s, d).count()),
    "winnowed_spans" -> (() => winnowedSpansView(s, d).count()),
    "tokenized_docs" -> (() => tokenizedDocsView(s, d).count()),
    "window_positions" -> (() => windowPositionsView(s, d).count()),
    "window_positions16" -> (() => {
      val n = windowPositionsView(s, d, 16).count()
      // both widths are now materialized: the tokenized scaffolding has
      // no remaining reader — drop it so the cache peak is the views,
      // not views + token arrays
      releaseTokenizedDocs(s, d)
      n
    }),
    "doc_shingles" -> (() => docShingles(s, d).count()),
    "token_matrix" -> (() => tokenTable(s, d).count()))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_bpe_pairs" -> (q124BpePairs _),
    "q125_incremental_dedup" -> (q125IncrementalDedup _),
    "q126_incremental_neardup" -> (q126IncrementalNeardup _),
    "q114_quality_classifier" -> (q114QualityClassifier _),
    "q115_psi_drift" -> (q115PsiDrift _),
    "q116_containment_pairs" -> (q116ContainmentPairs _),
    "q118_repeated_spans" -> (q118RepeatedSpans _),
    "q148_exact_substr_spans" -> (q148ExactSubstrSpans _),
    "q152_exact_substr_spans16" -> (q152ExactSubstrSpans16 _),
    "q149_exact_substr_savings" -> (q149ExactSubstrSavings _),
    "q150_eval_span_scrub" -> (q150EvalSpanScrub _),
    "q151_scrub_apply" -> (q151ScrubApply _),
    "q119_dedup_savings" -> (q119DedupSavings _),
    "q111_gopher_rules" -> (q111GopherRules _),
    "q112_split_leakage" -> (q112SplitLeakage _),
    "q91_novelty" -> (q91Novelty _),
    "q95_minhash_calibration" -> (q95MinhashCalibration _),
    "q90_source_drift" -> (q90SourceDrift _),
    "q88_dedup_funnel" -> (q88DedupFunnel _),
    "q86_cross_source_dup" -> (q86CrossSourceDup _),
    "q87_zipf_slope" -> (q87ZipfSlope _),
    "q45_rolling_fingerprint" -> (q45RollingFingerprint _),
    "q47_bpe_tokens" -> (q47BpeTokens _),
    "q25_doc_stats" -> (q25DocStats _),
    "q26_quality_score" -> (q26QualityScore _),
    "q27_lang_id" -> (q27LangId _),
    "q28_exact_dedup_docs" -> (q28ExactDedup _),
    "q29_fingerprint" -> (q29Fingerprint _),
    "q30_minhash_lsh" -> (q30MinHashLsh _),
    "q31_jaccard_pairs" -> (q31JaccardPairs _),
    "q32_simhash" -> (q32SimHash _),
    "q54_neardup_components" -> (q54NearDupComponents _),
    "q69_keeper_selection" -> (q69KeeperSelection _),
    "q55_hash_split" -> (q55HashSplit _),
    "q199_split_leakage" -> (q199SplitLeakage _),
    "q56_repetition" -> (q56Repetition _),
    "q57_top_tokens_per_lang" -> (q57TopTokensPerLang _),
    "q72_tfidf" -> (q72TfIdf _),
    "q75_source_similarity" -> (q75SourceSimilarity _),
    "q77_surprisal" -> (q77Surprisal _),
    "q100_pagerank" -> (q100PageRank _),
    "q103_triangles" -> (q103Triangles _),
    "q99_bigram_perplexity" -> (q99BigramPerplexity _),
    "q78_collocations" -> (q78Collocations _))

  lazy val oracleSql: Map[String, String] = Map(
    "q124_bpe_pairs" -> q124Sql,
    "q125_incremental_dedup" -> q125Sql,
    "q126_incremental_neardup" -> q126Sql,
    "q114_quality_classifier" -> q114Sql,
    "q115_psi_drift" -> q115Sql,
    "q116_containment_pairs" -> q116Sql,
    "q118_repeated_spans" -> q118Sql,
    "q148_exact_substr_spans" -> q148Sql,
    "q152_exact_substr_spans16" -> q152Sql,
    "q149_exact_substr_savings" -> q149Sql,
    "q150_eval_span_scrub" -> q150Sql,
    "q151_scrub_apply" -> q151Sql,
    "q119_dedup_savings" -> q119Sql,
    "q111_gopher_rules" -> q111Sql,
    "q112_split_leakage" -> q112Sql,
    "q91_novelty" -> q91Sql,
    "q95_minhash_calibration" -> q95Sql,
    "q90_source_drift" -> q90Sql,
    "q88_dedup_funnel" -> q88Sql,
    "q86_cross_source_dup" -> q86Sql,
    "q87_zipf_slope" -> q87Sql,
    "q45_rolling_fingerprint" -> q45Sql,
    "q47_bpe_tokens" -> q47Sql,
    "q25_doc_stats" -> q25Sql,
    "q26_quality_score" -> q26Sql,
    "q27_lang_id" -> q27Sql,
    "q28_exact_dedup_docs" -> q28Sql,
    "q29_fingerprint" -> q29Sql,
    "q30_minhash_lsh" -> q30Sql,
    "q31_jaccard_pairs" -> q31Sql,
    "q32_simhash" -> q32Sql,
    "q54_neardup_components" -> q54Sql,
    "q69_keeper_selection" -> q69Sql,
    "q55_hash_split" -> q55Sql,
    "q199_split_leakage" -> q199Sql,
    "q56_repetition" -> q56Sql,
    "q57_top_tokens_per_lang" -> q57Sql,
    "q72_tfidf" -> q72Sql,
    "q75_source_similarity" -> q75Sql,
    "q77_surprisal" -> q77Sql,
    "q100_pagerank" -> q100Sql,
    "q103_triangles" -> q103Sql,
    "q99_bigram_perplexity" -> q99Sql,
    "q78_collocations" -> q78Sql)
}
