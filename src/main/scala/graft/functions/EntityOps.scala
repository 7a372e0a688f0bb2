package graft.functions

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage) over structured records — the
  * tabular sibling of the document near-dup family: a large corpus of
  * records where the SAME real-world entity appears under VARIANT keys
  * (typos, re-spellings), resolved without ever comparing all pairs.
  * The classic pipeline (Fellegi & Sunter 1969; Christen 2012, "Data
  * Matching"): BLOCK records into candidate groups by cheap keys,
  * COMPARE only within blocks (edit distance), CLUSTER the match graph
  * into entities, then MERGE each cluster into one golden record.
  *
  * The fixture is the `part` table: `p_name` is "adjective noun", and
  * distinct names sit within small edit distances of each other — a
  * miniature of a dirty product catalog. Everything runs on the NAME
  * dimension (distinct keys), never the record count: at 100 TB the
  * record table is huge but the distinct-variant-key table is orders of
  * magnitude smaller, so the quadratic-ish compare work is confined to
  * capped blocks of a small dimension and records only ever take one
  * hash join back onto their resolved entity.
  *
  * Scale design, operator by operator:
  *  - blocking is a self-join ON the block key — one shuffle of the
  *    (small) name dimension, never a cross join (PlanSpec-pinned);
  *  - oversized blocks are DROPPED, not compared ([[MaxBlockSize]]) —
  *    the standard ER skew guard: a degenerate key ("misc", "") would
  *    otherwise quadratically explode exactly like an LSH hot bucket;
  *  - the match graph (names within [[MatchMaxDist]]) reuses the dedup
  *    family's dual component solver: single-task union-find while the
  *    edge list is subcritical, distributed min-label propagation past
  *    [[TextOps.LocalComponentsMaxEdges]];
  *  - the golden-record merge is one aggregation over records keyed by
  *    entity, reached via a name→entity join that AQE broadcasts (the
  *    name dimension is tiny relative to the record table).
  */
object EntityOps {

  private def parts(s: SparkSession, d: String) = Tables(s, d, "part")

  /** Blocks larger than this are dropped from candidate generation —
    * the ER skew guard (Christen 2012 §4.2: block-size filtering). A
    * block of b names costs b² comparisons; at the cap that is 10⁸
    * levenshtein calls in ONE block — the most a sane pipeline pays
    * for a single degenerate key before it signals dirty blocking. */
  val MaxBlockSize: Long = 10000L

  /** Match threshold: names within this Levenshtein distance are
    * candidate same-entity variants (names here are ~8-12 chars; 3
    * edits ≈ one mistyped word). */
  val MatchMaxDist: Int = 3

  /** A blocking pass: a slot label plus a PURE key extractor over the
    * name column — pure so both the batch family and the maintained
    * index can re-derive any name's blocks from the string itself.
    * The pipeline is generic over the pass list: every operator below
    * takes `blockers` and defaults to [[PartBlockers]], so a second
    * schema (different name shape, different passes) runs the same
    * block→cap→compare→cluster spine — see `EntityOpsSpec`'s
    * people-records schema. */
  type Blocker = (String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)

  /** The part-catalog instantiation: `p_name` is "adjective noun", one
    * pass per token so a typo in EITHER still shares a block. */
  val PartBlockers: Seq[Blocker] = Seq(
    "adj" -> (n => substring_index(n, " ", 1)),
    "noun" -> (n => substring_index(n, " ", -1)))

  /** Third blocking pass for names WITHOUT reliable token structure:
    * the consonant SKELETON — drop vowels and spaces, keep the first 4
    * characters (the vowel-insensitivity at the core of the
    * Soundex/phonetic family, Christen 2012 §4.3, as a pure
    * SQL-expressible key). A name whose BOTH tokens carry a vowel typo
    * ("arctic rose" → "erctic rosa") escapes the adj and noun blocks
    * but keeps its skeleton ("rctcr"→"rctcr"), so the pass buys recall
    * exactly where token blocking is blind; like every pass it rides
    * the same block-size cap, so a degenerate skeleton ("" for an
    * all-vowel name) drops instead of exploding. */
  val SkeletonBlocker: Blocker =
    "skel" -> (n => substring(regexp_replace(lower(n), "[aeiou ]", ""), 1, 4))

  /** The 3-pass configuration: token passes + the skeleton fallback. */
  val PartBlockers3: Seq[Blocker] = PartBlockers :+ SkeletonBlocker

  /** The distinct-name dimension with its blocking keys and stable
    * numeric node id (min record key — deterministic, order-free).
    * `adj`/`noun` are the two tokens of the two-word name. */
  private def nameDim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    parts(s, d)
      .groupBy($"p_name".as("name"))
      .agg(min($"p_partkey").cast("long").as("nid"))
      .withColumn("adj", substring_index($"name", " ", 1))
      .withColumn("noun", substring_index($"name", " ", -1))
  }

  /** name → (slot, key) blocking rows of an arbitrary name frame — a
    * PURE function of the name string, which is what lets the
    * maintained face ([[graft.sources.EntityIndex]]) derive any name
    * set's blocks inline instead of reading an index: one row per
    * blocking pass. Multiple passes are the standard recall fix for
    * single-key blocking — a typo in one key still shares the other
    * pass's block. */
  private[graft] def blocksOfNames(names: DataFrame,
      blockers: Seq[Blocker] = PartBlockers): DataFrame =
    names.select(col("name"),
      explode(array(blockers.map { case (slot, key) =>
        struct(lit(slot).as("slot"), key(col("name")).cast("string").as("key"))
      }: _*)).as("b"))
      .select(col("name"), col("b.slot").as("slot"), col("b.key").as("key"))

  private def blocks(s: SparkSession, d: String): DataFrame =
    blocksOfNames(nameDim(s, d))

  /** Name dimension of an arbitrary part-shaped record frame with live
    * record counts — the maintained index's bootstrap input. */
  private[graft] def nameCounts(records: DataFrame): DataFrame =
    records.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_records"))

  /** Match edges (shared live capped block, Levenshtein ≤ `maxDist`,
    * name_a < name_b) over an arbitrary name frame — the batch edge
    * definition [[graft.sources.EntityIndex]] must agree with: block
    * sizes come from the GIVEN name set, the cap drops oversized
    * blocks, and the edit distance runs only on pair-deduped blocked
    * candidates. */
  private[graft] def matchEdgesOfNames(names: DataFrame,
      cap: Long = MaxBlockSize, blockers: Seq[Blocker] = PartBlockers,
      maxDist: Int = MatchMaxDist): DataFrame = {
    val b = blocksOfNames(names, blockers)
    val live = b.groupBy(col("slot"), col("key"))
      .agg(count(lit(1)).as("bs")).where(col("bs") <= cap)
      .select(col("slot"), col("key"))
    val inLive = b.join(live, Seq("slot", "key"))
    inLive.as("x").join(inLive.as("y"),
        col("x.slot") === col("y.slot") && col("x.key") === col("y.key") &&
          col("x.name") < col("y.name"))
      .select(col("x.name").as("name_a"), col("y.name").as("name_b"))
      .distinct()
      .where(levenshtein(col("name_a"), col("name_b")) <= maxDist)
  }

  /** LIBRARY ENTRY — resolve an arbitrary record frame into entity
    * labels: group `records` on `nameCol` into the distinct-name
    * dimension (node id = min `idCol`, deterministic and order-free),
    * build the match graph with the given blocking passes and edit
    * threshold, and cluster it with the dedup family's dual component
    * solver. Returns (name, nid, entity_id) — entity id = the min node
    * id of the match component, singletons label themselves.
    *
    * The part-table family (q154–q157, q161–q162) is exactly this with
    * the defaults; `EntityOpsSpec` drives a second schema (people
    * records blocked on initial + surname) through the same spine. The
    * scale shape is schema-independent: everything runs on the
    * distinct-name dimension, oversized blocks drop at the cap, and
    * records reach their entity via one hash join on the name. */
  def resolveEntities(records: DataFrame, idCol: String, nameCol: String,
      blockers: Seq[Blocker] = PartBlockers, maxDist: Int = MatchMaxDist,
      cap: Long = MaxBlockSize): DataFrame = {
    val nm = records.groupBy(col(nameCol).as("name"))
      .agg(min(col(idCol)).cast("long").as("nid")).persist()
    val edges = matchEdgesOfNames(nm.select(col("name")), cap, blockers, maxDist)
      .join(nm.select(col("name").as("name_a"), col("nid").as("doc_a")), "name_a")
      .join(nm.select(col("name").as("name_b"), col("nid").as("doc_b")), "name_b")
      .select(col("doc_a"), col("doc_b")).persist()
    val labels =
      if (TextOps.isSubcritical(edges))
        TextOps.componentLabelsLocal(edges).localCheckpoint()
      else TextOps.componentLabelsIterative(edges)
    edges.unpersist()
    val labeled = nm
      .join(labels.withColumnRenamed("doc_id", "nid"), Seq("nid"), "left")
      .select(col("name"), col("nid"), coalesce(col("lbl"), col("nid")).as("entity_id"))
    nm.unpersist()
    labeled
  }

  /** Blocks that survive the size cap (see [[MaxBlockSize]]). */
  private def sizedBlocks(s: SparkSession, d: String, cap: Long): DataFrame = {
    import s.implicits._
    blocks(s, d).groupBy($"slot", $"key")
      .agg(count(lit(1)).as("block_size"))
      .where($"block_size" <= cap)
  }

  /** All blocked candidate pairs (pre-threshold) of an arbitrary name
    * frame: distinct name pairs sharing at least one capped block, with
    * how many blocking passes found them. The compare budget every
    * downstream step (q154's edit filter, q157's Fellegi–Sunter scorer)
    * is confined to. */
  private[graft] def candidatePairsOfNames(names: DataFrame,
      blockers: Seq[Blocker] = PartBlockers,
      cap: Long = MaxBlockSize): DataFrame = {
    val b = blocksOfNames(names, blockers)
    val live = b.groupBy(col("slot"), col("key"))
      .agg(count(lit(1)).as("block_size")).where(col("block_size") <= cap)
      .select(col("slot"), col("key"))
    b.join(live, Seq("slot", "key")).as("x")
      .join(b.as("y"),
        col("x.slot") === col("y.slot") && col("x.key") === col("y.key") &&
          col("x.name") < col("y.name"))
      .groupBy(col("x.name").as("name_a"), col("y.name").as("name_b"))
      .agg(count(lit(1)).as("shared_blocks"))
  }

  private[graft] def blockedCandidates(s: SparkSession, d: String,
      cap: Long = MaxBlockSize): DataFrame =
    candidatePairsOfNames(nameDim(s, d).select(col("name")), PartBlockers, cap)

  /** q154 — blocked fuzzy candidate pairs: distinct name pairs that
    * share at least one (capped) block and sit within [[MatchMaxDist]]
    * edits. Levenshtein runs only on blocked pairs AFTER the pair-dedup
    * groupBy — never all pairs, and each surviving pair pays the edit
    * distance once. */
  def q154ErPairs(s: SparkSession, d: String, cap: Long = MaxBlockSize): DataFrame = {
    import s.implicits._
    blockedCandidates(s, d, cap)
      .withColumn("lev_dist", levenshtein($"name_a", $"name_b").cast("long"))
      .where($"lev_dist" <= MatchMaxDist)
      .select($"name_a", $"name_b", $"lev_dist", $"shared_blocks")
  }

  val q154Sql: String =
    s"""WITH nm AS (
      |  SELECT p_name AS name,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, 1, instr(p_name, ' ') - 1)
      |         END AS adj,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, length(p_name) - instr(reverse(p_name), ' ') + 2)
      |         END AS noun
      |  FROM part GROUP BY p_name
      |),
      |blocks AS (
      |  SELECT name, 'adj' AS slot, adj AS key FROM nm
      |  UNION ALL
      |  SELECT name, 'noun' AS slot, noun AS key FROM nm
      |),
      |sized AS (
      |  SELECT slot, key FROM blocks GROUP BY slot, key
      |  HAVING count(*) <= $MaxBlockSize
      |),
      |cand AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |         CAST(count(*) AS BIGINT) AS shared_blocks
      |  FROM blocks a
      |  JOIN sized s ON s.slot = a.slot AND s.key = a.key
      |  JOIN blocks b ON b.slot = a.slot AND b.key = a.key AND a.name < b.name
      |  GROUP BY a.name, b.name
      |)
      |SELECT name_a, name_b,
      |       CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev_dist,
      |       shared_blocks
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= $MatchMaxDist""".stripMargin

  /** q173 — q154's blocked fuzzy pairs under the 3-PASS configuration
    * ([[PartBlockers3]]): token passes + the consonant-skeleton
    * fallback, through the same generic candidate spine. The pair set
    * is a SUPERSET of q154's (adding a pass can only add candidates —
    * EntityOpsSpec pins the recall gain and its pair-budget cost with
    * q156's instrument), `shared_blocks` now counts up to 3, and the
    * compare budget stays capped per pass exactly as before. */
  def q173ErPairs3Pass(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    candidatePairsOfNames(nameDim(s, d).select($"name"), PartBlockers3, MaxBlockSize)
      .withColumn("lev_dist", levenshtein($"name_a", $"name_b").cast("long"))
      .where($"lev_dist" <= MatchMaxDist)
      .select($"name_a", $"name_b", $"lev_dist", $"shared_blocks")
  }

  val q173Sql: String =
    s"""WITH nm AS (
      |  SELECT p_name AS name,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, 1, instr(p_name, ' ') - 1)
      |         END AS adj,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, length(p_name) - instr(reverse(p_name), ' ') + 2)
      |         END AS noun,
      |         substr(regexp_replace(lower(p_name), '[aeiou ]', '', 'g'), 1, 4) AS skel
      |  FROM part GROUP BY p_name
      |),
      |blocks AS (
      |  SELECT name, 'adj' AS slot, adj AS key FROM nm
      |  UNION ALL
      |  SELECT name, 'noun' AS slot, noun AS key FROM nm
      |  UNION ALL
      |  SELECT name, 'skel' AS slot, skel AS key FROM nm
      |),
      |sized AS (
      |  SELECT slot, key FROM blocks GROUP BY slot, key
      |  HAVING count(*) <= $MaxBlockSize
      |),
      |cand AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |         CAST(count(*) AS BIGINT) AS shared_blocks
      |  FROM blocks a
      |  JOIN sized s ON s.slot = a.slot AND s.key = a.key
      |  JOIN blocks b ON b.slot = a.slot AND b.key = a.key AND a.name < b.name
      |  GROUP BY a.name, b.name
      |)
      |SELECT name_a, name_b,
      |       CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev_dist,
      |       shared_blocks
      |FROM cand
      |WHERE levenshtein(name_a, name_b) <= $MatchMaxDist""".stripMargin

  /** q155 — resolved entities with their golden records: connected
    * components of the q154 match graph (every distinct name a node,
    * entity id = min node id of the component — the dedup family's
    * label contract), then one merge aggregation over the RECORD table:
    * how many name variants the entity subsumes, how many records it
    * covers, how many brands those records span, and the merged price
    * total. This is the survivorship step — the table a downstream
    * pipeline would join records against instead of the dirty key. */
  /** The clustering step's raw output — every distinct name with its
    * numeric node id and resolved entity id (= min nid of its match
    * component; singletons label themselves). The map q155 merges over
    * and the streaming resolve face broadcasts. */
  def entityLabels(s: SparkSession, d: String): DataFrame =
    resolveEntities(parts(s, d), "p_partkey", "p_name")

  def q155ErEntities(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r20: localCheckpoint, not persist/unpersist — the unpersist ran
    // BEFORE the caller's action materialized anything, so the whole
    // label chain (name dim + blocked match edges) re-derived once per
    // consumer (canonical-name arm + record join). The lazy checkpoint
    // computes it once, at the caller's action; the label table is
    // name-dimension-sized.
    val labeled = entityLabels(s, d).localCheckpoint(eager = false)
    val canon = labeled.where($"nid" === $"entity_id")
      .select($"entity_id", $"name".as("canonical_name"))
    parts(s, d)
      .join(labeled.select($"name", $"entity_id"), $"p_name" === $"name")
      .join(canon, "entity_id")
      .groupBy($"entity_id", $"canonical_name")
      .agg(
        countDistinct($"p_name").cast("long").as("n_name_variants"),
        count(lit(1)).as("n_records"),
        countDistinct($"p_brand").cast("long").as("n_brands"),
        round(sum($"p_retailprice"), 2).as("total_price"))
  }

  val q155Sql: String =
    s"""WITH RECURSIVE nm AS (
      |  SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS nid,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, 1, instr(p_name, ' ') - 1)
      |         END AS adj,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, length(p_name) - instr(reverse(p_name), ' ') + 2)
      |         END AS noun
      |  FROM part GROUP BY p_name
      |),
      |blocks AS (
      |  SELECT name, 'adj' AS slot, adj AS key FROM nm
      |  UNION ALL
      |  SELECT name, 'noun' AS slot, noun AS key FROM nm
      |),
      |sized AS (
      |  SELECT slot, key FROM blocks GROUP BY slot, key
      |  HAVING count(*) <= $MaxBlockSize
      |),
      |cand AS (
      |  SELECT a.name AS name_a, b.name AS name_b
      |  FROM blocks a
      |  JOIN sized s ON s.slot = a.slot AND s.key = a.key
      |  JOIN blocks b ON b.slot = a.slot AND b.key = a.key AND a.name < b.name
      |  GROUP BY a.name, b.name
      |),
      |mtch AS (
      |  SELECT name_a, name_b FROM cand
      |  WHERE levenshtein(name_a, name_b) <= $MatchMaxDist
      |),
      |e0 AS (
      |  SELECT x.nid AS a, y.nid AS b
      |  FROM mtch m JOIN nm x ON x.name = m.name_a JOIN nm y ON y.name = m.name_b
      |),
      |edges AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
      |reach(node, lbl) AS (
      |  SELECT nid, nid FROM nm
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS nid, min(lbl) AS entity_id FROM reach GROUP BY node),
      |labeled AS (SELECT n.name, c.entity_id FROM nm n JOIN comp c ON c.nid = n.nid),
      |canon AS (
      |  SELECT DISTINCT c.entity_id, n.name AS canonical_name
      |  FROM comp c JOIN nm n ON n.nid = c.entity_id
      |)
      |SELECT l.entity_id, cn.canonical_name,
      |       CAST(count(DISTINCT p.p_name) AS BIGINT) AS n_name_variants,
      |       count(*) AS n_records,
      |       CAST(count(DISTINCT p.p_brand) AS BIGINT) AS n_brands,
      |       round(sum(p.p_retailprice), 2) AS total_price
      |FROM part p
      |JOIN labeled l ON l.name = p.p_name
      |JOIN canon cn ON cn.entity_id = l.entity_id
      |GROUP BY l.entity_id, cn.canonical_name""".stripMargin

  /** q156 — blocking-quality report, per blocking pass: how many blocks
    * the pass makes, its largest block (the skew the cap watches), how
    * many candidate pairs it generates, how many are true matches, and
    * the resulting pairs-quality (precision proxy, Christen 2012 §7.3).
    * THE tuning instrument for the family: run it before committing to
    * a blocking scheme at full scale — a pass with a huge block count
    * and near-zero quality is wasted compare budget, one with tiny
    * quality and a giant max block is a skew incident waiting. Costs
    * one pass over the (small) name dimension. */
  def q156ErBlockingReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = blocks(s, d)
    val bstat = b.groupBy($"slot", $"key").agg(count(lit(1)).as("sz"))
      .groupBy($"slot")
      .agg(count(lit(1)).as("n_blocks"), max($"sz").as("max_block_size"))
    val live = sizedBlocks(s, d, MaxBlockSize).select($"slot", $"key")
    val pairs = b.join(live, Seq("slot", "key")).as("x")
      .join(b.as("y"),
        $"x.slot" === $"y.slot" && $"x.key" === $"y.key" && $"x.name" < $"y.name")
      .select($"x.slot".as("slot"), $"x.name".as("name_a"), $"y.name".as("name_b"))
    val pstat = pairs
      .groupBy($"slot")
      .agg(
        count(lit(1)).as("n_candidate_pairs"),
        sum(when(levenshtein($"name_a", $"name_b") <= MatchMaxDist, 1L).otherwise(0L))
          .as("n_matches"))
      .withColumn("pairs_quality",
        round($"n_matches".cast("double") / $"n_candidate_pairs".cast("double"), 6))
    bstat.join(pstat, "slot")
      .select($"slot", $"n_blocks", $"max_block_size",
        $"n_candidate_pairs", $"n_matches", $"pairs_quality")
  }

  val q156Sql: String =
    s"""WITH nm AS (
      |  SELECT p_name AS name,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, 1, instr(p_name, ' ') - 1)
      |         END AS adj,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, length(p_name) - instr(reverse(p_name), ' ') + 2)
      |         END AS noun
      |  FROM part GROUP BY p_name
      |),
      |blocks AS (
      |  SELECT name, 'adj' AS slot, adj AS key FROM nm
      |  UNION ALL
      |  SELECT name, 'noun' AS slot, noun AS key FROM nm
      |),
      |bstat AS (
      |  SELECT slot, CAST(count(*) AS BIGINT) AS n_blocks,
      |         CAST(max(sz) AS BIGINT) AS max_block_size
      |  FROM (SELECT slot, key, count(*) AS sz FROM blocks GROUP BY slot, key) t
      |  GROUP BY slot
      |),
      |sized AS (
      |  SELECT slot, key FROM blocks GROUP BY slot, key
      |  HAVING count(*) <= $MaxBlockSize
      |),
      |pairs AS (
      |  SELECT a.slot AS slot, a.name AS name_a, b.name AS name_b
      |  FROM blocks a
      |  JOIN sized s ON s.slot = a.slot AND s.key = a.key
      |  JOIN blocks b ON b.slot = a.slot AND b.key = a.key AND a.name < b.name
      |),
      |pstat AS (
      |  SELECT slot,
      |         count(*) AS n_candidate_pairs,
      |         CAST(sum(CASE WHEN levenshtein(name_a, name_b) <= $MatchMaxDist
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
      |  FROM pairs GROUP BY slot
      |)
      |SELECT b.slot, b.n_blocks, b.max_block_size,
      |       p.n_candidate_pairs, p.n_matches,
      |       round(CAST(p.n_matches AS DOUBLE) / CAST(p.n_candidate_pairs AS DOUBLE), 6)
      |         AS pairs_quality
      |FROM bstat b JOIN pstat p ON p.slot = b.slot""".stripMargin

  /** Fellegi–Sunter field parameters for [[q157ErMatchWeights]]:
    * (field, m, u) with m = P(field agrees | same entity) and
    * u = P(field agrees | different entities). Fixed calibrated
    * constants here (production systems estimate them by EM over the
    * candidate set — Herzog/Scheuren/Winkler 2007 ch. 8); the weights
    * derived from them are embedded as LITERAL doubles in both engines'
    * texts, so the gate never depends on log() parity. */
  val FsFields: Seq[(String, Double, Double)] = Seq(
    ("adj", 0.95, 0.05),   // adjective token equality
    ("noun", 0.95, 0.10),  // noun token equality
    ("near", 0.90, 0.01),  // near-exact name (Levenshtein <= 1)
    ("brand", 0.80, 0.20), // canonical-brand equality
    ("size", 0.70, 0.30))  // size-decade equality

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** log₂(m/u) per field — the weight an AGREEMENT contributes. */
  val FsAgreeW: Map[String, Double] =
    FsFields.map { case (f, m, u) => f -> log2(m / u) }.toMap

  /** log₂((1−m)/(1−u)) per field — the (negative) weight a
    * DISAGREEMENT contributes. */
  val FsDisagreeW: Map[String, Double] =
    FsFields.map { case (f, m, u) => f -> log2((1 - m) / (1 - u)) }.toMap

  /** Decision thresholds on the summed weight (Fellegi & Sunter's
    * upper/lower cut): ≥ upper ⇒ match, < lower ⇒ non-match, the band
    * between goes to clerical review ("possible"). Applied to the
    * ROUNDED weight so the decision column is consistent with the
    * displayed score. */
  val FsUpper: Double = 4.0
  val FsLower: Double = 0.0

  /** The per-name attribute dimension the scorer compares: the two name
    * tokens plus record-derived fields (canonical brand = min over the
    * name's records; size decade = floor(avg size / 10), exact in both
    * engines because integer sums are exact doubles). One aggregation
    * over the record table, output bounded by |distinct names|. */
  private def nameAttrs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    parts(s, d)
      .groupBy($"p_name".as("name"))
      .agg(min($"p_brand").as("canon_brand"),
        floor(avg($"p_size") / 10).cast("long").as("size_bucket"))
      .withColumn("adj", substring_index($"name", " ", 1))
      .withColumn("noun", substring_index($"name", " ", -1))
  }

  /** q157 — Fellegi–Sunter match scoring over ALL blocked candidates
    * (not just q154's edit-distance survivors — scoring is the decision
    * step that replaces a hard distance cut): each pair gets a field
    * agreement vector, the summed log-likelihood-ratio weight, and the
    * three-way decision. The weight literals are precomputed doubles
    * shared verbatim by both engines; the sum is a fixed-order chain of
    * five IEEE additions, so the score is bit-identical before the one
    * display round. Cost: the blocked-candidate set × O(1) per pair. */
  def q157ErMatchWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val at = nameAttrs(s, d)
    def side(suffix: String) = at.select(
      $"name".as(s"name_$suffix"), $"adj".as(s"adj_$suffix"),
      $"noun".as(s"noun_$suffix"), $"canon_brand".as(s"brand_$suffix"),
      $"size_bucket".as(s"size_$suffix"))
    def w(field: String, agrees: org.apache.spark.sql.Column) =
      when(agrees, lit(FsAgreeW(field))).otherwise(lit(FsDisagreeW(field)))
    val agree = Seq(
      "adj" -> ($"adj_a" === $"adj_b"),
      "noun" -> ($"noun_a" === $"noun_b"),
      "near" -> (levenshtein($"name_a", $"name_b") <= 1),
      "brand" -> ($"brand_a" === $"brand_b"),
      "size" -> ($"size_a" === $"size_b"))
    val weight = agree.map { case (f, c) => w(f, c) }.reduceLeft(_ + _)
    blockedCandidates(s, d)
      .join(side("a"), "name_a").join(side("b"), "name_b")
      .withColumn("n_agreements",
        agree.map { case (_, c) => when(c, 1L).otherwise(0L) }.reduceLeft(_ + _))
      .withColumn("match_weight", round(weight, 6))
      .withColumn("decision",
        when($"match_weight" >= FsUpper, "match")
          .when($"match_weight" < FsLower, "non_match")
          .otherwise("possible"))
      .select($"name_a", $"name_b", $"n_agreements", $"match_weight", $"decision")
  }

  /** The q157 CTE chain through `scored(name_a, name_b, n_agreements,
    * match_weight)` — shared by q157's row-level output and q161's
    * per-decision rollup. */
  private val scoredCtes: String = {
    def caseW(field: String, cond: String) =
      s"CASE WHEN $cond THEN ${FsAgreeW(field)} ELSE ${FsDisagreeW(field)} END"
    def case1(cond: String) = s"CASE WHEN $cond THEN 1 ELSE 0 END"
    val conds = Seq(
      "adj" -> "a.adj = b.adj",
      "noun" -> "a.noun = b.noun",
      "near" -> "levenshtein(c.name_a, c.name_b) <= 1",
      "brand" -> "a.canon_brand = b.canon_brand",
      "size" -> "a.size_bucket = b.size_bucket")
    val weightExpr = conds.map { case (f, c) => caseW(f, c) }.mkString(" + ")
    val agreeExpr = conds.map { case (_, c) => case1(c) }.mkString(" + ")
    s"""WITH at AS (
      |  SELECT p_name AS name,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, 1, instr(p_name, ' ') - 1)
      |         END AS adj,
      |         CASE WHEN instr(p_name, ' ') = 0 THEN p_name
      |              ELSE substr(p_name, length(p_name) - instr(reverse(p_name), ' ') + 2)
      |         END AS noun,
      |         min(p_brand) AS canon_brand,
      |         CAST(floor(avg(p_size) / 10) AS BIGINT) AS size_bucket
      |  FROM part GROUP BY p_name
      |),
      |blocks AS (
      |  SELECT name, 'adj' AS slot, adj AS key FROM at
      |  UNION ALL
      |  SELECT name, 'noun' AS slot, noun AS key FROM at
      |),
      |sized AS (
      |  SELECT slot, key FROM blocks GROUP BY slot, key
      |  HAVING count(*) <= $MaxBlockSize
      |),
      |cand AS (
      |  SELECT x.name AS name_a, y.name AS name_b
      |  FROM blocks x
      |  JOIN sized s ON s.slot = x.slot AND s.key = x.key
      |  JOIN blocks y ON y.slot = x.slot AND y.key = x.key AND x.name < y.name
      |  GROUP BY x.name, y.name
      |),
      |scored AS (
      |  SELECT c.name_a, c.name_b,
      |         CAST($agreeExpr AS BIGINT) AS n_agreements,
      |         round($weightExpr, 6) AS match_weight
      |  FROM cand c
      |  JOIN at a ON a.name = c.name_a
      |  JOIN at b ON b.name = c.name_b
      |)""".stripMargin
  }

  val q157Sql: String =
    s"""$scoredCtes
      |SELECT name_a, name_b, n_agreements, match_weight,
      |       CASE WHEN match_weight >= $FsUpper THEN 'match'
      |            WHEN match_weight < $FsLower THEN 'non_match'
      |            ELSE 'possible' END AS decision
      |FROM scored""".stripMargin

  /** q161 — threshold-evaluation report: the Fellegi–Sunter decisions
    * cross-tabulated against the edit-distance standard the rest of the
    * family uses (lev ≤ [[MatchMaxDist]]) — per decision class, how
    * many pairs land there and how many the distance heuristic also
    * calls a match. THE threshold-tuning loop of a real linkage system
    * (move [[FsUpper]]/[[FsLower]] until the `match` class is nearly
    * pure and `possible` is small enough for clerical review): a
    * `match` class with low edit agreement means the m/u model and the
    * distance rule disagree — investigate before trusting either.
    * Pure composition of the scored-candidates spine, output bounded by
    * the three decision classes. */
  def q161ErThresholdEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    q157ErMatchWeights(s, d)
      .withColumn("em",
        when(levenshtein($"name_a", $"name_b") <= MatchMaxDist, 1L).otherwise(0L))
      .groupBy($"decision")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum($"em").as("n_edit_matches"),
        round(sum($"em").cast("double") / count(lit(1)).cast("double"), 6)
          .as("edit_match_rate"))
  }

  val q161Sql: String =
    s"""$scoredCtes,
      |classified AS (
      |  SELECT name_a, name_b,
      |         CASE WHEN match_weight >= $FsUpper THEN 'match'
      |              WHEN match_weight < $FsLower THEN 'non_match'
      |              ELSE 'possible' END AS decision,
      |         CASE WHEN levenshtein(name_a, name_b) <= $MatchMaxDist
      |              THEN 1 ELSE 0 END AS em
      |  FROM scored)
      |SELECT decision, count(*) AS n_pairs,
      |       CAST(sum(em) AS BIGINT) AS n_edit_matches,
      |       round(CAST(sum(em) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |         AS edit_match_rate
      |FROM classified GROUP BY decision""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q154_er_pairs" -> ((s, d) => q154ErPairs(s, d)),
    "q155_er_entities" -> ((s, d) => q155ErEntities(s, d)),
    "q156_er_blocking_report" -> ((s, d) => q156ErBlockingReport(s, d)),
    "q157_er_match_weights" -> ((s, d) => q157ErMatchWeights(s, d)),
    "q161_er_threshold_eval" -> ((s, d) => q161ErThresholdEval(s, d)),
    "q173_er_pairs_3pass" -> ((s, d) => q173ErPairs3Pass(s, d)))

  val oracleSql: Map[String, String] = Map(
    "q154_er_pairs" -> q154Sql,
    "q155_er_entities" -> q155Sql,
    "q156_er_blocking_report" -> q156Sql,
    "q157_er_match_weights" -> q157Sql,
    "q161_er_threshold_eval" -> q161Sql,
    "q173_er_pairs_3pass" -> q173Sql)
}
