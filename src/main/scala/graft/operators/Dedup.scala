package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for LLM training-data pipelines: exact,
  * n-gram Jaccard (blocked), MinHash+LSH, SimHash, and embedding-cosine
  * near-dup detection.
  *
  * Scale posture: nothing here is O(n²) on the corpus. Pair generation
  * always goes through a blocking key (LSH band, SimHash band, label,
  * or (lang, length-bucket)) expressed as a shuffle join on that key —
  * the candidate set is linear-ish in practice, and every stage is a
  * plain DataFrame op (no driver-side loops, no collect).
  *
  * Caching: pair-generation operators persist their self-join input via
  * [[graft.Caching.withCached]] so the upstream tokenize/signature
  * pipeline materializes once per query, not once per join side; the
  * input cache is released before the operator returns and the
  * materialized result is GC-managed, so long-lived sessions composing
  * many of these operators see no unbounded cache growth.
  */
object Dedup {

  /** Lowercase + collapse whitespace: the canonical text for hashing. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), " +", " ")

  /** Exact Jaccard of two DISTINCT gram-hash arrays from the intersect
    * size alone: |A∪B| = |A| + |B| − |A∩B|, so the union set is never
    * materialized — one hash-set pass per pair instead of two on the
    * million-pair verify joins. Identical integers → the division is
    * the identical double, so every oracle's
    * `len(list_intersect) / len(list_distinct(list_concat))` mirror
    * keeps hash-matching.
    */
  private def jaccardOf(gramsA: Column, gramsB: Column): Column = {
    val inter = size(array_intersect(gramsA, gramsB)).cast("double")
    inter / ((size(gramsA) + size(gramsB)).cast("double") - inter)
  }

  // =========================================================================
  // Exact dedup: hash-groupBy on normalized content
  // =========================================================================
  /** One row per distinct content: md5 key, keeper (min doc_id),
    * duplicate count. Single shuffle on the 128-bit key.
    */
  def exact(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), md5(normText(col("text"))).as("content_key"))
    .groupBy(col("content_key"))
    .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("dup_count"))

  val exactSql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS content_key,
       MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
       FROM documents
       GROUP BY 1
       ORDER BY content_key"""

  // =========================================================================
  // N-gram Jaccard near-dup pairs with blocking
  // =========================================================================
  /** Distinct word n-grams of already-normalized text. */
  def ngrams(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    if (n == 1) array_distinct(toks)
    else
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " "))))
  }

  /** Distinct n-gram FNV-1a hashes: set-similarity math (intersect /
    * union / Jaccard) over long arrays instead of string arrays —
    * element hashing is the hot cost of a pair comparison, and a
    * specialized long hash set beats per-element UTF-8 hashing ~2-3x.
    * A 64-bit collision merges the same two grams in BOTH engines (the
    * oracle re-derives the identical hash), so comparisons stay exact.
    */
  def hashedNgrams(s: SparkSession, text: Column, n: Int): Column = {
    graft.functions.Fingerprint.register(s)
    array_distinct(transform(ngrams(text, n),
      g => call_function("fnv1a64", g)))
  }

  /** Near-dup pairs by n-gram Jaccard within (lang, token-bucket)
    * blocks. The self-join runs on the block key only — no crossJoin.
    *
    * Scale note: this is the EXACT verifier; within-block cost is
    * O(m²) in the block size, so at 100 TB it serves as the
    * verification stage behind [[minhashLsh]] (linear candidate
    * generation), not as the primary pair generator.
    */
  /** The blocked gram base (doc_id, lang, grams, len_bucket) shared by
    * the exact pair generator and [[dedupRecallBounds]].
    */
  private def ngramBase(docs: DataFrame, n: Int): DataFrame = docs.select(
    col("doc_id"), col("lang"),
    hashedNgrams(docs.sparkSession, normText(col("text")), n).as("grams"),
    (size(split(normText(col("text")), " ")) / 10).cast("int").as("len_bucket"))

  /** Blocked exact pairs from a (cached) [[ngramBase]] frame. */
  private def ngramPairsFromBase(base: DataFrame, threshold: Double): DataFrame = {
    val a = base.select(col("lang"), col("len_bucket"),
      col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val b = base.select(col("lang"), col("len_bucket"),
      col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    a.join(b, Seq("lang", "len_bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", jaccardOf(col("grams_a"), col("grams_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("lang"))
  }

  def ngramJaccard(docs: DataFrame, n: Int = 1,
      threshold: Double = 0.8): DataFrame = {
    // both sides of the self-join read this: persist for the join, or
    // the whole tokenize/ngram pipeline runs twice. repartition: the
    // self-join's pair blow-up must not inherit the scan's partition
    // count (single-file corpus = one task) when AQE broadcasts a side
    val base = ngramBase(docs, n).repartition(col("doc_id"))
    graft.Caching.withCached(base) {
      ngramPairsFromBase(base, threshold)
    }
  }

  /** Shared oracle CTEs `base` (blocked gram sets) and `pairs`
    * (thresholded unigram-Jaccard matches) — the single definition of
    * the blocking + threshold rule, reused by [[ngramJaccardSql]] and
    * [[Clusters.dupClustersSql]] so the two oracles cannot drift.
    */
  /** Oracle mirror of [[hashedNgrams]] for unigrams: distinct token
    * FNV hashes (nested lambda — fold per token).
    */
  private def hashedUnigramsSql(normExpr: String): String =
    s"""list_distinct(list_transform(
          list_distinct(string_split($normExpr, ' ')),
          g -> ${OracleFnv.ofText("g")}))"""

  /** [[ngramPairCtesSql]] with every CTE name prefixed — for oracles
    * that must compose the blocked relation with other CTE families
    * (the recall gate) without `base`/`pairs` name collisions. One
    * definition of the blocking + threshold rule either way.
    */
  def ngramPairCtes(p: String): String =
    s"""${p}base AS (
         SELECT doc_id, lang,
           ${hashedUnigramsSql("regexp_replace(lower(trim(text)), ' +', ' ', 'g')")} AS grams,
           CAST(len(string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) // 10 AS INT) AS len_bucket
         FROM documents),
       ${p}pairs AS (
         SELECT * FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
               AS jaccard,
             a.lang
           FROM ${p}base a
           JOIN ${p}base b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
             AND a.doc_id < b.doc_id)
         WHERE jaccard >= 0.8)"""

  val ngramPairCtesSql: String = ngramPairCtes("")

  val ngramJaccardSql: String =
    s"""WITH $ngramPairCtesSql
       SELECT doc_a, doc_b, jaccard, lang FROM pairs
       ORDER BY doc_a, doc_b"""

  // =========================================================================
  // Edit-distance (Levenshtein) fuzzy matching with length blocking
  // =========================================================================
  /** Fuzzy string self-match: pairs of distinct names within edit
    * distance `maxDist`, blocked by length bucket so only plausible
    * pairs are compared (an edit distance ≤ d implies a length gap ≤ d,
    * so comparing adjacent buckets of width ≥ d keeps recall exact while
    * the join stays a key-equality shuffle).
    */
  def fuzzyNamePairs(names: DataFrame, nameCol: String,
      maxDist: Int = 4): DataFrame = {
    val bucketW = math.max(maxDist, 4)
    // distinct() already spreads base across shuffle partitions, so the
    // self-join's output parallelism is safe without a repartition
    val base = names.select(lower(trim(col(nameCol))).as("name")).distinct()
      .withColumn("len_bucket", (length(col("name")) / bucketW).cast("int"))
    // probe down, same, AND up: the name_a < name_b output filter is
    // independent of which side holds the longer name, so probing only
    // upward would drop pairs whose lexicographically smaller member is
    // the longer one; distinct() dedups the doubled matches
    val a = base.select(col("name").as("name_a"),
      col("len_bucket"), explode(array(col("len_bucket") - 1,
        col("len_bucket"), col("len_bucket") + 1)).as("probe_bucket"))
    val b = base.select(col("name").as("name_b"),
      col("len_bucket").as("probe_bucket"))
    graft.Caching.withCached(base) {
      a.join(b, Seq("probe_bucket"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("edit_distance",
          levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("edit_distance") <= maxDist)
        .select(col("name_a"), col("name_b"), col("edit_distance"))
        .distinct()
    }
  }

  val fuzzyNamePairsSql: String =
    """WITH base AS (
         SELECT DISTINCT lower(trim(p_name)) AS name FROM part),
       bucketed AS (
         SELECT name, CAST(length(name) // 4 AS INT) AS len_bucket FROM base),
       a AS (
         SELECT name AS name_a, probe_bucket
         FROM bucketed, UNNEST([len_bucket - 1, len_bucket, len_bucket + 1]) AS t(probe_bucket)),
       b AS (SELECT name AS name_b, len_bucket AS probe_bucket FROM bucketed)
       SELECT DISTINCT a.name_a, b.name_b,
         CAST(levenshtein(a.name_a, b.name_b) AS BIGINT) AS edit_distance
       FROM a JOIN b ON a.probe_bucket = b.probe_bucket
       WHERE a.name_a < b.name_b
         AND levenshtein(a.name_a, b.name_b) <= 4
       ORDER BY name_a, name_b"""

  // =========================================================================
  // MinHash + LSH near-dup detection
  // =========================================================================
  /** Deterministic affine permutations over a Mersenne prime. */
  // 31-bit Mersenne prime: a·h + b stays well under Long.MaxValue (no
  // overflow under ANSI mode) while keeping a universal-hash family.
  private val MinhashPrime = 2147483647L // 2^31 - 1
  private def perms(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = math.abs(i * 0x9e3779b97f4a7c15L + 0x85ebca6bL) % (MinhashPrime - 1) + 1
      val b = math.abs(i * -0x4d4d3a7a2d82b4b1L + 0x27d4eb2fL) % MinhashPrime
      (a, b)
    }

  /** (doc_id, band_idx, band_hash) table — the LSH index artifact,
    * from a precomputed (doc_id, grams) table of distinct gram FNV
    * hashes: callers that also need the gram sets for exact
    * verification ([[minhashLsh]], [[incrementalDedup]],
    * [[dedupRecallBounds]]) tokenize+hash ONCE and share the cached
    * frame between banding and verify stages. Band key = fnv1a64 of
    * the comma-joined signature slice (not murmur3 `hash`): same
    * compact bucket key, but oracle-reproducible.
    *
    * The whole index row (minhash signatures folded into band hashes)
    * comes from the single-evaluation [[graft.functions.MinhashBands]]
    * kernel — all k mins in one pass over the gram array, per row, no
    * explode and no shuffle; values are bit-identical to the oracle's
    * unnest+MIN CTEs. `posexplode` supplies (band_idx, band_hash) with
    * one kernel run per document.
    */
  def bandedSignaturesFromGrams(grams: DataFrame, k: Int,
      bands: Int): DataFrame = {
    val ab = perms(k)
    val bandsExpr = graft.functions.MinhashBands(
      org.apache.spark.sql.GraftDatasetFactory.expression(col("grams")),
      ab.map(_._1).toArray, ab.map(_._2).toArray, bands)
    grams
      .select(col("doc_id"),
        org.apache.spark.sql.GraftDatasetFactory.column(bandsExpr).as("bands"))
      // empty gram array → null bands: such a doc has no signature, so
      // it must not reach banding
      .filter(col("bands").isNotNull)
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
  }

  /** Raw band-collision pairs (pre-distinct: one row per shared band)
    * from a banded signature table — self-join on (band_idx, band_hash).
    */
  private def bandCollisions(exploded: DataFrame): DataFrame =
    exploded.as("x").join(exploded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))

  /** Distinct candidate pairs — the LSH blocking output, before exact
    * verification.
    */
  private def bandCandidates(exploded: DataFrame): DataFrame =
    bandCollisions(exploded).distinct()

  /** LSH candidate pairs + exact Jaccard verification.
    * bands×rows must equal k. Candidates come from a self-join on
    * (band_idx, band_hash); verification joins the precomputed shingle
    * sets and filters on true Jaccard.
    *
    * Defaults tuned so the S-curve midpoint sits BELOW the verify
    * threshold: 8 bands of 8 rows put the midpoint at (1/2)^(1/8) ≈
    * 0.917, giving candidate probability ≈ 0.9998 at the 0.95 verify
    * threshold (vs ~0.69 for the old 2×16 banding, whose midpoint 0.958
    * sat above the threshold and silently dropped ~31% of borderline
    * true near-dups) while staying ≈ 0.07 at jaccard 0.7 — candidates
    * stay linear and the exact-Jaccard verify absorbs the extras. The
    * recall floor is asserted in-gate by `dedup_recall_bounds`.
    */
  def minhashLsh(docs: DataFrame, n: Int = 1, k: Int = 64, bands: Int = 8,
      threshold: Double = 0.95): DataFrame = {
    // ONE tokenize+hash pass: the cached gram table feeds both the
    // signature pipeline and the exact-Jaccard verify join sides.
    // repartition: the kernel banding keeps the SCAN's partitioning (a
    // single-file corpus = one partition), and AQE broadcast-joins the
    // tiny band table — so without this the multi-million-pair
    // candidate blow-up would land on the scan's task count instead of
    // spreading across the cluster. One small shuffle of gram arrays
    // buys full parallelism for candidates + verify.
    val grams = docs.select(col("doc_id"),
      hashedNgrams(docs.sparkSession, normText(col("text")), n).as("grams"))
      .repartition(col("doc_id"))
    val exploded = bandedSignaturesFromGrams(grams, k, bands)
    graft.Caching.withCached(grams, exploded) {
      val cands = bandCandidates(exploded)
      cands
        .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("grams_a")), Seq("doc_a"))
        .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")), Seq("doc_b"))
        .withColumn("jaccard", jaccardOf(col("grams_a"), col("grams_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }
  }

  // =========================================================================
  // Incremental dedup: new batch vs a stored LSH index
  // =========================================================================
  /** Daily-ingest dedup shape: a NEW batch of documents is deduped
    * against the existing corpus WITHOUT re-pairing the corpus with
    * itself. The corpus's band table ([[bandedSignaturesFromGrams]]) is the
    * stored index artifact; only batch-vs-index and batch-vs-earlier-
    * batch candidates are generated, so per-ingest cost is
    * O(batch + collisions), never O(corpus²) — the property that makes
    * continuous 100 TB ingest affordable.
    *
    * Membership is derived from the same content-hash bucket as
    * `corpus_split` (pmod(fnv1a64(norm text), 100)): buckets ≥
    * `batchBucketMin` play the newly-arrived batch. One row per batch
    * doc: `is_dup`, the smallest matching `dup_of`, and that pair's
    * verified Jaccard.
    */
  def incrementalDedup(docs: DataFrame, n: Int = 1, k: Int = 64,
      bands: Int = 8, threshold: Double = 0.95,
      batchBucketMin: Int = 80): DataFrame = {
    val s = docs.sparkSession
    val buckets = docs.select(col("doc_id"),
      pmod(graft.functions.Fingerprint.fnv1a64(s, normText(col("text"))),
        lit(100L)).as("bucket"))
    // repartition: same single-partition-scan hazard as [[minhashLsh]]
    val grams = docs.select(col("doc_id"),
      hashedNgrams(s, normText(col("text")), n).as("grams"))
      .repartition(col("doc_id"))
    val bandTable = bandedSignaturesFromGrams(grams, k, bands)
      .join(buckets, Seq("doc_id"))
    // buckets is read twice (inside bandTable and for the final batch
    // membership) — cache it, or the corpus is re-hashed per use
    graft.Caching.withCached(bandTable, grams, buckets) {
      val newSide = bandTable.filter(col("bucket") >= batchBucketMin)
        .select(col("doc_id").as("new_doc"), col("band_idx"), col("band_hash"))
      val cands = newSide.join(bandTable
            .select(col("doc_id").as("other_doc"), col("band_idx"),
              col("band_hash"), col("bucket").as("other_bucket")),
          Seq("band_idx", "band_hash"))
        .filter(col("other_bucket") < batchBucketMin ||
          col("other_doc") < col("new_doc"))
        .select(col("new_doc"), col("other_doc"))
        .distinct()
      val verified = cands
        .join(grams.select(col("doc_id").as("new_doc"), col("grams").as("grams_a")),
          Seq("new_doc"))
        .join(grams.select(col("doc_id").as("other_doc"), col("grams").as("grams_b")),
          Seq("other_doc"))
        .withColumn("jaccard", jaccardOf(col("grams_a"), col("grams_b")))
        .filter(col("jaccard") >= threshold)
        // min(struct) picks the smallest other_doc and carries ITS
        // jaccard (other_doc is unique per pair, so no tie ambiguity)
        .groupBy(col("new_doc"))
        .agg(min(struct(col("other_doc"), col("jaccard"))).as("best"))
        .select(col("new_doc"), col("best.other_doc").as("dup_of"),
          col("best.jaccard").as("dup_jaccard"))
      buckets.filter(col("bucket") >= batchBucketMin)
        .select(col("doc_id"))
        .join(verified, col("doc_id") === col("new_doc"), "left")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
          col("dup_of"), col("dup_jaccard"))
    }
  }

  /** Oracle for `dedup_incremental` (defaults: n=1, k=64, bands=8,
    * threshold=0.95, batch = content buckets ≥ 80).
    */
  val incrementalDedupSql: String = {
    val norm = "regexp_replace(lower(trim(text)), ' +', ' ', 'g')"
    s"""WITH ${minhashIndexCtesSql(64, 8)},
       split AS (
         SELECT doc_id,
           ((${OracleFnv.ofText(norm)} % 100) + 100) % 100 AS bucket
         FROM documents),
       cand AS (
         SELECT DISTINCT b.doc_id AS new_doc, i.doc_id AS other_doc
         FROM bh b
         JOIN bh i ON b.band_idx = i.band_idx AND b.band_hash = i.band_hash
         JOIN split sb ON sb.doc_id = b.doc_id
         JOIN split si ON si.doc_id = i.doc_id
         WHERE sb.bucket >= 80
           AND (si.bucket < 80 OR i.doc_id < b.doc_id)),
       verified AS (
         SELECT c.new_doc,
           MIN(c.other_doc) AS dup_of,
           min_by(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE),
             c.other_doc) AS dup_jaccard
         FROM cand c
         JOIN base ga ON ga.doc_id = c.new_doc
         JOIN base gb ON gb.doc_id = c.other_doc
         WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE)
             >= 0.95
         GROUP BY c.new_doc)
       SELECT s.doc_id,
         v.dup_of IS NOT NULL AS is_dup,
         v.dup_of, v.dup_jaccard
       FROM split s
       LEFT JOIN verified v ON v.new_doc = s.doc_id
       WHERE s.bucket >= 80
       ORDER BY s.doc_id"""
  }

  // =========================================================================
  // SimHash near-dup detection
  // =========================================================================
  /** 64-bit SimHash per doc: explode tokens, 64 conditional sums in one
    * aggregation (sign of each bit-weighted sum), assemble the long.
    * Token hash is the native `fnv1a64` so the oracle can mirror it.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(normText(col("text")), " ")).as("tok"))
      .withColumn("h",
        graft.functions.Fingerprint.fnv1a64(docs.sparkSession, col("tok")))
    val aggs = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val bits = toks.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val sim = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_ + _)
    bits.select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxHamming, candidates from
    * 4×16-bit band collisions (pigeonhole: ≤3 differing bits ⇒ at least
    * one band identical).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val s = simhash(docs)
    val banded = s.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(bIdx =>
        struct(lit(bIdx).as("band_idx"),
          shiftright(col("simhash"), bIdx * 16).bitwiseAND(0xffffL)
            .as("band_val"))): _*)).as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_idx"), col("band.band_val"))
    // self-joined: persist, or the 64-sum simhash recomputes per side
    graft.Caching.withCached(banded) {
      banded.as("x").join(banded.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
        .distinct()
        .withColumn("hamming",
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }
  }

  // =========================================================================
  // Embedding-cosine near-dup pairs
  // =========================================================================
  /** Double-precision cosine with a deterministic left-fold — bitwise
    * reproducible across engines (see Similarity.cosine).
    *
    * Scale note: label-blocked exact pairing is O(m²) per label; at
    * 100 TB the linear path is [[Similarity.lshTopK]]'s bucketing with
    * this as the in-bucket verifier.
    */
  /** The normalized embedding base (vec_id, label, v, nrm) shared by
    * the exact pair generator and [[dedupRecallBounds]].
    */
  private def embBase(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))

  /** Label-blocked exact pairs from a (cached) [[embBase]] frame. */
  private def embPairsFromBase(base: DataFrame, threshold: Double): DataFrame =
    base.as("a").join(base.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        Similarity.cosinePre(Similarity.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)

  def embeddingPairs(emb: DataFrame, threshold: Double = 0.35): DataFrame = {
    // self-joined: persist so each vector's norm folds once;
    // repartition per the single-partition-scan note in [[ngramJaccard]]
    val base = embBase(emb).repartition(col("vec_id"))
    graft.Caching.withCached(base) {
      embPairsFromBase(base, threshold)
    }
  }

  /** Embedding near-dup pairs at scale: sign-LSH bucket blocking +
    * exact-cosine verify — the label-free LINEAR candidate generator
    * that fronts [[embeddingPairs]]'s exact in-block verifier at 100 TB
    * (cost = corpus × bucket occupancy, never all-pairs; every step is
    * a key-equality join). Candidate dedup carries ids only; vectors
    * and norms join back from the cached base afterward, so the
    * distinct shuffle moves 16 bytes per candidate, not 2×dim doubles.
    * Deterministic (literal fnv-derived hyperplanes, fold-exact
    * cosines) → full DuckDB oracle.
    */
  /** Sign-LSH (tbl, bucket) assignment per vector — the blocking key
    * table shared by [[embeddingLshPairs]] and the recall-bounds gate.
    */
  private def embBucketed(base: DataFrame, dim: Int,
      planes: Int, tables: Int): DataFrame =
    base.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          Similarity.lshBucket(col("v"), planes, t, dim).as("bucket"))): _*))
        .as("tb"))
      .select(col("vec_id"), col("tb.tbl"), col("tb.bucket"))

  /** Raw bucket-collision pairs (pre-distinct: one row per shared
    * (table, bucket)) from the bucket table.
    */
  private def embCollisions(bucketed: DataFrame): DataFrame =
    bucketed.as("a").join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))

  /** Distinct candidate pairs: any two vectors sharing a bucket in ANY
    * table, before exact-cosine verification.
    */
  private def embCandidates(bucketed: DataFrame): DataFrame =
    embCollisions(bucketed).distinct()

  /** Bucket-family shape for [[embeddingLshPairs]] and its recall gate:
    * 3 planes × 8 tables puts per-table collision probability at the
    * 0.35-cosine verify threshold at (1−θ/π)³ ≈ 0.23 (θ ≈ 69.8°), so
    * candidate recall ≈ 1−(1−0.23)⁸ ≈ 0.88 for borderline pairs —
    * higher for the rest of the truth set. 4 planes × 8 tables measured
    * 0.54 recall on the sf0.01 truth set; one plane fewer doubles the
    * bucket occupancy but the exact-cosine verify absorbs it.
    */
  private val EmbLshPlanes = 3
  private val EmbLshTables = 8

  def embeddingLshPairs(emb: DataFrame, threshold: Double = 0.35,
      planes: Int = EmbLshPlanes, tables: Int = EmbLshTables): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // repartition: same single-partition-scan hazard as [[minhashLsh]]
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .repartition(col("vec_id"))
    val bucketed = embBucketed(base, dim, planes, tables)
    graft.Caching.withCached(base, bucketed) {
      val cands = embCandidates(bucketed)
      cands
        .join(base.select(col("vec_id").as("vec_a"), col("v").as("va"),
          col("nrm").as("na")), Seq("vec_a"))
        .join(base.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("nrm").as("nb")), Seq("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          Similarity.cosinePre(Similarity.dot(col("va"), col("vb")),
            col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= threshold)
    }
  }

  /** Oracle for `dedup_embedding_lsh` (threshold=0.35, planes=3,
    * tables=8) — bucket CTEs shared with the ann_lsh_topk oracle.
    */
  val embeddingLshPairsSql: String =
    s"""WITH ${Similarity.signBucketCtesSql(EmbLshPlanes, EmbLshTables)},
       cands AS (
         SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM buckets a
         JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id),
       scored AS (
         SELECT c.vec_a, c.vec_b,
           list_dot_product(va.v, vb.v)
             / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))
             AS cosine
         FROM cands c
         JOIN vec va ON va.vec_id = c.vec_a
         JOIN vec vb ON vb.vec_id = c.vec_b)
       SELECT vec_a, vec_b, cosine FROM scored
       WHERE cosine >= 0.35
       ORDER BY vec_a, vec_b"""

  val embeddingPairsSql: String =
    """WITH base AS (
         SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
       FROM base a
       JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
       ORDER BY vec_a, vec_b"""

  // =========================================================================
  // LSH candidate-recall floors, asserted in the gate
  // =========================================================================
  /** Candidate-recall floors of the two LSH blocking paths, verified IN
    * the oracle gate (the discipline [[Similarity.recallBounds]] applies
    * to ANN): a mis-calibrated banding drops true near-dups SILENTLY —
    * the verify stage can only score pairs the blocker surfaced, so at
    * 100 TB the loss is invisible to every downstream check. The
    * minhash truth set is the COMPLETE all-pairs truth at the 0.95
    * verify threshold (generated linearly by [[PrefixJoin]] prefix
    * filtering — see its completeness proof); the embedding truth is
    * the label-blocked exact generator. Recall = fraction of truth
    * pairs surfaced as raw candidates (pre-verify). Floors: minhash
    * ≥ 0.95 (theory ≈ 0.9998
    * at jaccard 0.95 with k=64/bands=8), embedding sign-LSH ≥ 0.6
    * (3 planes × 8 tables at cosine 0.35: per-table collision ≈ 0.23 at
    * the threshold ⇒ expected recall ≈ 0.88, measured 0.80-0.83; the
    * rejected 4-plane config measured 0.54).
    *
    * Beyond the floors, the measured recall ITSELF is hash-verified:
    * every candidate generator here is deterministic (FNV-derived
    * permutations/hyperplanes, no randomness), so `recall_ppm` — hit
    * count × 10⁶ div truth count, all-integer — is reproduced exactly
    * by the DuckDB mirror of each pipeline. A one-pair regression in
    * any blocker changes the ppm and fails the gate, even while the
    * floor still holds.
    *
    * The third row scores the (lang, len_bucket)-blocked
    * [[ngramJaccard]] relation against the complete truth at its own
    * 4/5 threshold — the measurement that motivated rebuilding the
    * graph chain ([[Clusters]], [[Pagerank]]) on the complete relation:
    * blocking sees ~9% of true pairs (two near-identical docs of 59 vs
    * 61 tokens split buckets). Floor 0.0: the row exists to keep the
    * gap measured for any future caller of the blocked generator, not
    * to assert it away.
    */
  def dedupRecallBounds(docs: DataFrame, emb: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE tokenize+hash pass and ONE embedding-normalize pass: the
    // cached bases feed truth generator AND candidate generator on each
    // side (truth = the exact blocked pairs at each path's verify
    // threshold; candidates = the raw LSH collisions, pre-verify)
    // repartition: same single-partition-scan hazard as [[minhashLsh]]
    val mhBase = ngramBase(docs, 1).repartition(col("doc_id"))
    val eBase = embBase(emb).repartition(col("vec_id"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    graft.Caching.withCached(mhBase, eBase) {
      // COMPLETE truth via ONE prefix-filter pass at 4/5: the 0.95
      // truth (minhash's verify threshold) is its jaccard-filtered
      // subset — same pair values, same cross-multiplied predicate
      // form as pairsFromBase(19,20) would apply, one pass instead of
      // two. Banding is block-free, so its recall must be measured
      // against ALL true pairs — length-bucket blocking sees only 172
      // of the 1887 true 0.95 pairs at sf0.01 (buckets split
      // near-dups), which would floor recall against 9% of reality.
      val truthAll = PrefixJoin
        .pairsFromBase(mhBase.select(col("doc_id"), col("grams")), 4L, 5L)
      val truthMh = truthAll
        .filter(col("jaccard") * lit(20.0) >= lit(19.0))
        .select(col("doc_a"), col("doc_b"))
      val truthNg = truthAll.select(col("doc_a"), col("doc_b"))
      val collMh = bandCollisions(
        bandedSignaturesFromGrams(mhBase, 64, 8))
      val collNg = ngramPairsFromBase(mhBase, 0.8)
        .select(col("doc_a"), col("doc_b"))
      // embedding truth: sampled-COMPLETE — every ≥0.35 pair touching a
      // deterministic 1-in-50 probe sample, computed probe×corpus (the
      // ann_bruteforce broadcast shape; cost |sample|·N, linear in N
      // for a fixed sample rate). The label-blocked generator is
      // BIASED here: at sf0.01 245 of the 271 true 0.35-cosine pairs
      // are CROSS-label, invisible to label blocking — sign-LSH is
      // label-free, so its recall must be scored on unbiased truth.
      val probes = eBase
        .filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("p_id"), col("v").as("pv"),
          col("nrm").as("pnrm"))
      val truthEm = eBase.join(broadcast(probes), col("vec_id") =!= col("p_id"))
        .withColumn("cosine", Similarity.cosinePre(
          Similarity.dot(col("v"), col("pv")), col("nrm"), col("pnrm")))
        .filter(col("cosine") >= 0.35)
        .select(least(col("vec_id"), col("p_id")).as("vec_a"),
          greatest(col("vec_id"), col("p_id")).as("vec_b"))
        .distinct()
      val collEm = embCollisions(
        embBucketed(eBase, dim, EmbLshPlanes, EmbLshTables))
      // truth frames are read twice per row (size + hit join): persist
      // the shared complete relation and the sampled embedding truth so
      // the generation passes run once each
      graft.Caching.withCached(truthAll, truthEm) {
        // hit = |truth ∩ distinct(collisions)| computed WITHOUT
        // materializing the distinct candidate set: collisions stream
        // through a join against the truth set and only the matches
        // are deduplicated — no wide shuffle. The LSH truths are small
        // (broadcast); the 4/5 complete relation is the BIG side of
        // its row, so there the blocked pairs stream un-hinted.
        def recallRow(tag: String, truth: DataFrame, coll: DataFrame,
            keys: Seq[String], floor: Double,
            bcastTruth: Boolean = true): (Long, Long, Boolean) = {
          val n = truth.count()
          val t = if (bcastTruth) broadcast(truth) else truth
          val hit = coll.join(t, keys)
            .select(keys.map(col): _*).distinct().count()
          val recall = if (n == 0) 1.0 else hit.toDouble / n
          val ppm = if (n == 0) 1000000L else hit * 1000000L / n
          System.err.println(
            f"[dedup_recall_bounds] $tag truth=$n hit=$hit recall=$recall%.4f floor=$floor")
          (n, ppm, n == 0 || recall >= floor)
        }
        val (nMh, pMh, mhOk) =
          recallRow("minhash", truthMh, collMh, Seq("doc_a", "doc_b"), 0.95)
        val (nNg, pNg, ngOk) =
          recallRow("ngram_blocked", truthNg, collNg, Seq("doc_a", "doc_b"),
            0.0, bcastTruth = false)
        val (nEm, pEm, emOk) =
          recallRow("embedding_lsh", truthEm, collEm, Seq("vec_a", "vec_b"), 0.6)
        Seq(("embedding_lsh", nEm, pEm, emOk), ("minhash", nMh, pMh, mhOk),
            ("ngram_blocked", nNg, pNg, ngOk))
          .toDF("variant", "n_truth", "recall_ppm", "recall_ok")
      }
    }
  }

  /** Oracle for `dedup_recall_bounds`: exact truth sizes AND exact
    * recall — every candidate pipeline is deterministic, so the oracle
    * re-derives candidates (minhash bands via [[minhashIndexCtesSql]],
    * sign-LSH buckets via [[Similarity.signBucketCtesSql]], the blocked
    * relation via [[ngramPairCtes]]) and counts truth∩candidates
    * itself. `recall_ppm` is all-integer (hit·10⁶ // n), bit-equal to
    * the Spark side; `recall_ok` is the asserted floor (oracle emits
    * `true` — a violated floor hash-mismatches the gate).
    */
  val dedupRecallBoundsSql: String =
    s"""WITH ${minhashIndexCtesSql(64, 8)},
       ${ngramPairCtes("ng_")},
       ${Similarity.signBucketCtesSql(EmbLshPlanes, EmbLshTables)},
       allp AS (
         -- COMPLETE all-pairs relation at 4/5; the 0.95 minhash truth
         -- is its filtered subset (cross-multiplied predicates, same
         -- double jaccard both thresholds)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (CAST(len(a.grams) + len(b.grams) AS DOUBLE)
                - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE))
             AS jaccard
         FROM base a JOIN base b ON a.doc_id < b.doc_id),
       mh_truth AS (
         SELECT doc_a, doc_b FROM allp WHERE jaccard * 20.0 >= 19.0),
       ng_truth AS (
         SELECT doc_a, doc_b FROM allp WHERE jaccard * 5.0 >= 4.0),
       mh_cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bh x JOIN bh y
           ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
          AND x.doc_id < y.doc_id),
       em_truth AS (
         -- sampled-COMPLETE truth: all >=0.35 pairs touching the 1-in-50
         -- probe sample (label blocking would hide the cross-label
         -- majority of true pairs)
         SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
           greatest(a.vec_id, b.vec_id) AS vec_b
         FROM vec a JOIN vec b
           ON a.vec_id <> b.vec_id AND b.vec_id % 50 = 0
         WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35),
       em_cand AS (
         SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM buckets a JOIN buckets b
           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       u AS (
         SELECT 'embedding_lsh' AS variant,
           (SELECT COUNT(*) FROM em_truth) AS n,
           (SELECT COUNT(*) FROM em_truth t JOIN em_cand c
              ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b) AS hit
         UNION ALL
         SELECT 'minhash',
           (SELECT COUNT(*) FROM mh_truth),
           (SELECT COUNT(*) FROM mh_truth t JOIN mh_cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         UNION ALL
         SELECT 'ngram_blocked',
           (SELECT COUNT(*) FROM ng_truth),
           (SELECT COUNT(*) FROM ng_truth t JOIN ng_pairs p
              ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b))
       SELECT variant, CAST(n AS BIGINT) AS n_truth,
         CAST(CASE WHEN n = 0 THEN 1000000
                   ELSE (hit * 1000000) // n END AS BIGINT) AS recall_ppm,
         true AS recall_ok
       FROM u
       ORDER BY variant"""

  // ---- DuckDB oracles for the hash-based paths -----------------------------
  // Both re-derive the native fnv1a64 via OracleFnv's HUGEINT fold, so
  // the full pipeline (shingle hash → signatures → bands → candidate
  // join → verify) is reproduced exactly, constants included.

  /** Oracle for `dedup_minhash_lsh` with the registered defaults
    * (n=1, k=64, bands=8, threshold=0.95). Signature permutation
    * constants are inlined from [[perms]] so both engines use the same
    * affine maps.
    */
  /** Shared oracle CTEs `toks`→`base`→`sh`→`hv`→`sig`→`bh`: tokenize,
    * gram-hash, minhash signatures, and the banded index table — the
    * single definition of the signature pipeline, reused by
    * [[minhashLshSql]] and [[incrementalDedupSql]] so the two oracles
    * cannot drift.
    */
  private def minhashIndexCtesSql(k: Int, bands: Int): String = {
    val p = MinhashPrime
    val rws = k / bands
    val sigAggs = perms(k).zipWithIndex.map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % $p) AS sig_$i"
    }.mkString(",\n           ")
    val bandSelects = (0 until bands).map { bIdx =>
      val cols = (bIdx * rws until (bIdx + 1) * rws).map(i => s"sig_$i")
        .mkString(", ")
      s"""SELECT doc_id, $bIdx AS band_idx,
            ${OracleFnv.ofText(s"concat_ws(',', $cols)")} AS band_hash
          FROM sig"""
    }.mkString("\n         UNION ALL\n         ")
    s"""toks AS (
         SELECT doc_id,
           list_distinct(string_split(
             regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS tok_set
         FROM documents),
       base AS (
         SELECT doc_id,
           list_distinct(list_transform(tok_set,
             g -> ${OracleFnv.ofText("g")})) AS grams
         FROM toks),
       sh AS (SELECT doc_id, unnest(tok_set) AS sh FROM toks),
       hv AS (SELECT doc_id,
           ((${OracleFnv.ofText("sh")} % $p) + $p) % $p AS h
         FROM sh),
       sig AS (
         SELECT doc_id,
           $sigAggs
         FROM hv GROUP BY doc_id),
       bh AS ($bandSelects)"""
  }

  val minhashLshSql: String = {
    s"""WITH ${minhashIndexCtesSql(64, 8)},
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bh x JOIN bh y
           ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
          AND x.doc_id < y.doc_id),
       scored AS (
         SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(ga.grams, gb.grams))) AS DOUBLE)
             AS jaccard
         FROM cand c
         JOIN base ga ON ga.doc_id = c.doc_a
         JOIN base gb ON gb.doc_id = c.doc_b)
       SELECT doc_a, doc_b, jaccard FROM scored
       WHERE jaccard >= 0.95
       ORDER BY doc_a, doc_b"""
  }

  /** Oracle for `dedup_simhash` with the registered default
    * (maxHamming=3, 4×16-bit bands). Bit extraction runs in the unsigned
    * domain (two's-complement reinterpretation) since DuckDB has no
    * arithmetic shift on BIGINT.
    */
  val simhashPairsSql: String = {
    val two64 = "18446744073709551616"
    def pow2(j: Int): String = java.math.BigInteger.TWO.pow(j).toString
    val bitAggs = (0 until 64).map { j =>
      s"SUM(CASE WHEN (u // ${pow2(j)}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n           ")
    val assemble = (0 until 64).map { j =>
      s"CASE WHEN b$j > 0 THEN CAST(${pow2(j)} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n             + ")
    val bandSelects = (0 until 4).map { bIdx =>
      s"""SELECT doc_id, simhash,
            $bIdx AS band_idx,
            CAST(((CASE WHEN simhash < 0
                        THEN CAST(simhash AS HUGEINT) + $two64
                        ELSE CAST(simhash AS HUGEINT) END)
                  // ${pow2(bIdx * 16)}) % 65536 AS BIGINT) AS band_val
          FROM sims"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH toks AS (
         SELECT doc_id,
           unnest(string_split(
             regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')) AS tok
         FROM documents),
       tf AS (SELECT doc_id, ${OracleFnv.ofText("tok")} AS f FROM toks),
       tu AS (SELECT doc_id,
           CASE WHEN f < 0 THEN CAST(f AS HUGEINT) + $two64
                ELSE CAST(f AS HUGEINT) END AS u
         FROM tf),
       bits AS (
         SELECT doc_id,
           $bitAggs
         FROM tu GROUP BY doc_id),
       us AS (
         SELECT doc_id,
           $assemble AS uv
         FROM bits),
       sims AS (SELECT doc_id, ${OracleFnv.signed("uv")} AS simhash FROM us),
       banded AS ($bandSelects),
       pairs AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           x.simhash AS sim_a, y.simhash AS sim_b
         FROM banded x JOIN banded y
           ON x.band_idx = y.band_idx AND x.band_val = y.band_val
          AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
         CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
       FROM pairs
       WHERE bit_count(xor(sim_a, sim_b)) <= 3
       ORDER BY doc_a, doc_b"""
  }

  // ---- registry ------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      exact(Tables.documents(s, d)).orderBy(col("content_key"))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramJaccard(Tables.documents(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    "fuzzy_name_pairs" -> ((s, d) =>
      fuzzyNamePairs(Tables.part(s, d), "p_name")
        .orderBy(col("name_a"), col("name_b"))),
    "dedup_minhash_lsh" -> ((s, d) =>
      minhashLsh(Tables.documents(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_incremental" -> ((s, d) =>
      incrementalDedup(Tables.documents(s, d)).orderBy(col("doc_id"))),
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    "dedup_embedding" -> ((s, d) =>
      embeddingPairs(Tables.embeddings(s, d)).orderBy(col("vec_a"), col("vec_b"))),
    "dedup_embedding_lsh" -> ((s, d) =>
      embeddingLshPairs(Tables.embeddings(s, d))
        .orderBy(col("vec_a"), col("vec_b"))),
    "dedup_recall_bounds" -> ((s, d) =>
      dedupRecallBounds(Tables.documents(s, d), Tables.embeddings(s, d))
        .orderBy(col("variant"))))

  def oracles: Map[String, String] = Map(
    "dedup_exact" -> exactSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "fuzzy_name_pairs" -> fuzzyNamePairsSql,
    "dedup_embedding" -> embeddingPairsSql,
    "dedup_embedding_lsh" -> embeddingLshPairsSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_incremental" -> incrementalDedupSql,
    "dedup_simhash" -> simhashPairsSql,
    "dedup_recall_bounds" -> dedupRecallBoundsSql)
}
