package graft.operators

import graft.QueryPack
import graft.functions.VectorOps
import graft.sources.{CacheRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for LLM-data curation (north-star surface; SURVEY.md
  * §2.3 X1/X2): exact, n-gram-Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup, over `documents` / `embeddings`.
  *
  * Scale ladder (the point of having five):
  *  - exact: one hash-groupBy on md5 — a single shuffle keyed on a
  *    16-byte digest instead of the document body; linear at any SF.
  *  - ngram-Jaccard: exact pairwise similarity via an inverted shingle
  *    index (explode + self-join) — no crossJoin, but pair blowup on hot
  *    shingles makes it mid-scale only; it is the *oracle* for the
  *    sketch-based paths.
  *  - MinHash+LSH: the 100 TB path — fixed-size signatures (32 hashes),
  *    banded (8×4) bucket join so only same-bucket pairs materialize,
  *    then exact verification of the (few) candidates.
  *  - SimHash: 64-bit signature per doc; near-dup = small Hamming
  *    distance; banding the 64 bits would give the LSH-style bucket join
  *    at scale (pairs here are scanned directly at fixture SF).
  *  - embedding-cosine: semantic near-dup; brute pairing at fixture SF,
  *    LSH-bucketed in [[Similarity]] for the scale path.
  *
  * MinHash queries use Spark's xxhash64 inside ARRAY folds the oracle
  * can't replay, so they are rows-only checked, with ScalaTest
  * invariants tying their candidates back to the exact Jaccard query.
  * The SimHash keys ARE oracle-paired (r17): [[DuckXx]] re-derives
  * xxhash64 itself in DuckDB SQL, so signature and pair keys sit in the
  * driver's hash gate.
  */
object Dedup extends QueryPack {

  /** Exact dedup: one representative (min doc_id) per distinct text,
    * grouped by md5 digest, not the body, to keep the shuffle narrow. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))

  /** Distinct hashed 3-gram shingles per doc, as (doc_id, sh:
    * array<long>) — the join/verify currency: a 64-bit hash per
    * shingle instead of the string, so every downstream shuffle and
    * array op moves 8 bytes per shingle, never the text.
    *
    * MATERIALIZED once per (session, corpus) — r17 optimization round,
    * the span-gram / canonical pattern one level down:
    * the shingle projection is inlined into EVERY consumer reference
    * (both prefix sides + both verify sides of the PPJoin keys), so
    * each of `dedup_ngram_jaccard` / `_containment` / `_incremental` /
    * `_minhash_lsh` / `_bucket_stats` re-ran the split + per-token hash
    * + sliding-window hash chain 2-4× per invocation over the full
    * corpus. The cached frame is (long, array<long>) — ~8 B/shingle,
    * order 150 MB at sf0.1 — held serialized; every consumer reference
    * is then a columnar cache scan. Per-invocation pair joins, bands,
    * and verification are untouched. */
  private def hashedShingles(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.getOrBuild(spark, dir, "shingles", "documents")(
      hashedShinglesOf(Tables.documents(spark, dir)).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("split(text, ' ')"))
      // shingle key = xxhash64 over a 3-slice of per-token hashes: each
      // token is hashed once and the sliding window hashes 24 bytes of
      // longs instead of building the shingle string — this projection
      // is re-evaluated for every self-join side downstream, so its
      // per-row cost multiplies (measured on the decontamination twin:
      // ~2× on the whole query). Collision semantics are unchanged: a
      // collision can only ADD a candidate, which exact verification
      // rejects; the jaccard over distinct hash sets is the jaccard
      // over distinct shingles absent collisions, same as hashing the
      // string form.
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      // guard: size < 3 means no 3-shingles. A naive sequence(1,
      // size - 2) counts DOWN when size < 3 (Spark's default step is -1
      // when stop < start) and slice(th, 0, 3) then throws
      // INVALID_PARAMETER_VALUE.START. The guard must NOT be a top-level
      // if(): codegen's subexpression elimination skips conditionally-
      // evaluated branches, and this projection is inlined into several
      // consumers per query (size(sh), array_sort(sh), both join sides)
      // — an if() wrapper made every consumer recompute the transform,
      // measured 1.4 s → 5.2 s on dedup_ngram_jaccard at sf0.1. Instead
      // the index sequence is clamped ascending (stop >= 1 = start) and
      // filter() drops out-of-range starts, so sub-width docs yield an
      // empty array with the hot expression still CSE-eligible.
      .select(col("doc_id"), expr(
        """array_distinct(transform(
          |  filter(sequence(1, greatest(size(th) - 2, 1)),
          |         i -> i + 2 <= size(th)),
          |  i -> xxhash64(slice(th, i, 3))))""".stripMargin).as("sh"))

  private val JaccardT = 0.8
  // J ≥ t as the exact rational 4/5: all prefix/length/positional bounds
  // below use integer arithmetic. ceil(0.8·n) in IEEE doubles is off by
  // one whenever 4n/5 is an integer (0.8·35 = 28.000000000000004 →
  // ceil 29), which silently shortens the prefix and can drop true
  // pairs; (4n + 4) div 5 is exact.
  private val TNum = 4
  private val TDen = 5

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.8) with full
    * PPJoin filtering (Bayardo et al. "Scaling Up All Pairs Similarity
    * Search", WWW'07; Xiao et al. PPJoin, WWW'08):
    *
    *  - prefix filter: shingles get a global rarity order (ascending
    *    document frequency, hash tie-break); each doc indexes only its
    *    `n - ceil(t·n) + 1` rarest shingles, and any pair with J ≥ t
    *    provably shares a prefix shingle — the candidate join touches a
    *    fraction of the inverted index and hot shingles never explode;
    *  - length filter: J ≥ t forces t·|A| ≤ |B| ≤ |A|/t, applied as
    *    `TNum·n_a ≤ TDen·n_b` (integers, no float fuzz);
    *  - positional filter: at a shared prefix shingle at rank p_a/p_b,
    *    the overlap is at most 1 + min(n_a−p_a, n_b−p_b); prune when
    *    that bound is below α = ceil(t·(n_a+n_b)/(1+t)). Lossless: a
    *    true pair passes at its first common shingle, and `distinct`
    *    keeps the pair if any shared shingle passes.
    *
    * Candidates are then verified with the exact intersect/union over
    * the hashed shingle arrays, keeping results identical to the naive
    * join (the DuckDB oracle still computes the naive form). Join keys
    * are xxhash64(shingle); a collision can only ADD a candidate, which
    * verification then rejects. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(hashedShingles(spark, dir))

  /** PPJoin prefix rows (doc_id, n, pos, h) of a hashed-shingle frame —
    * the inverted-index currency of [[ngramJaccardOf]], factored out so
    * an INCREMENTAL consumer ([[graft.streaming.CorpusStream]]) can
    * maintain the standing side as a persisted index and prefix only
    * each arriving batch.
    *
    * Global shingle order = HASH order. The prefix filter is lossless
    * under ANY fixed total order on shingles; df-ascending order merely
    * maximizes pruning. Hash order makes prefix extraction a pure
    * MAP-SIDE computation — a doc's prefix is the smallest
    * `n - ceil(t·n) + 1` values of its sorted shingle-hash array
    * (array_sort + slice) — deleting the df aggregation shuffle, the
    * df equi-join over the full exploded corpus, and the per-doc window
    * sort that together dominated the round-3 plan. Measured at sf0.1:
    * 3.5 s → ~1 s with the same verified pair set; candidate count
    * rises (hot shingles can enter prefixes) but verification on the
    * hashed arrays absorbs it. CRUCIALLY for the incremental consumer,
    * hash order also makes a doc's prefix independent of every OTHER
    * doc (no corpus-wide df), so per-segment prefix tables compose by
    * plain union. */
  private[graft] def prefixRowsOf(sh: DataFrame): DataFrame = sh
    .withColumn("n", size(col("sh")))
    .select(col("doc_id"), col("n"),
      posexplode(expr(
        s"slice(array_sort(sh), 1, n - (n * $TNum + ${TDen - 1}) div $TDen + 1)")))
    // 1-based rank in the global (hash) order restricted to the doc,
    // as the positional filter's bound expects
    .select(col("doc_id"), col("n"), (col("pos") + 1).as("pos"), col("col").as("h"))

  /** The PPJoin candidate join + length/positional filters between two
    * prefix-row frames (doc_a side × doc_b side), normalized to
    * doc_a < doc_b. Shared verbatim by the all-pairs and touching-pairs
    * forms — the filters ARE the pair semantics. */
  private def ppjoinCandidates(a0: DataFrame, b0: DataFrame): DataFrame = {
    val a = a0.select(col("doc_id").as("doc_a"), col("n").as("na"),
      col("h"), col("pos").as("pa"))
    val b = b0.select(col("doc_id").as("doc_b"), col("n").as("nb"),
      col("h"), col("pos").as("pb"))
    a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(s"nb * $TDen >= na * $TNum and na * $TDen >= nb * $TNum"))
      // α = ceil(t·(na+nb)/(1+t)) = (TNum·(na+nb) + TNum+TDen-1) div (TNum+TDen)
      .filter(expr(s"least(na - pa, nb - pb) + 1 >= " +
        s"((na + nb) * $TNum + ${TNum + TDen - 1}) div ${TNum + TDen}"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** Exact verification of candidate pairs over the hashed shingle
    * arrays — keeps results identical to the naive join. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sa = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")))
      .filter(col("jaccard") >= JaccardT)
      .select(col("doc_a"), col("doc_b"), col("common"), col("jaccard"))
  }

  private[graft] def ngramJaccardOf(sh0: DataFrame): DataFrame = {
    val prefixes = prefixRowsOf(sh0)
    verifyJaccard(ppjoinCandidates(prefixes, prefixes).distinct(), sh0)
  }

  /** Verified J ≥ t pairs with AT LEAST ONE endpoint in the `prefNew`
    * prefix frame — bit-equal to `ngramJaccardOf(shAll)` filtered to
    * new-touching pairs (prefixes are per-doc under hash order, and the
    * length/positional/verify predicates are per-pair, so restricting
    * CANDIDATE GENERATION to new-touching pairs loses nothing), but the
    * join probes are new-side-bounded: the standing prefix index is
    * only ever the build/probe partner, never self-joined. Old×old
    * pairs never form — the incremental-maintenance contract (they were
    * applied in the batch where their later endpoint arrived). */
  private[graft] def ngramJaccardTouching(prefNew: DataFrame,
      prefAll: DataFrame, shAll: DataFrame): DataFrame = {
    val cand = ppjoinCandidates(prefAll, prefNew)
      .unionByName(ppjoinCandidates(prefNew, prefAll))
      .distinct()
    verifyJaccard(cand, shAll)
  }

  // Containment threshold 9/10 as an exact rational (same integer-
  // arithmetic rationale as TNum/TDen above).
  private val CNum = 9
  private val CDen = 10

  /** Near-containment pairs: C(A→B) = |A∩B| / |A| ≥ 0.9 over distinct
    * hashed 3-gram shingles — the ASYMMETRIC near-dup relation Jaccard
    * misses: a paragraph pasted into a much larger page scores J ≈
    * |A|/|B| (tiny) but containment ≈ 1. The standard curation use is
    * dropping sub-documents of retained supersets.
    *
    * Filtering is necessarily asymmetric too: containment bounds
    * nothing about |B| from above, so only the CONTAINED side gets a
    * prefix — A must share one of its `n_a − ceil(t·n_a) + 1` smallest
    * (hash-ordered) shingles with B, whose full shingle set is indexed.
    * A length filter (|B| ≥ t·|A|, exact integers) and the positional
    * bound overlap ≤ 1 + min(n_a−p_a, n_b−p_b) vs α = ceil(t·n_a)
    * prune the rest, and candidates verify exactly — lossless vs the
    * naive all-pairs form (the DuckDB oracle computes exactly that).
    *
    * Scale posture: the join is A-prefix × full inverted index, so
    * boilerplate shingles on the B side are the hot-key risk; the
    * production lever is the same df-cap-before-join
    * [[graft.operators.Pipeline.decontaminateHashed]] applies (a
    * shingle in >cap docs is boilerplate, not containment evidence) —
    * not applied here so the oracle stays the uncapped truth. */
  /** Shingles in more than this many documents are boilerplate, not
    * containment evidence — the same stance (and the same
    * fixture-inert cap value) as `Pipeline.DfCap`: the fixture's max
    * shingle df is 25, so the oracle-paired query is still the exact
    * uncapped truth, while a boilerplate-degenerate corpus (where the
    * uncapped index join is quadratic per hot shingle) stays bounded —
    * EdgeCaseSpec completes a 2k-identical-doc corpus under it. The
    * guard's price is one map-side-combining df count + broadcast
    * anti-join (2.2 → 2.9 s warm at sf0.1) — bought insurance, same
    * trade `minhashLsh`'s hot-bucket guard makes. */
  private[graft] val ContainDfCap = 1000

  def containment(spark: SparkSession, dir: String): DataFrame =
    containmentOf(hashedShingles(spark, dir), ContainDfCap)

  private[graft] def containmentOf(sh: DataFrame,
      dfCap: Int = Int.MaxValue): DataFrame = {
    // Global order = hash order, map-side prefixes, as in
    // [[ngramJaccardOf]]. A (df ASC, hash) order was built and measured
    // too — its better pruning is real (join fanout 311k → 165k rows at
    // sf0.1) but its three extra linear shuffles (df count + h-join +
    // per-doc rank window, paid on the FULL inverted index) cost more
    // than the fanout saves at any corpus without degenerate hot
    // shingles (3.55 s vs 1.5 s warm); boilerplate hot keys are handled
    // by the df-cap lever documented above, not by reordering.
    //
    // No size(sh) > 0 pre-filter, deliberately: a filter on any
    // shingle-derived column — including the one
    // InferFiltersFromGenerate adds under a bare explode(attribute) —
    // is pushed below [[graft.sources.Tables.documents]]'s fan-out
    // repartition onto the parquet scan, where the fixture's single
    // row group evaluates the whole shingle chain on ONE task
    // (measured: ~3.5 s serial vs 0.3 s fanned out). posexplode of the
    // sliced/sorted arrays skips empty arrays by itself and keeps the
    // generator input a non-attribute, so no filter is inferred.
    val aPrefix = sh
      .select(col("doc_id").as("doc_a"), size(col("sh")).as("na"),
        posexplode(expr(
          s"""slice(array_sort(sh), 1,
             |  size(sh) - (size(sh) * $CNum + ${CDen - 1}) div $CDen + 1)""".stripMargin)))
      .select(col("doc_a"), col("na"), (col("pos") + 1).as("pa"), col("col").as("h"))
    val bFull = sh
      .select(col("doc_id").as("doc_b"), size(col("sh")).as("nb"),
        posexplode(expr("array_sort(sh)")))
      .select(col("doc_b"), col("nb"), (col("pos") + 1).as("pb"), col("col").as("h"))
    // boilerplate guard: shingles above the df cap leave the JOIN index
    // BEFORE the pair expansion (that ordering is the whole guard — it
    // is what stops a 2000-identical-doc corpus from exploding
    // quadratically inside the join). The df count rides the b side's
    // own join shuffle as a window over h: the SMJ must sort by h
    // anyway, so the guard costs nothing — previously it was a third
    // full explode + groupBy + two broadcast anti-joins (~0.7 s of the
    // query at sf0.1). One-sided removal suffices: a candidate row
    // needs the shingle on BOTH sides, so filtering the full-index side
    // drops every hot-evidenced pair. Verification still runs on the
    // full arrays, so every surviving pair's containment value is
    // exact; only pairs whose sole shared-prefix evidence is
    // boilerplate are dropped, the [[ContainDfCap]] semantics.
    val bSafe = bFull
      .withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("df") <= dfCap).drop("df")
    val cand = aPrefix
      .join(bSafe, Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(expr(s"nb * $CDen >= na * $CNum"))
      .filter(expr(s"least(na - pa, nb - pb) + 1 >= (na * $CNum + ${CDen - 1}) div $CDen"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sa = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("containment",
        col("common").cast("double") / size(col("sha")))
      .filter(expr(s"common * $CDen >= size(sha) * $CNum"))
      .select(col("doc_a"), col("doc_b"), col("common"), col("containment"))
  }

  private val NumHashes = 32
  private val Bands = 8 // × 4 rows per band
  /** Hot-bucket guard for [[minhashLsh]]: buckets larger than this are
    * NOT pair-expanded. The in-bucket expansion materializes
    * s·(s−1)/2 structs as ONE array value before the explode, so an
    * unguarded degenerate bucket (boilerplate-dominated corpus: every
    * near-identical doc lands in the same (band, band_sig) bucket) is
    * quadratic memory in a single task row — at cap 1024 the worst
    * array is ~524k structs ≈ 12 MB, safely inside a task; at 10k
    * members it would be ~50M structs ≈ 1.2 GB and OOM. Oversized
    * buckets are dropped from pair expansion and surfaced via
    * [[minhashHotBuckets]] / the `dedup_bucket_stats` telemetry — the
    * production posture: a >1024-member minhash bucket is boilerplate
    * to triage, not 500k pairs to verify. EdgeCaseSpec pins both the
    * guard (10k identical docs complete, hot bucket reported) and that
    * the guarded pair set is unchanged on the normal fixture. */
  private[graft] val HotBucketCap = 1024

  /** MinHash signatures + banded LSH bucket grouping + exact
    * verification — the linear-scale near-dup path. Rows-only
    * (xxhash64-based).
    *
    * Candidates come from a GROUP-BY over (band, band_sig) with
    * within-bucket pair expansion, NOT a bucket self-join: a self-join
    * references the signature subtree twice and Spark re-executes the
    * whole shingle→explode→MinHashAgg pipeline per side (measured ~40%
    * of the query at sf0.1). The groupBy form computes signatures once,
    * shuffles once on the bucket key, and explodes the s·(s−1)/2 pairs
    * inside each bucket — the same pair set (collect_list order is
    * partition-dependent, so pairs are normalized with least/greatest
    * and distinct'd). Healthy buckets are near-dup-cluster sized;
    * degenerate ones are cut off by the [[HotBucketCap]] guard and
    * surfaced via [[minhashHotBuckets]] instead of OOMing the task. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    // dir-level path rides the shared shingle checkpoint; the ≥3-token
    // exclusion becomes a cheap size(sh) > 0 filter on the MATERIALIZED
    // array (equivalent by construction: ≥3 tokens ⟺ non-empty shingle
    // set; the re-evaluation hazard below only exists on the lazy
    // projection)
    minhashLshOnShingles(
      hashedShingles(spark, dir).filter(size(col("sh")) > 0), HotBucketCap)

  private[graft] def minhashLshOf(docsRaw: DataFrame, cap: Int): DataFrame = {
    // sub-shingle-width docs are excluded with a CHEAP predicate on the
    // raw text (≥3 tokens ⟺ non-empty shingle set) BEFORE the shingle
    // projection: a filter on size(sh) placed after it re-evaluates the
    // whole interpreted higher-order shingle chain per row for the
    // predicate (measured 0.7 s → 4.8 s at sf0.1). Excluding them is
    // required anyway — their signature would be the degenerate
    // all-MaxValue vector and every such doc would share one bucket.
    val docs = docsRaw.filter(expr("size(split(text, ' ')) >= 3"))
    minhashLshOnShingles(hashedShinglesOf(docs), cap)
  }

  private def minhashLshOnShingles(sh: DataFrame, cap: Int): DataFrame = {
    // whole 32-hash signature per row in ONE codegen'd expression
    // (MinHashSig) — no explode, no doc_id re-aggregation: the shingle
    // array is already per-doc, so re-keying it through a groupBy only
    // added a shuffle AND knocked the stage out of whole-stage codegen
    // (the keyed aggregate over the generator disables it; measured
    // 3.5 s of interpreted higher-order evaluation at sf0.1). The
    // streaming/mergeable form of the same chain lives in MinHashAgg
    // for inputs that ARRIVE exploded (pinned byte-equal by
    // CatalystAggSpec).
    val bands = minhashBandsOf(sh)
    // candidates: all unordered doc pairs sharing any (band, band_sig)
    // bucket, expanded inside the bucket group. The upper size bound is
    // the hot-bucket guard (see [[HotBucketCap]]): the expansion below
    // builds the whole s·(s−1)/2 pair array as one value, so bucket
    // size must be capped BEFORE it — oversized buckets are telemetry
    // ([[minhashHotBuckets]]), not candidates. The collect_list buffer
    // itself stays linear in bucket membership (8 bytes/member), which
    // survives even the degenerate case the cap protects the quadratic
    // term from.
    val cand = bands.groupBy(col("band"), col("band_sig"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= cap)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    x -> struct(least(element_at(ids, i), x) as doc_a,
          |                greatest(element_at(ids, i), x) as doc_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    // exact verification of the few candidates, on the hashed arrays
    val sa = sh.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (doc_id, band, band_sig) LSH bucket membership: whole 32-hash
    * signature per row in ONE codegen'd expression ([[graft.functions
    * .MinHashSig]]), then one xxhash64 band key per group of 4
    * adjacent slots, exploded to a row per band. Shared by the pair
    * path ([[minhashLshOf]]) and the telemetry paths
    * ([[minhashHotBuckets]], [[bucketStats]]). */
  private[graft] def minhashBandsOf(sh: DataFrame): DataFrame = {
    val sig = sh
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("sh"), NumHashes).as("sig"))
    val bandCols = (0 until Bands).map { b =>
      val in = (0 until NumHashes / Bands)
        .map(r => expr(s"element_at(sig, ${b * (NumHashes / Bands) + r + 1})"))
      xxhash64(in: _*).as(s"band$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), explode(expr(
        (0 until Bands).map(b => s"struct($b as band, band$b as band_sig)")
          .mkString("array(", ", ", ")"))).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** The overflow side of [[HotBucketCap]]: every minhash LSH bucket
    * the pair path REFUSED to expand, with its membership count — what
    * an operator triages on a boilerplate-dominated corpus. Empty on
    * healthy corpora (the fixture's buckets are near-dup-cluster
    * sized), so not a driver query key; EdgeCaseSpec exercises it. */
  private[graft] def minhashHotBuckets(docsRaw: DataFrame,
      cap: Int = HotBucketCap): DataFrame = {
    val docs = docsRaw.filter(expr("size(split(text, ' ')) >= 3"))
    minhashBandsOf(hashedShinglesOf(docs))
      .groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap)
      .orderBy(col("band"), col("band_sig"))
  }

  /** 64-bit tf-weighted SimHash signature per document. ORACLE-PAIRED
    * (r17): the DuckDB oracle re-derives xxhash64 itself ([[DuckXx]] —
    * HUGEINT modular arithmetic in a recursive CTE), so the signatures
    * are two-engine hash-exact, not just invariant-pinned. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(spark, dir))

  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .withColumn("h", xxhash64(col("token")))
    // 64 signed-weight sums as 64 agg columns of ONE aggregate (vs a
    // 64× bit explosion), then assemble the sign bits into the long
    val bitSums = (0 until 64).map(b =>
      sum(expr(s"tf * (cast(shiftright(h, $b) & 1 as int) * 2 - 1)")).as(s"w$b"))
    val assembled = (0 until 64)
      .map(b => s"(case when w$b > 0 then shiftleft(cast(1 as bigint), $b) else 0L end)")
      .mkString(" + ")
    tf.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), expr(assembled).as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ 3 via EXACT banding:
    * the 64-bit signature splits into 4 bands of 16 bits, and any pair
    * within distance 3 must share at least one whole band (pigeonhole) —
    * so the band-bucket join loses nothing and replaces the O(n²)
    * cross pairing. ORACLE-PAIRED (r17): rides the [[DuckXx]]-based
    * simhash oracle, banding and Hamming replayed in SQL. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val s = simhash(spark, dir)
    val banded = simhashBandsOf(s)
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
      col("band"), col("bsig"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
      col("band"), col("bsig"))
    a.join(b, Seq("band", "bsig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 16-bit band rows of a (doc_id, simhash) frame — the 4×16
    * pigeonhole banding [[simhashPairs]] buckets on; shared with
    * [[bucketStats]]. */
  private[graft] def simhashBandsOf(s: DataFrame): DataFrame =
    s.select(col("doc_id"), col("simhash"), explode(expr(
      (0 until 4).map(b =>
        s"struct($b as band, shiftright(simhash, ${b * 16}) & 65535 as bsig)")
        .mkString("array(", ", ", ")"))).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bsig").as("bsig"))

  /** Embedding-cosine near-dup pairs (cosine ≥ 0.45): semantic dedup.
    * Norms computed once per vector; pair scores bit-match DuckDB.
    * All-pairs by construction (BroadcastNestedLoopJoin): this is the
    * ORACLE form that arbitrates [[cosineLsh]]; the LSH-bucketed query
    * is the scale path. */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm("embedding").as("nrm"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorOps.dot("ea", "eb") / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.45)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  private val CosineT = 0.45
  private val CosLshTables = 32
  private val CosLshBits = 4

  /** Embedding-cosine near-dup via hyperplane LSH bucketing — the scale
    * path replacing [[cosinePairs]]' O(n²) nested loop: signatures for
    * 32 4-bit tables in one fused native pass
    * ([[graft.functions.HyperplaneSigs]]), candidate pairs = vectors
    * sharing any (table, signature) bucket — an equi shuffle join, no
    * BroadcastNestedLoopJoin anywhere in the plan — then exact cosine
    * rerank at the same threshold. Rows-only; DedupSimilaritySpec pins
    * pair-set EQUALITY vs the exact form at fixture SF (32×4 measured
    * 100% recall on the fixture's cos≈0.45..0.51 pairs; the low fixture
    * threshold is the adversarial regime — production near-dup
    * thresholds (≥0.9) bucket far more selectively). */
  /** (vec_id, tbl, sig) hyperplane-LSH bucket rows: 32 4-bit tables in
    * one fused native pass; shared by [[cosineLsh]] and
    * [[bucketStats]]. */
  private[graft] def cosineBandsOf(e: DataFrame): DataFrame = {
    val planes = Similarity.hyperplanes(CosLshTables * CosLshBits, 64)
    e.select(col("vec_id"),
        posexplode(graft.functions.HyperplaneSigs.sigs(col("embedding"), planes, CosLshBits)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("sig"))
  }

  /** The (vec_id, tbl, sig) bucket rows materialized once per (session,
    * embeddings corpus) — r17 optimization round: the self-join form
    * below evaluates the fused 128-plane signature pass once PER SIDE
    * per invocation (the deliberate codegen trade vs the
    * ObjectHashAggregate bucket-group); with the frame checkpointed the
    * pass runs once per corpus and both sides scan ~|V|·32 rows of
    * three longs. Shared with [[bucketStats]]' cosine telemetry band. */
  private def cosineBands(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.getOrBuild(spark, dir, "cosineBands", "embeddings")(
      cosineBandsOf(Tables.embeddings(spark, dir)).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  def cosineLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VectorOps.norm("embedding").as("nrm"))
    val banded = cosineBands(spark, dir)
    // NOTE kept as a self-join ON PURPOSE (the opposite call to
    // minhashLsh's bucket-group): a collect_list bucket grouping is an
    // ObjectHashAggregate, which disables whole-stage codegen for its
    // entire input stage — including the native HyperplaneSigs pass,
    // which then runs interpreted (measured 2.9 s → 5.1 s at sf0.1).
    // The join form evaluates the signature pass once per side, but
    // both sides stay codegen'd stages ending in the join exchange —
    // twice-codegen'd beats once-interpreted here, where the heavy
    // expression is codegen-able (minhash's shingle chain is
    // higher-order-function fallback either way, so there the
    // single-evaluation grouping wins).
    val cand = banded.select(col("vec_id").as("vec_a"), col("tbl"), col("sig"))
      .join(banded.select(col("vec_id").as("vec_b"), col("tbl"), col("sig")),
        Seq("tbl", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    // DISTINCT AFTER the threshold filter, not before the rerank (r18
    // optimization round, guide §2.4): at the adversarial 0.45
    // threshold a random pair collides in some table with p ≈ 1−(1−
    // 2^-4)^32 ≈ 0.87, so the pre-rerank `distinct` shuffled nearly the
    // whole candidate MULTISET (~4M rows at sf0.1) to save ~2.3×
    // redundant dot products — ~150 codegen'd flops per duplicate,
    // far cheaper than exchanging the pair row. Moving the dedup below
    // the filter makes the rerank map-side against the (broadcastable)
    // embedding sides and shrinks the distinct's input to the TRUE
    // pairs (14 rows at sf0.1). The verified pair SET is unchanged:
    // cosine is a pure function of the pair, so distinct over
    // (vec_a, vec_b, cosine) ≡ distinct over the pair, and no
    // candidate is added or dropped — DedupSimilaritySpec's pair-set
    // equality pin vs [[cosinePairs]] arbitrates exactly that.
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cosine", VectorOps.dot("ea", "eb") / (col("na") * col("nb")))
      .filter(col("cosine") >= CosineT)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact p50/p99/max of a bucket-size relation `(band, n)` per band,
    * via a count-of-counts histogram: bucket sizes collapse to
    * (band, size → #buckets) first, so the percentile window runs over
    * DISTINCT sizes per band (a few hundred rows even when the band has
    * billions of buckets), never over the buckets themselves — the
    * shape that keeps exact telemetry percentiles viable at 100 TB.
    * Percentile semantics are discrete rank ceil(q·N) with pure integer
    * arithmetic ((N+1) div 2, (99N+99) div 100 — no IEEE ceil), so
    * results hash-match DuckDB exactly. */
  private[graft] def bucketStatsOf(sized: DataFrame, path: String): DataFrame = {
    val hist = sized.groupBy(col("band"), col("n")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("band")).orderBy(col("n"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("band"))))
    cum.groupBy(col("band"))
      .agg(sum(col("cnt")).as("n_buckets"),
        sum(col("n") * col("cnt")).as("n_entries"),
        max(col("n")).as("max_members"),
        min(when(col("cum") >= expr("(total + 1) div 2"), col("n"))).as("p50_members"),
        min(when(col("cum") >= expr("(99 * total + 99) div 100"), col("n"))).as("p99_members"))
      .select(lit(path).as("path"), col("band").cast("long").as("band"),
        col("n_buckets"), col("n_entries"),
        col("p50_members"), col("p99_members"), col("max_members"))
  }

  /** Bucket-size distribution telemetry across the three LSH dedup
    * paths — the observability a 100 TB dedup job actually watches:
    * a p99 or max drifting toward [[HotBucketCap]] means boilerplate is
    * concentrating and the guard (or an extra band) is about to matter.
    * One row per (path, band) with bucket count, total entries, and
    * exact p50/p99/max membership. Rows-only (every banding is
    * xxhash64/hyperplane-based, no DuckDB counterpart);
    * DedupSimilaritySpec pins conservation invariants and an
    * independently recomputed band. */
  def bucketStats(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashBandsOf(
        hashedShingles(spark, dir).filter(size(col("sh")) > 0))
      .groupBy(col("band"), col("band_sig")).agg(count(lit(1)).as("n"))
      .select(col("band"), col("n"))
    val sim = simhashBandsOf(simhash(spark, dir))
      .groupBy(col("band"), col("bsig")).agg(count(lit(1)).as("n"))
      .select(col("band"), col("n"))
    val cos = cosineBands(spark, dir)
      .groupBy(col("tbl"), col("sig")).agg(count(lit(1)).as("n"))
      .select(col("tbl").as("band"), col("n"))
    bucketStatsOf(mh, "minhash")
      .unionByName(bucketStatsOf(sim, "simhash"))
      .unionByName(bucketStatsOf(cos, "cosine"))
      .orderBy(col("path"), col("band"))
  }

  /** The oracle-paired twin of [[bucketStats]], over the two blocking
    * schemes DuckDB can reproduce: content-digest blocking (md5 of the
    * body — [[exact]]'s key) and token-count blocking (the classic
    * cheap ER blocking key). Same stats machinery, hash-exact vs the
    * oracle — so the percentile math behind the rows-only LSH telemetry
    * is itself CORRECTNESS-gated. */
  def blockStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val digest = docs.groupBy(md5(col("text").cast("binary"))).agg(count(lit(1)).as("n"))
      .select(lit(0).as("band"), col("n"))
    val toklen = docs.groupBy(expr("size(split(text, ' '))")).agg(count(lit(1)).as("n"))
      .select(lit(0).as("band"), col("n"))
    bucketStatsOf(digest, "digest")
      .unionByName(bucketStatsOf(toklen, "token_count"))
      .select(col("path"), col("n_buckets"), col("n_entries"),
        col("p50_members"), col("p99_members"), col("max_members"))
      .orderBy(col("path"))
  }

  /** Incremental dedup — the production ingestion flow: before a new
    * batch joins the corpus, find which of its documents already exist.
    * The corpus splits deterministically by the same Knuth
    * multiplicative hash as [[Curation.hashSplit]] (bucket < 80 =
    * existing corpus, ≥ 80 = incoming batch); each incoming doc reports
    * its best existing match — exact (same md5 digest, matched on the
    * 16-byte key, never the body) preferred over near (cross-split
    * PPJoin pair at J ≥ 0.8), ties to the highest Jaccard then lowest
    * existing id.
    *
    * Scale posture: the exact tier is one digest-keyed shuffle; the near
    * tier reuses the full prefix-filtered [[ngramJaccardOf]] machinery
    * (at production the existing side's shingle prefixes are a
    * precomputed index — only the new batch is shingled per run). */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("is_new", expr("(doc_id * 2654435761) % 4294967296 % 100 >= 80"))
    val exact = docs.filter(col("is_new"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(docs.filter(!col("is_new"))
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("match_doc")), "fp")
      .select(col("doc_id"), col("match_doc"),
        lit("exact").as("match_kind"), lit(1.0).as("jaccard"))
    // shared shingle checkpoint: the is_new flag plays no part in the
    // shingle projection (doc_id, sh), so the cached frame is identical.
    // is_new is a pure function of doc_id and every pair endpoint comes
    // from documents, so the flags attach as expressions on doc_a/doc_b
    // instead of two joins back to the corpus (r17's substring
    // _incremental move) — same values, two join stages less.
    def isNew(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (c * 2654435761L) % 4294967296L % 100 >= 80
    val near = ngramJaccardOf(hashedShingles(spark, dir))
      .withColumn("new_a", isNew(col("doc_a")))
      .withColumn("new_b", isNew(col("doc_b")))
      .filter(col("new_a") =!= col("new_b"))
      .select(when(col("new_a"), col("doc_a")).otherwise(col("doc_b")).as("doc_id"),
        when(col("new_a"), col("doc_b")).otherwise(col("doc_a")).as("match_doc"),
        lit("near").as("match_kind"), col("jaccard"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("match_kind"), col("jaccard").desc, col("match_doc"))
    exact.unionByName(near)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("match_doc"), col("match_kind"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Canonical-document mapping over near-dup CLUSTERS — the artifact a
    * production dedup actually ships: every doc mapped to the lowest
    * doc_id of its connected component in the verified pair graph
    * (`canon_id`, = itself for unique docs), with the component size and
    * a canonical flag. Pairwise keys answer "who is similar"; this one
    * answers "which copy do we keep" when near-duplication is
    * TRANSITIVE (A≈B≈C ⇒ one keeper for all three, even if A≉C
    * directly) — the cluster-granularity complement of
    * [[graft.operators.Similarity.semanticDedup]]'s embedding-space
    * kept-corpus.
    *
    * ORACLE-PAIRED end to end, which few dedup clusterings can be: the
    * edge set is [[ngramJaccard]]'s exact PPJoin pair set (already
    * hash-exact vs DuckDB), components over it are pure integer
    * min-label fixpoints ([[Curation.componentsOf]]'s pointer-jumping
    * propagation — O(log diameter) rounds), and the oracle recomputes
    * reachability with a recursive CTE — two entirely different
    * component algorithms agreeing bit-for-bit on the mapping.
    *
    * Scale posture: the edge list is the near-dup pair output (scale-
    * bounded by the PPJoin/LSH machinery upstream); labels shuffle by
    * doc_id only; near-dup clusters are threshold-cliques in practice,
    * so the min-label loop converges in 2–3 rounds and the transitive
    * closure the ORACLE builds (fine at fixture SF) is never what the
    * Spark side materializes. */
  def canonicalMap(spark: SparkSession, dir: String): DataFrame =
    minIdKeeperOf(componentMapFor(spark, dir, "exact"))

  private[graft] def canonicalMapOf(docs: DataFrame,
      pairsOf: DataFrame => DataFrame =
        d => ngramJaccardOf(hashedShinglesOf(d))
          .select(col("doc_a"), col("doc_b"))): DataFrame = {
    // Exact-digest collapse BEFORE the near-dup stage: identical texts
    // have J = 1 ≥ t, so they are already in their representative's
    // component, and each digest group's rep is its min doc_id — the
    // result is PROVABLY identical to running components on all docs
    // (component min = min over group minima; re-verified hash-exact at
    // all 3 tiers), but the quadratic pair blowup a boilerplate-heavy
    // corpus would feed the PPJoin stage (2k identical docs = 2M J=1
    // pairs) collapses to one doc per distinct text. This is the
    // exact→near dedup sequencing every production pipeline runs, fused
    // into the operator. Measured trade on the MOSTLY-DISTINCT fixture
    // (same-window BenchOne rep2): 3.1 → 4.5 s at sf0.1, 3.6 → 4.7 s at
    // ×10 — the md5 pass plus ~4 narrow shuffles cost ~1.3 s of local
    // fixed overhead with nothing to collapse. Accepted deliberately:
    // web-crawl corpora are boilerplate-heavy (the 1000-identical-doc
    // spec corpus is the REALISTIC shape), and there the old form's
    // pair list is Θ(dup²) — a completes-vs-dies trade, not a tuning
    // knob. The per-group min(doc_id) aggregate and the fp/rep joins
    // are all narrow-currency (16-byte digest + two longs).
    //
    // The collapse is restricted to docs the pair stage could RE-DERIVE
    // as duplicates: "J = 1 ≥ t so provably same component" needs a
    // NON-EMPTY shingle set, i.e. ≥ 3 tokens. A sub-width doc gets a
    // per-doc fingerprint (its own group), so identical 2-token texts
    // stay separate singleton components — exactly what the uncollapsed
    // oracle's pair-graph closure computes. The same guard keeps
    // NULL-text docs in the output (their md5 key would be NULL and
    // silently fall out of every fp equi-join below); coalesce makes
    // the width predicate itself null-safe (size(split(NULL)) is NULL).
    // Shuffle shape (the key was scheduling-bound, not data-bound): the
    // per-group rep rides ONE fp-keyed window (min over the partition)
    // instead of a groupBy plus a join back on fp, and the component
    // size rides ONE component-keyed window instead of a groupBy plus a
    // join back — two exchanges and two join stages deleted vs the
    // round-13 form, with identical results (min-per-group is the same
    // value wherever it is computed).
    minIdKeeperOf(componentMapOf(docs, pairsOf))
  }

  /** The min-id keeper decoration over a (doc_id, component) frame —
    * shared by the cached ([[componentMapFor]]) and seam
    * ([[componentMapOf]]) entry points. */
  private def minIdKeeperOf(comp: DataFrame): DataFrame =
    comp
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component").as("canon_id"),
        col("n_members"),
        (col("doc_id") === col("component")).cast("long").as("is_canonical"))
      .orderBy(col("doc_id"))

  /** Per-session materialization of [[componentMapOf]]'s (doc_id,
    * component) frame, keyed by (session, dir, edge-tier) — the
    * [[graft.operators.Curation]] co-purchase-cache precedent applied
    * to the canonical family (r15 verdict item 3): `dedup_canonical_map`
    * / `_best` / `_embed` share the exact-PPJoin edge build + component
    * stage (and `_map_lsh` its own LSH tier) instead of re-shingling
    * the corpus per key. The cached frame is one (long, long) row per
    * doc, held as a localCheckpoint in the [[CacheRegistry]]. The edge
    * tier is "exact" (PPJoin verified pairs) or "lsh" (MinHash-LSH
    * verified pairs). */
  private def componentMapFor(spark: SparkSession, dir: String,
      tier: String): DataFrame =
    CacheRegistry.getOrBuild(spark, dir, s"canonical:$tier", "documents") {
      val docs = Tables.documents(spark, dir)
      val pairsOf: DataFrame => DataFrame = tier match {
        case "lsh" => d => minhashLshOf(d, HotBucketCap)
          .select(col("doc_a"), col("doc_b"))
        case _ => d => ngramJaccardOf(hashedShinglesOf(d))
          .select(col("doc_a"), col("doc_b"))
      }
      componentMapOf(docs, pairsOf).localCheckpoint()
    }

  /** The shared component stage under the canonical-map family: every
    * doc labeled with the MIN doc_id of its near-dup connected
    * component, through the width-gated exact-digest collapse —
    * returned undecorated as (doc_id, component) so keeper POLICIES
    * ([[canonicalMap]]'s min-id, [[canonicalBest]]'s quality-argmax)
    * layer on top without re-running the pair stage. Edge endpoints
    * are reps BY CONSTRUCTION (`pairsOf` runs over `repDocs`, the
    * semi-join of docs to `repIds`), so [[Curation.componentsOf]]'s
    * phantom-endpoint probe is skipped — the r15 per-key membership
    * semi-join + collect this family paid for a guarantee it already
    * holds. */
  private[graft] def componentMapOf(docs: DataFrame,
      pairsOf: DataFrame => DataFrame): DataFrame = {
    val widthOk = coalesce(expr("size(split(text, ' ')) >= 3"), lit(false))
    val withRep = docs.select(col("doc_id"),
      when(widthOk, md5(col("text").cast("binary")))
        .otherwise(concat(lit("doc:"), col("doc_id"))).as("fp"))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"), col("rep"))
    val repIds = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"))
    val repDocs = docs.join(repIds, Seq("doc_id"), "left_semi")
    val pairs = pairsOf(repDocs)
    val repComp = Curation.componentsOf(repIds, pairs,
        edgesSubsetOfNodes = true)
      .select(col("doc_id").as("rep"), col("component"))
    withRep.join(repComp, Seq("rep"))
      .select(col("doc_id"), col("component"))
  }

  /** [[canonicalMap]] with the edge set swapped from the exact PPJoin
    * pairs to the MinHash-LSH VERIFIED pair set ([[minhashLsh]]) — the
    * form a 100 TB corpus actually runs: signatures are fixed-size, the
    * bucket join is banded, and the hot-bucket guard bounds degenerate
    * boilerplate, so the edge stage stays linear where PPJoin's inverted
    * index is merely sub-quadratic. Everything downstream is shared:
    * the same width-gated exact-digest collapse, the same
    * pointer-jumping components, the same doc → keeper output shape.
    *
    * ORACLE-PAIRED (r17): the oracle replays the WHOLE LSH pipeline —
    * digest collapse, [[DuckXx]]-re-derived signatures/banding, bucket
    * cap, exact verify, recursive components — so the mapping is
    * two-engine hash-exact including the LSH edge discovery itself;
    * DedupSimilaritySpec additionally pins bit-equality vs the exact
    * [[canonicalMap]] on the fixture. */
  def canonicalMapLsh(spark: SparkSession, dir: String): DataFrame =
    minIdKeeperOf(componentMapFor(spark, dir, "lsh"))

  /** [[canonicalMap]] with the keep-BEST policy: every doc (including
    * the dropped copies — this is the REDIRECT table, not the kept set)
    * maps to the highest-quality member of its near-dup cluster
    * (distinct_ratio desc, doc_id tie-break — the
    * [[graft.operators.Curation.canonicalDocs]] argmax device at map
    * granularity). Where `cur_canonical` returns only the surviving
    * quality-gated keepers, this key answers "every old id redirects
    * WHERE" — the artifact that rewrites references when dedup keeps
    * the best copy rather than the first. The keeper choice is
    * deliberately ungated: a cluster whose every member fails the
    * quality gate still needs a canonical target (gating is the
    * CONSUMER's filter).
    *
    * ORACLE-PAIRED like its min-id sibling: same recursive-CTE
    * components, plus the distinct-ratio replay (exact token algebra)
    * and the same argmax window — keeper selection verified
    * cross-engine. Scale: [[componentMapOf]] unchanged, one extra
    * component-keyed window pass (first_value rides the same sort as
    * the membership count). */
  def canonicalBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val comp = componentMapFor(spark, dir, "exact")
    val dr = docs.selectExpr("doc_id",
      "cast(size(array_distinct(split(text, ' '))) as double) / size(split(text, ' ')) as dr")
    val wBest = Window.partitionBy(col("component"))
      .orderBy(col("dr").desc_nulls_last, col("doc_id"))
    comp.join(dr, Seq("doc_id"))
      .withColumn("canon_id", first(col("doc_id")).over(wBest))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("canon_id"), col("n_members"),
        (col("doc_id") === col("canon_id")).cast("long").as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Retrieval-augmented dedup, composed end-to-end in ONE plan — the
    * cross-modal pipeline shape (r14 verdict item 4): documents ⨝
    * embeddings (doc_id ↔ vec_id), text near-dup RETRIEVAL + VERIFY
    * (the PPJoin prefix-filter tier — candidate generation and exact
    * Jaccard verification with a completeness guarantee, so the oracle
    * replays it exactly), connected components, then a CROSS-MODAL
    * KEEPER: each cluster redirects to the member whose EMBEDDING is
    * closest (cosine) to the cluster's embedding centroid — "keep the
    * most representative copy", the prototype choice, where
    * [[canonicalBest]] keeps the highest text quality and SemDeDup
    * keeps the farthest-from-centroid (hardest) member. Ties break to
    * the lowest doc_id; a cluster with no embeddings falls back to the
    * min-id keeper.
    *
    * Shuffle accounting (PlanAuditSpec pins float vectors shuffle
    * ≤ once): the embedding table joins the component map on doc_id —
    * that equi-join is the ONE place whole vectors may move. The
    * centroid aggregate ships per-dim partial sums at (component, dim)
    * grain (map-side combine — metadata, not vectors), and the cosine
    * pass joins the bounded centroid table BACK as a broadcast
    * (multi-member components are dup-density-bounded, the same
    * argument as the near-dup edge list), so member vectors are read
    * in place, never reshuffled by component.
    *
    * ORACLE-PAIRED end to end: exact-edge components (recursive CTE) +
    * the labelCentroids DECIMAL(38,6) per-dim mean device + the
    * [[graft.functions.VectorOps]] sequential-fold dot contract make
    * even the keeper argmax replay bit-exact in DuckDB. */
  def canonicalEmbed(spark: SparkSession, dir: String): DataFrame = {
    val comp = componentMapFor(spark, dir, "exact")
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("component"))))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"),
        VectorOps.norm("embedding").as("nrm"))
    // only multi-member components need a centroid (singletons keep
    // themselves) — this is the dup-density-bounded set
    val multi = comp.filter(col("n_members") > 1)
      .select(col("doc_id"), col("component"))
    val embM = emb.join(multi, Seq("doc_id")) // the ONE vector shuffle
    val centDims = embM
      .select(col("component"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("component"), col("dim"))
      .agg((sum(col("x").cast("double").cast("decimal(38,6)")).cast("double") /
        count(lit(1))).as("m"))
    val cent = centDims
      .groupBy(col("component"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(col("component"), expr("transform(dm, p -> p.m)").as("cvec"))
      .withColumn("cnorm", sqrt(VectorOps.dotHof("cvec", "cvec")))
    val wKeep = Window.partitionBy(col("component"))
      .orderBy(col("ccos").desc_nulls_last, col("doc_id"))
    val keep = embM.join(broadcast(cent), Seq("component"))
      .withColumn("ccos",
        VectorOps.dotHof("embedding", "cvec") / (col("nrm") * col("cnorm")))
      .withColumn("rk", row_number().over(wKeep))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("keeper"))
    comp.join(keep, Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper"), col("component")).as("canon_id"),
        col("n_members"),
        (col("doc_id") === coalesce(col("keeper"), col("component")))
          .cast("long").as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Floor / cap for the DERIVED duplicated-span length (whitespace
    * tokens). Production substring dedup uses ~50 BPE tokens (Lee et
    * al. 2021); the fixture docs average ~50 tokens total, so the
    * derivation floors at the scaled-down gate width 8 that rounds
    * 13-15 shipped as a constant. The algorithm is L-invariant — only
    * gram width changes. */
  private val SpanLenFloor = 8
  private val SpanLenCap = 50

  /** Span length derived from corpus token statistics (r15 verdict
    * item 2 — the ANN-geometry derivation argument applied to the
    * substring family): a shared L-token span is dedup SIGNAL only if
    * it cannot recur by chance, and with T corpus tokens and V distinct
    * tokens the expected number of random L-gram collisions across the
    * corpus is ~T²/V^L — below one iff L > 2·log_V T. So L =
    * clamp([[SpanLenFloor]], [[SpanLenCap]], ⌊2·ln(T+1)/ln(V+1)⌋ + 1),
    * computed by the IDENTICAL formula in the DuckDB oracles (the
    * 1-row `prm` CTE) so both engines always agree; the ⌊·⌋+1 form
    * makes the strict inequality explicit. Natural-language corpora
    * keep V growing with T (Heaps' law), so the floor binds there and
    * L grows only for degenerate tiny-vocab corpora — exactly where
    * longer spans are needed to mean anything (DedupSimilaritySpec
    * pins both shapes). */
  private[graft] def spanLenOf(tokens: Long, vocab: Long): Int = {
    val raw = math.floor(2.0 * math.log(tokens + 1.0) /
      math.log(vocab + 1.0)).toInt + 1
    math.max(SpanLenFloor, math.min(SpanLenCap, raw))
  }

  /** One (token-count, distinct-token) aggregate over `docs` →
    * [[spanLenOf]]. A single 1-row collect per key — bounded driver
    * bookkeeping, the BPE-argmax precedent; the distinct count is
    * vocab-grain (Heaps' law), never corpus-grain. */
  private[graft] def deriveSpanLen(docs: DataFrame): Int = {
    val r = docs.selectExpr("explode(split(text, ' ')) as tok")
      .agg(count(lit(1)).as("t"), countDistinct(col("tok")).as("v"))
      .head()
    spanLenOf(r.getLong(0), r.getLong(1))
  }

  /** The derived span length per (corpus, planted?), cached in the
    * [[CacheRegistry]]: L is a property of the CORPUS, shared by all five
    * substring keys — re-deriving it per key was a measured ~0.4 s of
    * repeated vocab-grain aggregation per invocation in-sweep. */
  private def spanLenFor(spark: SparkSession, dir: String,
      planted: Boolean): Int =
    CacheRegistry.getOrBuild(spark, dir, s"spanLen:$planted", "documents") {
      val docs = Tables.documents(spark, dir).toDF()
      deriveSpanLen(if (planted) plantedSubstringDocs(docs) else docs)
    }

  /** The substring family's PLANTED gate corpus (r15 verdict item 1):
    * the fixture word-soup carries almost no organic ≥ 8-token overlap
    * — `dedup_substring_self` passed its r15 oracle gate with 0 rows vs
    * 0 rows, a vacuous hash match. The [[graft.operators.TextAnalysis]]
    * `text_pii_redact` device fixes that: PLANT deterministic material
    * derived from fixture columns with the SAME expression in both
    * engines, so the machinery under test provably fires in the HASH
    * gate itself. Two plants, appended to `text` in fixed order:
    *
    *  - cross-doc: docs with doc_id % 10 ∈ {0, 1} append an identical
    *    10-token phrase keyed by their group doc_id div 10
    *    (`zz<g>w0 … zz<g>w9`) — one shared maximal span per consecutive
    *    id pair, ~n/10 span rows;
    *  - self: docs with doc_id % 5 = 0 append their own first 9 tokens
    *    TWICE — three occurrences of the prefix (original + 2 copies)
    *    → deterministic intra-doc repetition runs at 3 offset deltas.
    *
    * The artifact keys (`_removed`, `_incremental`) stay on the RAW
    * corpus — they are the shipped output shapes; the planted corpus
    * exists to exercise the span machinery in `_spans`/`_hashed`/
    * `_self`'s oracle gate. */
  private[graft] def plantedSubstringDocs(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id",
      """concat(text,
        |  CASE WHEN doc_id % 10 < 2
        |    THEN concat(' ', concat_ws(' ', transform(sequence(0, 9),
        |      i -> concat('zz', cast(doc_id div 10 as string), 'w',
        |                  cast(i as string)))))
        |    ELSE '' END,
        |  CASE WHEN doc_id % 5 = 0
        |    THEN concat(' ', array_join(slice(split(text, ' '), 1, 9), ' '),
        |         ' ', array_join(slice(split(text, ' '), 1, 9), ' '))
        |    ELSE '' END) as text""".stripMargin)

  /** Grams in more than this many DISTINCT documents are boilerplate;
    * pruning them bounds the gram join's per-key fanout (quadratic in
    * df otherwise — the decontamination DfCap stance). A true span
    * crossing a pruned gram splits at it; by then it is a >1000-way
    * template, which is [[Pipeline.boilerplateGrams]]' job, not span
    * dedup's. The fixture can never reach the cap, so the oracle tier
    * replays it as a no-op. */
  private val SpanGramDfCap = 1000

  /** Exact duplicated-substring spans — the suffix-array dedup of Lee
    * et al. ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499) re-expressed relationally so it
    * distributes: every shared token span of length ≥ [[SpanLen]]
    * between two documents contains at least one ALIGNED SpanLen-gram,
    * and a maximal shared span at a fixed alignment offset is exactly a
    * maximal run of consecutive matching gram positions. So instead of
    * a suffix array (pointer-chasing, single-machine), the plan is:
    * position-keyed L-grams → hot-gram df prune → gram equi-join with
    * `doc_a < doc_b` → per-(pair, offset-delta) gaps-and-islands window
    * → one row per maximal span with exact start offsets and length.
    * Spans at different deltas may overlap (self-similar text); that
    * matches what suffix-array output reports before interval union.
    *
    * Scale posture: the only shuffles are the gram-key join and the
    * (pair, delta)-partitioned islands window, whose partitions are
    * bounded by per-pair match counts; the df cap kills the quadratic
    * hot-gram term; with `hashed = true` the join key is an 8-byte
    * xxhash64 over a slice of per-token hashes, so gram STRINGS never
    * shuffle (the [[hashedShinglesOf]] currency — a collision can only
    * add a FALSE span, which production would verify on the two texts;
    * DedupSimilaritySpec pins hashed == raw on the fixture). Gram
    * width L derives per corpus ([[spanLenOf]]); the gate keys run on
    * the PLANTED corpus ([[plantedSubstringDocs]]) so the islands/
    * delta/maximality machinery provably fires in the driver's hash
    * gate. */
  def substringSpans(spark: SparkSession, dir: String): DataFrame = {
    val l = spanLenFor(spark, dir, planted = true)
    substringSpansOnGrams(
      spanGramsFor(spark, dir, planted = true, hashed = false, l), l)
  }

  /** ORACLE-PAIRED (r17): the DuckDB oracle re-derives the hashed gram
    * chains itself (recursive xxhash64 fold at the derived L), so the
    * hashed tier no longer leans solely on the ==raw spec pin. */
  def substringSpansHashed(spark: SparkSession, dir: String): DataFrame = {
    val l = spanLenFor(spark, dir, planted = true)
    substringSpansOnGrams(
      spanGramsFor(spark, dir, planted = true, hashed = true, l), l)
  }

  /** Per-session materialization of the pruned gram frame per
    * (corpus, planted?, hashed?, L) in the [[CacheRegistry]], as the
    * canonical family and Similarity's trained statistics do, applied
    * to the substring family (r17 optimization round): the five
    * substring keys re-ran the SAME gram explode + hot-gram df aggregate + anti-join
    * per invocation — `dedup_substring_self` and `_spans` share the
    * (planted, raw, L) frame exactly, `_hashed` the (planted, hashed)
    * one, `_removed` (raw, hashed), `_incremental` (raw, raw); each
    * key's pair join + islands window still computes per invocation.
    * Pinned DISK_ONLY, not in-memory: the raw-gram frames are ~18M rows
    * of gram strings at sf0.1 (order 1 GB), and pinning that on an 8 GB
    * bench heap taxes every LATER key's GC — local-disk blocks ride the
    * OS page cache instead. */
  private def spanGramsFor(spark: SparkSession, dir: String,
      planted: Boolean, hashed: Boolean, spanLen: Int): DataFrame =
    CacheRegistry.getOrBuild(spark, dir,
        s"spanGram:$planted:$hashed:$spanLen", "documents") {
      val docs0 = Tables.documents(spark, dir).toDF()
      val docs = if (planted) plantedSubstringDocs(docs0) else docs0
      spanGramsOf(docs, hashed, spanLen)
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  /** Position-keyed, df-cap-pruned `spanLen`-grams — the shared
    * currency of all substring keys. The hot side is by definition
    * tiny (each member needs > cap distinct docs) — broadcast
    * anti-join, same shape as decontaminateHashed. */
  private def spanGramsOf(docs: DataFrame, hashed: Boolean,
      spanLen: Int): DataFrame = {
    val toks = "split(text, ' ')"
    val base =
      if (hashed) docs.withColumn("th", expr(s"transform($toks, t -> xxhash64(t))"))
      else docs
    val gramArr =
      if (hashed)
        s"transform(sequence(1, size(th) - ${spanLen - 1}), i -> xxhash64(slice(th, i, $spanLen)))"
      else
        s"transform(sequence(1, size($toks) - ${spanLen - 1}), i -> array_join(slice($toks, i, $spanLen), ' '))"
    val g = base.filter(expr(s"size($toks) >= $spanLen"))
      .selectExpr("doc_id", s"posexplode($gramArr) as (p, gram)")
      .select(col("doc_id"), col("p").cast("long").as("p"), col("gram"))
    val hot = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > SpanGramDfCap).select(col("gram"))
    g.join(broadcast(hot), Seq("gram"), "left_anti")
  }

  /** Maximal-run islands merge over aligned matches (a, b, pa, delta):
    * consecutive pa at fixed (pair, delta) = one span. */
  private def spanIslands(m: DataFrame, spanLen: Int): DataFrame = {
    val w = Window.partitionBy(col("a"), col("b"), col("delta")).orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("delta"), col("grp"))
      .agg(min(col("pa")).as("start_a"), max(col("pa")).as("pmax"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("start_a"),
        (col("start_a") + col("delta")).as("start_b"),
        (col("pmax") - col("start_a") + lit(spanLen.toLong)).as("span_tokens"))
  }

  private[graft] def substringSpansOf(docs: DataFrame,
      hashed: Boolean): DataFrame =
    substringSpansOfL(docs, hashed, deriveSpanLen(docs))

  private def substringSpansOfL(docs: DataFrame, hashed: Boolean,
      spanLen: Int): DataFrame =
    substringSpansOnGrams(spanGramsOf(docs, hashed, spanLen), spanLen)

  /** Pair join + islands over an already-built pruned gram frame — the
    * per-invocation half of the spans keys (the gram stage itself is
    * shared through [[spanGramsFor]] on the dir-level paths). */
  private def substringSpansOnGrams(pruned: DataFrame,
      spanLen: Int): DataFrame = {
    val m = pruned.as("x").join(pruned.as("y"),
        col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.p").as("pa"), (col("y.p") - col("x.p")).as("delta"))
    spanIslands(m, spanLen)
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
  }

  /** Intra-document repetition spans — the WITHIN-doc half of Lee et
    * al.'s substring dedup (a document repeating its own ≥ SpanLen
    * span is boilerplate/templating even with zero cross-doc dups;
    * [[graft.operators.TextAnalysis]]'s repetition ratios measure the
    * mass, this reports the exact spans). Same machinery with the join
    * condition `same doc ∧ pa < pb`; overlapping self-matches in
    * periodic text merge into one maximal run per offset-delta, which
    * is exactly how a suffix array reports self-similarity. */
  def substringSelf(spark: SparkSession, dir: String): DataFrame = {
    val l = spanLenFor(spark, dir, planted = true)
    substringSelfOnGrams(
      spanGramsFor(spark, dir, planted = true, hashed = false, l), l)
  }

  private[graft] def substringSelfOf(docs: DataFrame, hashed: Boolean): DataFrame =
    substringSelfOfL(docs, hashed, deriveSpanLen(docs))

  private def substringSelfOfL(docs: DataFrame, hashed: Boolean,
      spanLen: Int): DataFrame =
    substringSelfOnGrams(spanGramsOf(docs, hashed, spanLen), spanLen)

  private def substringSelfOnGrams(pruned: DataFrame,
      spanLen: Int): DataFrame = {
    val m = pruned.as("x").join(pruned.as("y"),
        col("x.gram") === col("y.gram") && col("x.doc_id") === col("y.doc_id") &&
          col("x.p") < col("y.p"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.p").as("pa"), (col("y.p") - col("x.p")).as("delta"))
    spanIslands(m, spanLen)
      .select(col("doc_a").as("doc_id"), col("start_a"), col("start_b"),
        col("span_tokens"))
      .orderBy(col("doc_id"), col("start_a"), col("start_b"))
  }

  /** Incremental substring dedup — the 100 TB INGEST shape of
    * [[substringSpans]]: spans between a NEW batch and the standing
    * corpus only. The gram join is strictly cross-side (new × corpus),
    * so no corpus × corpus term exists in the plan — batch cost scales
    * with batch size × match density, exactly like [[incremental]]'s
    * digest/near tiers. The df cap is computed over corpus ∪ batch
    * here (boilerplate is boilerplate wherever it lives); a production
    * ingest maintains that gram-df table incrementally instead of
    * rescanning. Split device: the same multiplicative-hash 20% "new"
    * slice [[incremental]] uses, so the two incremental keys describe
    * the same batch. */
  def substringIncremental(spark: SparkSession, dir: String): DataFrame = {
    // dir-level path rides the shared gram cache; is_new is a pure
    // function of doc_id, so it attaches to the GRAM rows as an
    // expression instead of a join back to documents — same values,
    // one less corpus scan per invocation
    val l = spanLenFor(spark, dir, planted = false)
    substringIncrementalOnGrams(
      spanGramsFor(spark, dir, planted = false, hashed = false, l)
        .withColumn("is_new",
          expr("(doc_id * 2654435761) % 4294967296 % 100 >= 80")), l)
  }

  /** Two-sided seam for the STREAMING ingest twin
    * ([[graft.streaming.CorpusStream.substringIncrementalStream]]):
    * span-match one landed batch of new documents against the standing
    * corpus. Reuses [[substringIncrementalOf]] wholesale — the df cap
    * and derived span length are computed over corpus ∪ THIS batch
    * (the statistics a live ingest actually has; on any corpus where
    * neither is near its boundary — every fixture tier — the output is
    * bit-equal to the all-at-once batch key restricted to this batch's
    * docs, which the StreamingSpec twin pins). */
  private[graft] def substringIncrementalAgainst(corpus: DataFrame,
      batch: DataFrame): DataFrame =
    substringIncrementalOf(
      corpus.select(col("doc_id"), col("text")).withColumn("is_new", lit(false))
        .unionByName(
          batch.select(col("doc_id"), col("text")).withColumn("is_new", lit(true))))

  private[graft] def substringIncrementalOf(docs: DataFrame,
      spanLen0: Int = 0): DataFrame = {
    val spanLen = if (spanLen0 > 0) spanLen0
      else deriveSpanLen(docs.select(col("doc_id"), col("text")))
    substringIncrementalOnGrams(
      spanGramsOf(docs.select(col("doc_id"), col("text")), hashed = false,
        spanLen)
        .join(docs.select(col("doc_id"), col("is_new")), Seq("doc_id")),
      spanLen)
  }

  /** Cross-side match + islands over an is_new-flagged gram frame —
    * the per-invocation half of the incremental key. */
  private def substringIncrementalOnGrams(g: DataFrame,
      spanLen: Int): DataFrame = {
    val gOld = g.filter(!col("is_new"))
      .select(col("doc_id").as("a"), col("p").as("pa"), col("gram"))
    val gNew = g.filter(col("is_new"))
      .select(col("doc_id").as("b"), col("p").as("pb"), col("gram"))
    val m = gOld.join(gNew, Seq("gram"))
      .select(col("a"), col("b"), col("pa"), (col("pb") - col("pa")).as("delta"))
    spanIslands(m, spanLen)
      .select(col("doc_b").as("new_doc"), col("doc_a").as("corpus_doc"),
        col("start_b").as("start_new"), col("start_a").as("start_corpus"),
        col("span_tokens"))
      .orderBy(col("new_doc"), col("corpus_doc"), col("start_new"),
        col("start_corpus"))
  }

  /** The dedup OUTPUT Lee et al. actually ship: the corpus with
    * duplicated spans CUT. Keep rule: of each cross-doc span, the
    * lower doc_id keeps its occurrence; every doc_b-side token position
    * covered by any span is removed (positions union via distinct).
    * Output is per-doc accounting plus the surviving text, reassembled
    * in token order — the [[Pipeline.lineDedupOf]] device at token
    * grain. Docs that lose everything (exact duplicates of an earlier
    * doc) survive as empty-text rows rather than vanishing.
    *
    * Scale posture: covered positions explode to at most the corpus'
    * duplicated-token mass (what the operator exists to remove), keyed
    * (doc, pos) for the anti-join; reassembly groups by doc with a
    * sorted collect bounded by per-doc token counts — the same bound
    * lineDedup already rides. The span stage runs on HASHED grams
    * (r15 verdict item 2 — this is the one substring key a production
    * corpus actually ships, so 8-byte keys, not gram strings, are what
    * shuffles); the oracle replays the raw-gram tier, valid because
    * hashed == raw is spec-pinned and re-verified by this very hash
    * gate at both sweep tiers. */
  def substringRemoved(spark: SparkSession, dir: String): DataFrame = {
    val l = spanLenFor(spark, dir, planted = false)
    substringRemovedFromSpans(Tables.documents(spark, dir).toDF(),
      substringSpansOnGrams(
        spanGramsFor(spark, dir, planted = false, hashed = true, l), l))
  }

  private[graft] def substringRemovedOf(docs: DataFrame,
      hashed: Boolean = true, spanLen0: Int = 0): DataFrame =
    substringRemovedFromSpans(docs,
      if (spanLen0 > 0) substringSpansOfL(docs, hashed, spanLen0)
      else substringSpansOf(docs, hashed = hashed))

  /** Cut + reassembly over an already-computed span frame. */
  private def substringRemovedFromSpans(docs: DataFrame,
      spans: DataFrame): DataFrame = {
    val toks = "split(text, ' ')"
    val covered = spans.select(col("doc_b").as("doc_id"),
        explode(expr("sequence(start_b, start_b + span_tokens - 1)")).as("p"))
      .distinct()
    val tk = docs.selectExpr("doc_id", s"posexplode($toks) as (p, tok)")
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
    val kept = tk.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(p, tok))), s -> s.tok)"))
          .as("text_kept"))
    docs.selectExpr("doc_id", s"cast(size($toks) as bigint) as n_tokens")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy(col("doc_id"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring_spans" -> substringSpans,
    "dedup_substring_hashed" -> substringSpansHashed,
    "dedup_substring_self" -> substringSelf,
    "dedup_substring_removed" -> substringRemoved,
    "dedup_substring_incremental" -> substringIncremental,
    "dedup_canonical_embed" -> canonicalEmbed,
    "dedup_canonical_map" -> canonicalMap,
    "dedup_canonical_map_lsh" -> canonicalMapLsh,
    "dedup_canonical_best" -> canonicalBest,
    "dedup_incremental"   -> incremental,
    "dedup_exact"         -> exact,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_containment"   -> containment,
    "dedup_minhash_lsh"   -> minhashLsh,
    "dedup_simhash"       -> simhash,
    "dedup_simhash_pairs" -> simhashPairs,
    "dedup_cosine_pairs"  -> cosinePairs,
    "dedup_cosine_lsh"    -> cosineLsh,
    "dedup_bucket_stats"  -> bucketStats,
    "dedup_block_stats"   -> blockStats)

  private val dShingles =
    """list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |  i -> concat_ws(' ', string_split(text, ' ')[i], string_split(text, ' ')[i + 1],
      |                 string_split(text, ' ')[i + 2])))""".stripMargin

  /** Shared recursive-CTE body for the canonical-map oracles: exact
    * near-dup pairs → symmetric edges → reachability closure → min-id
    * component per doc (`lab`) + component sizes (`sz`). */
  private lazy val canonLabCtes =
    s"""WITH RECURSIVE
       |sh AS (SELECT doc_id, $dShingles AS s FROM documents),
       |e0 AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
       |             any_value(a.n) AS na, any_value(b.n) AS nb
       |      FROM e0 a JOIN e0 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |prs AS (SELECT doc_a, doc_b FROM p
       |        WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.8),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |          UNION ALL SELECT doc_b, doc_a FROM prs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
       |canon AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS canon_id
       |          FROM reach GROUP BY u),
       |lab AS (SELECT d.doc_id, COALESCE(c.canon_id, d.doc_id) AS canon_id
       |        FROM (SELECT doc_id FROM documents) d
       |        LEFT JOIN canon c ON c.doc_id = d.doc_id),
       |sz AS (SELECT canon_id, COUNT(*) AS n_members FROM lab GROUP BY 1)""".stripMargin

  /** Stats CTE trio over a bucket relation `rel(n)` for the
    * [[blockStats]] oracle — the same histogram/cum/integer-rank math
    * as [[bucketStatsOf]], in DuckDB. */
  private def dStats(rel: String, path: String, p: String): String =
    s"""${p}h AS (SELECT n, COUNT(*) AS cnt FROM $rel GROUP BY n),
       |${p}c AS (SELECT n, cnt, SUM(cnt) OVER (ORDER BY n) AS cum,
       |                 SUM(cnt) OVER () AS total FROM ${p}h),
       |${p}s AS (SELECT '$path' AS path, CAST(SUM(cnt) AS BIGINT) AS n_buckets,
       |                 CAST(SUM(n * cnt) AS BIGINT) AS n_entries,
       |                 CAST(MIN(CASE WHEN cum >= (total + 1) // 2 THEN n END) AS BIGINT)
       |                   AS p50_members,
       |                 CAST(MIN(CASE WHEN cum >= (99 * total + 99) // 100 THEN n END) AS BIGINT)
       |                   AS p99_members,
       |                 CAST(MAX(n) AS BIGINT) AS max_members
       |          FROM ${p}c)""".stripMargin

  /** The [[plantedSubstringDocs]] expression replayed in DuckDB — the
    * same two plants, same fixed concat order, over the same fixture
    * columns. */
  private val dPlantedDocs =
    """pd AS (SELECT doc_id, concat(text,
      |  CASE WHEN doc_id % 10 < 2
      |    THEN concat(' ', array_to_string(list_transform(generate_series(0, 9),
      |      i -> concat('zz', CAST(doc_id // 10 AS VARCHAR), 'w',
      |                  CAST(i AS VARCHAR))), ' '))
      |    ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0
      |    THEN concat(' ', array_to_string(string_split(text, ' ')[1:9], ' '),
      |         ' ', array_to_string(string_split(text, ' ')[1:9], ' '))
      |    ELSE '' END) AS text FROM documents)""".stripMargin

  /** Shared CTE prefix of the substring-span oracles over source table
    * `src`: tokenized docs → the 1-row derived-L `prm`
    * ([[spanLenOf]]'s formula verbatim) → position-keyed L-grams →
    * df-cap keep set → pruned grams `gg`. */
  private def dSpanCtes(src: String) =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       |prm AS (SELECT GREATEST($SpanLenFloor, LEAST($SpanLenCap,
       |          CAST(FLOOR(2.0 * ln(tt + 1) / ln(vv + 1)) AS INT) + 1)) AS L
       |        FROM (SELECT SUM(len(tk)) AS tt FROM t),
       |             (SELECT COUNT(DISTINCT tok) AS vv
       |              FROM (SELECT unnest(tk) AS tok FROM t))),
       |g AS (SELECT doc_id, i - 1 AS p,
       |             array_to_string(tk[i:i+L-1], ' ') AS gram
       |      FROM t, prm, unnest(generate_series(1, len(tk) - L + 1)) AS u(i)
       |      WHERE len(tk) >= L),
       |keep AS (SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS df
       |                           FROM g GROUP BY gram) WHERE df <= $SpanGramDfCap),
       |gg AS (SELECT g.* FROM g JOIN keep USING (gram))""".stripMargin

  /** Islands + span emission over a match CTE `m(a, b, pa, delta)`. */
  private val dSpanTail =
    s"""i AS (SELECT a, b, delta, pa,
       |        pa - row_number() OVER (PARTITION BY a, b, delta ORDER BY pa) AS grp
       |      FROM m),
       |spans AS (SELECT a AS doc_a, b AS doc_b, CAST(MIN(pa) AS BIGINT) AS start_a,
       |                 CAST(MIN(pa) + delta AS BIGINT) AS start_b,
       |                 CAST(MAX(pa) - MIN(pa) + (SELECT L FROM prm) AS BIGINT)
       |                   AS span_tokens
       |          FROM i GROUP BY a, b, delta, grp)""".stripMargin

  private val dCrossM =
    """m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.p AS pa, y.p - x.p AS delta
      |      FROM gg x JOIN gg y ON x.gram = y.gram AND x.doc_id < y.doc_id)""".stripMargin

  /** The HASHED substring-span gram stage (r17): grams as xxhash64
    * chains over L token hashes, where L is the CORPUS-DERIVED span
    * length — so the chain length is dynamic and the fold runs as a
    * recursive CTE advancing one token per iteration, the staged
    * [[DuckXx.xxLongSteps]] block inside each recursion arm. Gram
    * values stay unsigned HUGEINT (equality-only currency). Produces
    * `prm` (derived L) and `gg` (doc_id, p, gram) — [[dCrossM]] +
    * [[dSpanTail]] compose on top exactly as in the raw-gram form. */
  private val dSpanCtesHashedPlanted: String = {
    import DuckXx._
    val foldArm = stagedSelect(
      """SELECT s.doc_id, s.p0, s.j, s.acc, t2.th AS v
        |     FROM gstate s, th t2, prm
        |     WHERE t2.doc_id = s.doc_id AND t2.i = s.p0 + s.j
        |       AND s.j < prm.L""".stripMargin,
      "doc_id, p0, j + 1 AS j, xg AS acc",
      xxLongSteps("v", "acc", "xg_"))
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM pd),
       |prm AS (SELECT GREATEST($SpanLenFloor, LEAST($SpanLenCap,
       |          CAST(FLOOR(2.0 * ln(tt + 1) / ln(vv + 1)) AS INT) + 1)) AS L
       |        FROM (SELECT SUM(len(tk)) AS tt FROM t),
       |             (SELECT COUNT(DISTINCT tok) AS vv
       |              FROM (SELECT unnest(tk) AS tok FROM t))),
       |dt AS (SELECT DISTINCT unnest(tk) AS token FROM t),
       |$xxCte,
       |tp AS (SELECT doc_id, i, tk[i] AS token
       |       FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
       |th AS MATERIALIZED (
       |  SELECT tp.doc_id, tp.i, xx.h::HUGEINT AS th
       |  FROM tp JOIN xx USING (token)),
       |tlen AS (SELECT doc_id, len(tk) AS n FROM t),
       |gstate AS (
       |  SELECT th.doc_id, th.i AS p0, 0::BIGINT AS j, 42::HUGEINT AS acc
       |  FROM th, prm, tlen
       |  WHERE tlen.doc_id = th.doc_id AND tlen.n >= prm.L
       |    AND th.i <= tlen.n - prm.L + 1
       |  UNION ALL
       |  $foldArm),
       |g AS (SELECT doc_id, p0 - 1 AS p, acc AS gram
       |      FROM gstate, prm WHERE j = prm.L),
       |keep AS (SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS df
       |                           FROM g GROUP BY gram) WHERE df <= $SpanGramDfCap),
       |gg AS MATERIALIZED (SELECT g.* FROM g JOIN keep USING (gram))""".stripMargin
  }

  /** Shared simhash-oracle CTE chain: tokens → tf → the [[DuckXx]]
    * recursive xxhash64 replica over the DISTINCT vocabulary → 64
    * signed bit-weight sums → unsigned 64-bit signature `s` per doc.
    * The oracle re-derives every hash independently (HUGEINT modular
    * arithmetic), so the whole tf-weighted SimHash — hash, votes,
    * assembly — is two-engine-verified. */
  private val dSimhashCtes: String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |        FROM documents),
       |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
       |       FROM tok GROUP BY 1, 2),
       |dt AS (SELECT DISTINCT token FROM tf),
       |${DuckXx.xxCte},
       |bits AS (
       |  SELECT f.doc_id, b.b,
       |         SUM(f.tf * (((x.h >> b.b::INTEGER) & 1)::BIGINT * 2 - 1)) AS w
       |  FROM tf f JOIN xx x USING (token)
       |  CROSS JOIN (SELECT unnest(range(64)) AS b) b
       |  GROUP BY 1, 2),
       |sim AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN w > 0 THEN (1::UBIGINT << b::INTEGER)::HUGEINT
       |                       ELSE 0::HUGEINT END) AS HUGEINT) AS s
       |  FROM bits GROUP BY 1)""".stripMargin

  /** MinHash-LSH replayed end to end in DuckDB (r17): token hashes via
    * the [[DuckXx]] recursive CTE, shingle hashes as staged 3-long
    * xxhash64 chains, the 32-seed signature as staged 4-byte blocks
    * over exploded (row × seed) pairs, 8×4 banding with chained band
    * hashes, the 1024 hot-bucket cap, and exact Jaccard verification
    * over distinct shingle-hash sets. Every stage that the engine
    * computes with codegen expressions the oracle re-derives with
    * HUGEINT arithmetic — the strongest possible check on the whole
    * sketch path. Staging rationale in [[DuckXx]] (a single nested
    * expression was measured at interpreted-minutes). */
  private val dMinhashOracle: String = dMinhashOracleOver("documents")

  /** [[dMinhashOracle]] with the doc source as a parameter, and the
    * verified pair set exposed as CTE `vpairs` — reused by the
    * canonical-map-LSH oracle, whose edge stage IS this pipeline run
    * over the digest-collapse reps. */
  private def dMinhashPairCtes(src: String): String = {
    import DuckXx._
    val sh0 = staged(
      """SELECT a.doc_id, a.th AS tha, b.th AS thb, c.th AS thc
        |     FROM th a JOIN th b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |               JOIN th c ON c.doc_id = a.doc_id AND c.i = a.i + 2"""
        .stripMargin,
      "doc_id, shh AS s", xxChainSteps(Seq("tha", "thb", "thc"), "shh"), "sh0")
    val shH = staged("SELECT DISTINCT s FROM sh0", "s, hv AS hh",
      xxLongSteps("s", "42::HUGEINT", "hv_"), "shH")
    val sigx = staged(
      """SELECT d.doc_id, q.pfx, u.sd
        |     FROM (SELECT DISTINCT doc_id, s FROM sh0) d
        |     JOIN shH_p q USING (s)
        |     CROSS JOIN (SELECT unnest(range(0, 32)) AS sd) u""".stripMargin,
      s"doc_id, sd, ${signed64("qq")} AS v",
      xxIntSteps("sd", "pfx", "qq_"), "sigx")
    val bands = staged(
      """SELECT doc_id, (sd // 4)::INTEGER AS band,
        |            max(CASE WHEN sd % 4 = 0 THEN m END) AS s1,
        |            max(CASE WHEN sd % 4 = 1 THEN m END) AS s2,
        |            max(CASE WHEN sd % 4 = 2 THEN m END) AS s3,
        |            max(CASE WHEN sd % 4 = 3 THEN m END) AS s4
        |     FROM sig GROUP BY 1, 2""".stripMargin,
      s"doc_id, band, ${signed64("bh")} AS band_sig",
      xxChainSteps(Seq(unsigned64("s1"), unsigned64("s2"),
        unsigned64("s3"), unsigned64("s4")), "bh"), "bands")
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM $src
       |  WHERE len(string_split(text, ' ')) >= 3),
       |dt AS (SELECT DISTINCT unnest(tk) AS token FROM t),
       |$xxCte,
       |tp AS (SELECT doc_id, i, tk[i] AS token
       |       FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
       |th AS MATERIALIZED (
       |  SELECT tp.doc_id, tp.i, xx.h::HUGEINT AS th
       |  FROM tp JOIN xx USING (token)),
       |$sh0,
       |$shH,
       |shH_p AS MATERIALIZED (
       |  SELECT s, ${intBlockPrefix("hh")} AS pfx FROM shH),
       |$sigx,
       |sig AS (SELECT doc_id, sd, min(v) AS m FROM sigx GROUP BY 1, 2),
       |$bands,
       |bk AS MATERIALIZED (
       |  SELECT band, band_sig, count(*) AS cnt FROM bands GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bands a JOIN bands b2 ON a.band = b2.band
       |                           AND a.band_sig = b2.band_sig
       |                           AND a.doc_id < b2.doc_id
       |  JOIN bk ON bk.band = a.band AND bk.band_sig = a.band_sig
       |  WHERE bk.cnt > 1 AND bk.cnt <= $HotBucketCap),
       |shd AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM sh0),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
       |common AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS com
       |  FROM cand c JOIN shd x ON x.doc_id = c.doc_a
       |              JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
       |  GROUP BY 1, 2),
       |vpairs AS MATERIALIZED (
       |  SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
       |         coalesce(cm.com, 0)::DOUBLE
       |           / (na.n + nb.n - coalesce(cm.com, 0)) AS jaccard
       |  FROM cand c
       |  LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
       |  JOIN sizes na ON na.doc_id = c.doc_a
       |  JOIN sizes nb ON nb.doc_id = c.doc_b
       |  WHERE coalesce(cm.com, 0)::DOUBLE
       |          / (na.n + nb.n - coalesce(cm.com, 0)) >= 0.8)""".stripMargin
  }

  private def dMinhashOracleOver(src: String): String =
    s"""WITH RECURSIVE
       |${dMinhashPairCtes(src)}
       |SELECT doc_a, doc_b, jaccard FROM vpairs ORDER BY doc_a, doc_b"""
      .stripMargin

  /** [[canonicalMapLsh]] replayed end to end (r17): the width-gated
    * md5 digest collapse to reps, the FULL MinHash-LSH pair pipeline
    * ([[dMinhashPairCtes]]) over the rep docs, recursive reachability,
    * min-id components, and the member expansion back through the
    * digest groups — every hash re-derived by the oracle. */
  private val dCanonicalLshOracle: String =
    s"""WITH RECURSIVE
       |repm AS MATERIALIZED (
       |  SELECT doc_id,
       |         min(doc_id) OVER (PARTITION BY fp) AS rep
       |  FROM (SELECT doc_id,
       |               CASE WHEN coalesce(len(string_split(text, ' ')) >= 3, false)
       |                    THEN md5(text)
       |                    ELSE concat('doc:', CAST(doc_id AS VARCHAR)) END AS fp
       |        FROM documents)),
       |repd AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN repm ON repm.doc_id = d.doc_id AND repm.rep = d.doc_id),
       |${dMinhashPairCtes("repd")},
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM vpairs
       |          UNION ALL SELECT doc_b, doc_a FROM vpairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
       |rcanon AS (SELECT u AS rep, LEAST(u, MIN(v)) AS component
       |           FROM reach GROUP BY u),
       |lab AS (SELECT m.doc_id, COALESCE(c.component, m.rep) AS component
       |        FROM repm m LEFT JOIN rcanon c ON c.rep = m.rep),
       |sz AS (SELECT component, COUNT(*) AS n_members FROM lab GROUP BY 1)
       |SELECT l.doc_id, l.component AS canon_id,
       |       sz.n_members,
       |       CAST(l.doc_id = l.component AS BIGINT) AS is_canonical
       |FROM lab l JOIN sz USING (component)
       |ORDER BY l.doc_id""".stripMargin

  override val oracles: Map[String, String] = Map(
    "dedup_minhash_lsh" -> dMinhashOracle,
    "dedup_canonical_map_lsh" -> dCanonicalLshOracle,
    // The hashed-gram span key replayed hash-for-hash (r17): same
    // planted corpus, derived L, df cap, and island/span emission as
    // the raw-gram oracle, but over xxhash64 gram chains the oracle
    // re-derives itself (recursive fold, length = the derived L).
    "dedup_substring_hashed" ->
      s"""WITH RECURSIVE $dPlantedDocs,
         |$dSpanCtesHashedPlanted,
         |$dCrossM,
         |$dSpanTail
         |SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM spans
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH RECURSIVE $dSimhashCtes
         |SELECT doc_id, ${DuckXx.signed64("s")} AS simhash FROM sim""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH RECURSIVE $dSimhashCtes,
         |banded AS (
         |  SELECT doc_id, s::UBIGINT AS hu, b.band,
         |         ((s::UBIGINT >> (b.band * 16)::INTEGER) & 65535) AS bsig
         |  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS band) b),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |         a.hu AS ha, b2.hu AS hb
         |  FROM banded a JOIN banded b2
         |    ON a.band = b2.band AND a.bsig = b2.bsig AND a.doc_id < b2.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(ha, hb))::BIGINT AS hamming
         |FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH $dPlantedDocs,
         |${dSpanCtes("pd")},
         |$dCrossM,
         |$dSpanTail
         |SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM spans
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    "dedup_substring_incremental" ->
      s"""WITH ${dSpanCtes("documents")},
         |fl AS (SELECT doc_id,
         |              (doc_id * 2654435761) % 4294967296 % 100 >= 80 AS is_new
         |       FROM documents),
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.p AS pa, y.p - x.p AS delta
         |      FROM gg x JOIN fl fx ON fx.doc_id = x.doc_id AND NOT fx.is_new
         |           JOIN gg y ON x.gram = y.gram
         |           JOIN fl fy ON fy.doc_id = y.doc_id AND fy.is_new),
         |$dSpanTail
         |SELECT doc_b AS new_doc, doc_a AS corpus_doc, start_b AS start_new,
         |       start_a AS start_corpus, span_tokens FROM spans
         |ORDER BY new_doc, corpus_doc, start_new, start_corpus""".stripMargin,
    "dedup_substring_self" ->
      s"""WITH $dPlantedDocs,
         |${dSpanCtes("pd")},
         |m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.p AS pa, y.p - x.p AS delta
         |      FROM gg x JOIN gg y ON x.gram = y.gram AND x.doc_id = y.doc_id
         |                         AND x.p < y.p),
         |$dSpanTail
         |SELECT doc_a AS doc_id, start_a, start_b, span_tokens FROM spans
         |ORDER BY doc_id, start_a, start_b""".stripMargin,
    "dedup_substring_removed" ->
      s"""WITH ${dSpanCtes("documents")},
         |$dCrossM,
         |$dSpanTail,
         |cov AS (SELECT DISTINCT doc_b AS doc_id, pp FROM spans,
         |          unnest(generate_series(start_b, start_b + span_tokens - 1)) AS c(pp)),
         |tk AS (SELECT doc_id, i - 1 AS p, tk[i] AS tok
         |       FROM t, unnest(generate_series(1, len(tk))) AS u(i)),
         |kept AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |                COALESCE(string_agg(tk.tok, ' ' ORDER BY tk.p), '') AS text_kept
         |         FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.pp = tk.p
         |         WHERE cov.pp IS NULL GROUP BY tk.doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |       COALESCE(k.n_kept, 0) AS n_kept,
         |       CAST(len(t.tk) AS BIGINT) - COALESCE(k.n_kept, 0) AS n_removed,
         |       COALESCE(k.text_kept, '') AS text_kept
         |FROM t LEFT JOIN kept k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_block_stats" ->
      s"""WITH dig_b AS (SELECT COUNT(*) AS n FROM documents GROUP BY md5(text)),
         |tok_b AS (SELECT COUNT(*) AS n FROM documents
         |          GROUP BY len(string_split(text, ' '))),
         |${dStats("dig_b", "digest", "d")},
         |${dStats("tok_b", "token_count", "t")}
         |SELECT * FROM ds UNION ALL SELECT * FROM ts ORDER BY path""".stripMargin,
    "dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, text,
         |                  (doc_id * 2654435761) % 4294967296 % 100 >= 80 AS is_new
         |           FROM documents),
         |ex AS (SELECT n.doc_id, MIN(e.doc_id) AS match_doc
         |       FROM d n JOIN d e
         |         ON n.is_new AND NOT e.is_new AND md5(n.text) = md5(e.text)
         |       GROUP BY 1),
         |sh AS (SELECT doc_id, $dShingles AS s FROM documents),
         |e2 AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
         |             any_value(a.n) AS na, any_value(b.n) AS nb
         |      FROM e2 a JOIN e2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b,
         |              CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
         |       FROM p WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.8),
         |near AS (SELECT CASE WHEN da.is_new THEN jp.doc_a ELSE jp.doc_b END AS doc_id,
         |                CASE WHEN da.is_new THEN jp.doc_b ELSE jp.doc_a END AS match_doc,
         |                jp.jaccard
         |         FROM jp JOIN d da ON jp.doc_a = da.doc_id
         |                 JOIN d db ON jp.doc_b = db.doc_id
         |         WHERE da.is_new <> db.is_new),
         |allm AS (SELECT doc_id, match_doc, 'exact' AS match_kind,
         |                CAST(1.0 AS DOUBLE) AS jaccard FROM ex
         |         UNION ALL
         |         SELECT doc_id, match_doc, 'near' AS match_kind, jaccard FROM near)
         |SELECT doc_id, match_doc, match_kind, jaccard FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |            ORDER BY match_kind, jaccard DESC, match_doc) AS rn FROM allm) t
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, md5(text) AS fp, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "dedup_canonical_map" ->
      s"""$canonLabCtes
         |SELECT lab.doc_id, lab.canon_id, sz.n_members,
         |       CAST(CASE WHEN lab.doc_id = lab.canon_id THEN 1 ELSE 0 END
         |            AS BIGINT) AS is_canonical
         |FROM lab JOIN sz USING (canon_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_canonical_embed" ->
      s"""$canonLabCtes,
         |emb AS (SELECT vec_id AS doc_id, embedding,
         |               ${VectorOps.duckNorm("embedding")} AS nrm
         |        FROM embeddings),
         |multi AS (SELECT lab.doc_id, lab.canon_id AS component
         |          FROM lab JOIN sz USING (canon_id) WHERE sz.n_members > 1),
         |cd AS (SELECT m.component, i - 1 AS dim,
         |              CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE)
         |                   AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mv
         |       FROM multi m JOIN emb e USING (doc_id),
         |            unnest(generate_series(1, len(e.embedding))) AS s(i)
         |       GROUP BY 1, 2),
         |cent AS (SELECT component, array_agg(mv ORDER BY dim) AS cvec
         |         FROM cd GROUP BY 1),
         |keepr AS (SELECT component, doc_id AS keeper FROM (
         |    SELECT m.component, m.doc_id,
         |           ROW_NUMBER() OVER (PARTITION BY m.component
         |             ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
         |                      / (e.nrm * sqrt(list_dot_product(c.cvec, c.cvec)))
         |                      DESC NULLS LAST, m.doc_id) AS rk
         |    FROM multi m JOIN emb e USING (doc_id)
         |    JOIN cent c USING (component)) t WHERE rk = 1)
         |SELECT lab.doc_id,
         |       COALESCE(k.keeper, lab.canon_id) AS canon_id,
         |       sz.n_members,
         |       CAST(CASE WHEN lab.doc_id = COALESCE(k.keeper, lab.canon_id)
         |            THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
         |FROM lab JOIN sz USING (canon_id)
         |LEFT JOIN keepr k ON k.component = lab.canon_id
         |ORDER BY lab.doc_id""".stripMargin,
    "dedup_canonical_best" ->
      s"""$canonLabCtes,
         |dr AS (SELECT doc_id,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |           / len(string_split(text, ' ')) AS dr
         |       FROM documents),
         |keep AS (SELECT lab.canon_id AS component, lab.doc_id AS keeper,
         |                ROW_NUMBER() OVER (PARTITION BY lab.canon_id
         |                  ORDER BY dr.dr DESC NULLS LAST, lab.doc_id) AS rk
         |         FROM lab JOIN dr USING (doc_id))
         |SELECT lab.doc_id, k.keeper AS canon_id, sz.n_members,
         |       CAST(CASE WHEN lab.doc_id = k.keeper THEN 1 ELSE 0 END
         |            AS BIGINT) AS is_canonical
         |FROM lab JOIN keep k ON k.component = lab.canon_id AND k.rk = 1
         |JOIN sz ON sz.canon_id = lab.canon_id
         |ORDER BY lab.doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, $dShingles AS s FROM documents),
         |e AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
         |             any_value(a.n) AS na, any_value(b.n) AS nb
         |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common,
         |       CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
         |FROM p WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.8""".stripMargin,
    "dedup_containment" ->
      s"""WITH sh AS (SELECT doc_id, $dShingles AS s FROM documents),
         |e AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh
         |      WHERE len(s) > 0),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common,
         |             any_value(a.n) AS na
         |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common,
         |       CAST(common AS DOUBLE) / na AS containment
         |FROM p WHERE common * $CDen >= na * $CNum""".stripMargin,
    "dedup_cosine_pairs" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${VectorOps.duckDot("a.embedding", "b.embedding")} /
         |       (${VectorOps.duckNorm("a.embedding")} * ${VectorOps.duckNorm("b.embedding")}) AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${VectorOps.duckDot("a.embedding", "b.embedding")} /
         |      (${VectorOps.duckNorm("a.embedding")} * ${VectorOps.duckNorm("b.embedding")}) >= 0.45""".stripMargin)
}
