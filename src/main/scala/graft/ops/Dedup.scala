package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Deduplication operators over the `documents` and `embeddings` tables:
  * exact, MinHash-LSH near-dup, SimHash near-dup, and embedding-cosine
  * near-dup.
  *
  * Scale design (the part that must survive 100 TB): every near-dup
  * operator is CANDIDATE GENERATION (a bucketed self-join that only
  * pairs rows sharing an LSH band — never an all-pairs cartesian)
  * followed by EXACT VERIFICATION of the candidates. Because the final
  * filter re-checks the true similarity, FALSE POSITIVES are
  * independent of the hash family — no unqualified pair can survive.
  * RECALL is not: a qualifying pair can miss every band (e.g. a
  * jaccard-0.5 pair misses all 16 (16,4)-minhash bands with p ≈ 0.35;
  * only the simhash banding is exact, by pigeonhole). The brute-force
  * DuckDB oracles enumerate every qualifying pair, so strict equality
  * additionally certifies recall = 1.0 on THIS corpus — whose planted
  * near-dups sit in the high-similarity band where miss probability is
  * negligible; a regenerated fixture with mid-similarity pairs would
  * need the oracle relaxed to a recall gate (the ANN/PQ pattern).
  */
object Dedup {

  /** Widest LSH bucket the candidate self-joins will pair up. A bucket
    * of n rows yields n*(n-1)/2 candidate pairs — quadratic — so one
    * degenerate bucket (a corpus of mass-identical band signatures:
    * boilerplate, empty docs, crawler error pages) can dominate the
    * whole job. Buckets wider than this are SKIPPED: at that width the
    * members are pathological near-identical content better handled by
    * exact dedup, and the skip count is observable per-query via the
    * "lsh_buckets" observation (`dropped_rows` / `widest_bucket`).
    * Far above any bucket this corpus produces (oracle parity holds);
    * a pathological-fixture spec pins the bound. */
  val MaxBucketWidth = 1024

  /** Conf override for [[MaxBucketWidth]] (`spark.graft.lsh.maxBucketWidth`).
    * The cap is the most consequential dedup dial — it silently changes
    * which candidate pairs EXIST — so a real pipeline must be able to
    * tune it per-corpus without a rebuild. Default unchanged (1024:
    * comfortably above any bucket the oracle corpus produces, low
    * enough that one bucket's n²/2 pairs stay sub-second). Derivation
    * note: set it from the corpus's bucket-width distribution — the
    * "lsh_buckets" observation's `widest_bucket` on a trial run, or
    * p99.9 bucket width × safety factor — never below the widest
    * NON-pathological bucket or recall silently drops. */
  val BucketCapConf = "spark.graft.lsh.maxBucketWidth"

  private[graft] def bucketCap(spark: SparkSession): Int = {
    val v = spark.conf.get(BucketCapConf, MaxBucketWidth.toString).toInt
    require(v > 1, s"$BucketCapConf must be > 1, got $v")
    v
  }

  /** When true (`spark.conf.set(StrictCapConf, "true")`), a bucket wider
    * than the ACTIVE cap ([[BucketCapConf]] if set, else
    * [[MaxBucketWidth]]) FAILS the query instead of being silently
    * skipped. Off by default: the skip is the right degraded mode for
    * exploratory runs (and is always observable via "lsh_buckets"), but
    * on an oracle-checked corpus a silent drop would surface as a value
    * mismatch with no explanation — strict mode turns it into a loud,
    * attributable error at the source. */
  val StrictCapConf = "spark.graft.lsh.strictCap"

  /** Reuse-point exchange for a computed signature/shingle frame that
    * several subtrees of ONE query consume (the banded-signature pass
    * plus both sides of the exact-verify join). Without it each
    * consumer re-evaluates the whole computation above the fan-out
    * exchange — AQE's runtime stage reuse only dedupes EXCHANGE
    * subtrees, so a map-side shingle/simhash/minhash pipeline with no
    * exchange of its own runs once PER CONSUMER (r21 measured: three
    * full shingle passes per minhash query, three md5-per-token
    * simhash passes per simhash query). One hash exchange on the join
    * key makes the computed frame a shared stage: consumers read its
    * shuffle files, and every downstream doc-id join reuses the
    * partitioning so the exchange replaces (not adds to) the join's
    * own. Guide §2.4/§8: move the computed bytes once instead of
    * recomputing them per consumer. */
  private[graft] def reusePoint(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Banded-signature candidate generation with the bucket-width cap:
    * input is (id, band, sig), output deduplicated (a, b) id pairs with
    * a < b from rows sharing a (band, sig) bucket of tolerable width.
    *
    * r18 REWORK: bucket-group-then-explode, not a self-join. The
    * self-join formulation evaluated the ENTIRE signature pipeline
    * (scan → shingle → 64-permutation minima → bands) once per join
    * side: the CollectMetrics node the cap's observability rides makes
    * the two sides non-canonical-equal, so neither ReuseExchange nor
    * AQE stage reuse ever fired (measured: zero ReusedExchange in
    * every LSH plan; A/B at sf0.1/32 shows the observe alone +0.2 s
    * and the self-join another +0.2 s on the candidate stage — and
    * the signature recompute grows with the corpus). One groupBy
    * collects each bucket's SORTED id list (bounded by the cap check:
    * an over-wide bucket is dropped/failed before any pair emits, so
    * the carried arrays stay ≤ [[MaxBucketWidth]] ids), pairs emit as
    * posexplode × slice-explode (only j > i positions — strict a < b
    * by sortedness, no quadratic filter), and the signature pipeline
    * runs EXACTLY once. The cap observability keeps its names and
    * meanings: `dropped_rows` = rows in skipped buckets, `widest_bucket`
    * = widest seen — both now computed on the one-row-per-bucket
    * aggregate, which is also where the strict-mode raise_error fires.
    * (Null (band, sig) keys cannot occur — every band constructor here
    * emits non-null band ids and concat_ws/element_at signatures over
    * non-null signature arrays.)
    *
    * r19: the aggregate is [[graft.functions.CappedCollect]]'s
    * `capped_sorted_ids`, not `collect_list` — a hot bucket's id list
    * is never materialized in aggregation state (the buffer carries at
    * most cap ids; past the cap only the count travels, which is all
    * the drop decision, the observation, and the strict error need).
    * A plain collect_list held the FULL list per bucket before the
    * filter ran — one ubiquitous boilerplate signature at corpus scale
    * would OOM its reducer. */
  private[graft] def bandedCandidates(banded: DataFrame, idCol: String): DataFrame = {
    val strict = banded.sparkSession.conf.get(StrictCapConf, "false").toBoolean
    val cap = bucketCap(banded.sparkSession)
    val buckets = banded.groupBy("band", "sig")
      .agg(graft.functions.CappedCollect.capped_sorted_ids(col(idCol), cap).as("bkt"))
      .observe("lsh_buckets",
        sum(when(col("bkt.width") > cap, col("bkt.width")).otherwise(0L)).as("dropped_rows"),
        max(col("bkt.width")).as("widest_bucket"))
    val kept =
      if (strict) buckets.filter(when(col("bkt.width") > cap,
          raise_error(concat(lit(s"LSH bucket wider than cap $cap: "),
            col("bkt.width").cast("string"), lit(" rows in band="),
            col("band").cast("string"), lit(" sig="), col("sig").cast("string"))))
        .otherwise(lit(true)))
      else buckets.filter(col("bkt.width") <= cap)
    kept
      .select(col("bkt.ids").as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("b"))
      .dropDuplicates("a", "b")
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * The 100 TB shape: one shuffle on a 128-bit key, no text movement
    * beyond the hash. Deliberately NOT [[Docs.fanned]]: the map-side
    * work here is one md5 per row — cheaper than the fan-out exchange
    * it would ride behind (which must move the full text), unlike the
    * shingle/signature families where per-row compute dominates. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Docs.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  val dedupExactOracle: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  // ----------------------------------------------------- MinHash-LSH near

  /** 64 minhash permutations in 16 bands of 4 rows; murmur3 (Spark
    * `hash`) shingle hashes under `(a*h+b) mod p` with p = 2^31-1.
    * Parameters chosen so a pair at the 0.5 jaccard threshold is missed
    * with probability < 1e-7 for j >= 0.9 (where this corpus's planted
    * near-dups live) — and every candidate is verified by exact jaccard,
    * so false positives never reach the output. */
  val MinHashP = 2147483647L
  val MinHashBands = 16
  val MinHashRows = 4
  val JaccardThreshold = 0.5

  /** Deterministic (a, b) coefficient pairs, seed 42. */
  private val minHashCoef: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(MinHashBands * MinHashRows)(
      (rnd.nextInt((MinHashP - 1).toInt).toLong + 1L, rnd.nextInt(MinHashP.toInt).toLong))
  }

  private[graft] val minHashA: Array[Long] = minHashCoef.map(_._1).toArray
  private[graft] val minHashB: Array[Long] = minHashCoef.map(_._2).toArray

  /** MinHash-LSH candidate pairs for any (doc_id, sh: array<string>)
    * frame: shingle hashes as ROWS (explode), minhashes as 64
    * partial-aggregated mins — the canonical shuffle-based MinHash at
    * scale, and it stops Catalyst's projection collapse from inlining
    * the shingle-hash array into all 64 permutation expressions (a 64x
    * recompute that made the array formulation ~30x slower). The
    * candidate join carries bare ids only. */
  private[ops] def minhashCandidates(sh: DataFrame): DataFrame =
    bandedCandidates(bandSigs(minhashSigs(sh)), "doc_id")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))

  /** The 64 minhash minima per doc as ONE array column `sig` — the
    * persistable signature form. [[graft.streaming.DocStream]] keeps
    * exactly this frame between micro-batches (~64×8 B + id per doc:
    * corpus-scale METADATA, no text — the state a streaming near-dup
    * can actually afford at 100 TB).
    *
    * r18: ONE codegen'd map-side pass
    * ([[graft.functions.MinHash.MinHash64]]) — the r17-and-earlier
    * chain exploded one row per (doc, shingle) through an exchange
    * into 64 min-aggregators (a token-count-scale shuffle with
    * 512-byte aggregation buffers, the same shape the simhash fusion
    * removed). Bit-identity with that chain — including the
    * hash(null)=seed vote and empty-array ABSENCE (the expression's
    * null, filtered here) — is pinned by `MinHashFuseSpec`, so the
    * persisted band-store artifacts keep their exact contents. */
  private[graft] def minhashSigs(sh: DataFrame): DataFrame =
    // Absent-doc semantics via a GENERATOR, not a Filter: the original
    // `.where(col("sig").isNotNull)` looked free, but predicate
    // pushdown rewrites a filter on a projected alias by SUBSTITUTING
    // the aliased expression into the predicate — the 64-permutation
    // signature then appeared three times in the physical plan, and
    // the pushed copy evaluated below [[Docs.fanned]]'s exchange,
    // single-core on a one-split scan (measured 0.2 → 2.2 s at
    // sf0.1/32: the r18 canonical record's whole dedup-family
    // regression, caught by the bench sweep and bisected to exactly
    // this predicate; a filter on the cheap-LOOKING `size(col("sh"))`
    // is the same trap one level down — `sh` is itself an alias of
    // the shingle construction). explode(filter(array(sig), notNull))
    // drops the null-signature row inside the Generate operator,
    // which pushdown cannot rewrite through, so the signature is
    // evaluated EXACTLY once, map-side, above the fan-out exchange.
    sh.select(col("doc_id"),
      explode(filter(array(
        graft.functions.MinHash.minhash64(col("sh"), minHashA, minHashB, MinHashP)),
        s => s.isNotNull)).as("sig"))

  /** The pre-r18 explode + 64-min-aggregator formulation, kept ONLY so
    * the spec can pin the fused expression bit-identical against it. */
  private[graft] def minhashSigsAgg(sh: DataFrame): DataFrame = {
    val hashed = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), hash(col("s")).cast(LongType).bitwiseAND(lit(0x7fffffffL)).as("h"))
    val minCols = minHashCoef.zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * lit(a) + lit(b)) % lit(MinHashP)).as(s"m$j")
    }
    hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until MinHashBands * MinHashRows).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** (doc_id, band, sig) banded rows from the array form — band
    * signature = ':'-joined minima of the r permutations in the band. */
  private[graft] def bandSigs(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until MinHashBands).map { b =>
      concat_ws(":", (0 until MinHashRows).map(r =>
        element_at(col("sig"), b * MinHashRows + r + 1)): _*)
    }
    sigs.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
  }

  /** Estimated jaccard of two 64-long minhash arrays: the fraction of
    * agreeing minima (standard MinHash estimator, se ≈ √(j(1−j)/64) ≈
    * 0.06 at the 0.5 threshold). */
  private[graft] def sigAgreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))
      .cast(DoubleType) / (MinHashBands * MinHashRows)

  /** Exact-jaccard verification of candidate pairs against shingle sets
    * (the sets re-attach only to the deduplicated candidates). */
  private[ops] def verifyJaccard(cands: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        // Threshold via a GENERATOR (the minhashSigs trap): a
        // `.filter(col("jaccard") >= t)` on the alias is pushdown-
        // substituted and runs the set intersect+union twice per pair.
        explode(filter(array(
            size(array_intersect(col("sa.sh"), col("sb.sh"))).cast(DoubleType) /
              size(array_union(col("sa.sh"), col("sb.sh")))),
          j => j >= threshold)).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    pairGraphOver(Docs.shingled(Docs.fanned(spark, dir)))

  /** The full minhash LSH + exact-verify cascade over any shingled
    * frame — factored so the incremental path's spec can run the same
    * rebuild over arbitrary corpus subsets. */
  private[graft] def pairGraphOver(sh: DataFrame): DataFrame =
    // r21 note: a [[reusePoint]] shared-shingle stage was measured here
    // (and on the ngram/simhash twins) and REJECTED: wall-neutral at 8
    // cores and ~10% worse at 32 — the three consumer branches overlap
    // on otherwise-idle cores, while the extra exchange lengthens the
    // critical path, and at scale the shingle-array payload outweighs
    // the tokenize recompute it saves. dedup_embedding keeps its shared
    // stage (vectors are cheaper to move than re-derive; measured 35%
    // faster at BOTH core counts).
    verifyJaccard(minhashCandidates(sh), sh, JaccardThreshold)

  val dedupMinhashOracle: String =
    s"""WITH ${Docs.shinglesSql},
       |j AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |           / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM j
       |WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------- word-bigram Jaccard

  /** n-gram Jaccard dedup at n=2 (word bigrams): a different shingle
    * granularity than [[dedupMinhash]]'s trigrams — bigrams catch
    * shorter shared runs at the cost of a higher background similarity.
    * Same scale shape: MinHash-banded candidates over the bigram sets,
    * exact-Jaccard verification, so the brute-force oracle is valid.
    * (A char-5-gram variant was tried and rejected: on a
    * shared-vocabulary corpus the background char-gram similarity makes
    * any blocking near-quadratic; word shingles keep it ~0.) */
  val NgramJaccardThreshold = 0.6

  // Delegates to the ONE shingle contract (Docs.shinglesN with n = 2):
  // a local re-derivation of the adjacent-pair + short-doc-fallback
  // rule could drift from the n-gram family's shared definition.
  private def bigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Docs.shinglesN(col("toks"), 2).as("sh"))

  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val sh = bigrams(Docs.fanned(spark, dir))
    verifyJaccard(minhashCandidates(sh), sh, NgramJaccardThreshold)
  }

  val dedupNgramOracle: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), t -> len(t)>0) AS ws FROM documents),
       |s AS (SELECT doc_id,
       |  CASE WHEN len(ws) >= 2
       |       THEN list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
       |       ELSE [array_to_string(ws, ' ')] END AS sh FROM w)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))) >= $NgramJaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------- SimHash near

  /** 64-bit SimHash from per-token md5 halves, compared at Hamming
    * distance <= 3 via 4 x 16-bit band buckets. The banding is EXACT for
    * this radius (pigeonhole: 3 differing bits cannot touch all 4
    * bands), so unlike MinHash there is no recall probability — the
    * bucketed join provably finds every qualifying pair, and the oracle
    * can brute-force the same predicate. */
  def simhashSig(spark: SparkSession, dir: String): DataFrame =
    Docs.fanned(spark, dir)
      .select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      // explode semantics: a document with no tokens has NO signature
      // (the oracle's unnest produces no rows for it). The drop rides
      // a GENERATOR, not a Filter — `.where(size(col("toks")) > 0)`
      // gets alias-substituted by predicate pushdown and re-evaluates
      // the tokenizer below the fan-out exchange (the minhashSigs
      // trap, same fix): the lambda guards the one-element array, the
      // Generate drops the row, and the tokenizer stays evaluated
      // once, map-side, post-exchange.
      // The struct lands in its own projection (multi-referenced,
      // non-cheap → CollapseProject will not inline it into both
      // field extractions — the pqCoded sub_s pattern).
      .select(col("doc_id"),
        explode(filter(array(graft.functions.SimHash.simhash64(col("toks"))),
          _ => size(col("toks")) > 0)).as("s"))
      .select(col("doc_id"), col("s.sim_hi").as("sim_hi"), col("s.sim_lo").as("sim_lo"))

  val HammingMax = 3

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashSig(spark, dir)
    val banded = sig.select(col("doc_id"), posexplode(array(
      col("sim_hi").bitwiseAND(lit(0xffffL)),
      shiftright(col("sim_hi"), 16).bitwiseAND(lit(0xffffL)),
      col("sim_lo").bitwiseAND(lit(0xffffL)),
      shiftright(col("sim_lo"), 16).bitwiseAND(lit(0xffffL)))).as(Seq("band", "sig")))
    // Id-only capped candidate join; the 64-bit signatures re-attach
    // only to the deduplicated candidate pairs for the exact hamming
    // verification (same shape as the minhash/embedding verifiers).
    val hamming =
      bit_count(col("sa.sim_hi").bitwiseXOR(col("sb.sim_hi"))) +
      bit_count(col("sa.sim_lo").bitwiseXOR(col("sb.sim_lo")))
    bandedCandidates(banded, "doc_id")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), hamming.cast(IntegerType).as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  val dedupSimhashOracle: String = {
    val hexToInt = (expr: String) =>
      s"list_reduce(list_transform(string_split($expr, ''), c -> CAST(strpos('0123456789abcdef', c)-1 AS BIGINT)), (acc, x) -> acc*16 + x)"
    val hSums = (0 until 32).map(k =>
      s"sum(CASE WHEN (hi >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS h$k").mkString(", ")
    val lSums = (0 until 32).map(k =>
      s"sum(CASE WHEN (lo >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS l$k").mkString(", ")
    def pack(p: String) = (0 until 32).map(k =>
      s"(CASE WHEN $p$k > 0 THEN ${1L << k} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text,' '), t -> len(t)>0)) AS t
       |  FROM documents),
       |hx AS (
       |  SELECT doc_id,
       |         ${hexToInt("substr(md5(t), 1, 8)")} AS hi,
       |         ${hexToInt("substr(md5(t), 9, 8)")} AS lo
       |  FROM toks),
       |sums AS (SELECT doc_id, $hSums, $lSums FROM hx GROUP BY doc_id),
       |sig AS (SELECT doc_id, ${pack("h")} AS sim_hi, ${pack("l")} AS sim_lo FROM sums)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ----------------------------------------------- embedding-cosine near

  /** Random-hyperplane LSH for cosine near-dup over `embeddings`:
    * 256 bands x 8 sign bits from deterministic Gaussian hyperplanes
    * (seed 7), candidates verified by exact cosine >= 0.45. Miss
    * probability at the threshold is (1 - p^8)^256 with
    * p = 1 - acos(0.45)/pi, i.e. < 1e-3 — and 0 for the materially
    * higher similarities real near-dups have. */
  val CosineThreshold = 0.45
  val HyperBands = 256
  val HyperRows = 8
  val EmbeddingDim = 64

  /** Conf override for [[CosineThreshold]]
    * (`spark.graft.dedup.cosineThreshold`): the similarity bar of the
    * embedding near-dup family (dedup_embedding verification,
    * dedup_semantic's within-cluster sweep). Default unchanged — the
    * oracles replay 0.45, so a changed dial is a deliberate per-corpus
    * tuning, not a silent contract shift. Derivation note: set it from
    * the corpus's duplicate-pair similarity histogram — the valley
    * between the near-dup mode (≥ 0.8 for real paraphrase/dup pairs)
    * and the background cosine mass; raising it past the SimHash
    * banding's design point (see the miss-probability math above)
    * narrows recall faster than precision gains. */
  val CosineThresholdConf = "spark.graft.dedup.cosineThreshold"

  private[graft] def cosineThreshold(spark: SparkSession): Double = {
    val v = spark.conf.get(CosineThresholdConf, CosineThreshold.toString).toDouble
    // values > 1 are allowed: an intentional "match nothing" probe
    require(v > 0.0, s"$CosineThresholdConf must be positive, got $v")
    v
  }

  private[graft] lazy val hyperplanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(HyperBands * HyperRows)(Array.fill(EmbeddingDim)(rnd.nextGaussian()))
  }

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** (vec_id, v: array<double>, nrm) with the float column widened once.
    * Norm/dot use the codegen'd [[graft.functions.VectorOps]]
    * expressions — the interpreted HOF forms cost minutes at bench
    * scale (boxed per-element lambdas). */
  private def normed(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).select(col("vec_id"),
        col("embedding")
          // native array cast, not transform(cast): a higher-order
          // function is codegen fallback and drops the whole widening
          // projection out of WSCG; Cast on arrays is element-wise and
          // fully codegen'd — identical values.
          .cast(org.apache.spark.sql.types.ArrayType(DoubleType)).as("v"))
      .withColumn("nrm", graft.functions.VectorOps.vec_norm(col("v")))

  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.vec_dot(a, b)

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    // r21: ONE shared (vec_id, v) stage feeds the banding pass and both
    // verify-join sides (previously the joins consumed the UNfanned
    // widened frame — each side re-cast the floats below its own join
    // exchange). The reuse exchange doubles as the fan-out the banding
    // needed anyway; norms move ABOVE the shared stage (one vec_norm
    // per vector per side) so all three consumers' subtrees stay
    // byte-identical for AQE stage reuse.
    val widened = embeddings(spark, dir).select(col("vec_id"),
      col("embedding").cast(org.apache.spark.sql.types.ArrayType(DoubleType)).as("v"))
    val base = reusePoint(widened, "vec_id")
    val n = base.withColumn("nrm", graft.functions.VectorOps.vec_norm(col("v")))
    // All 2048 plane dots + band signatures in ONE compiled pass per
    // vector (HyperplaneSignBands): every formulation over built-in
    // higher-order functions either recomputes the dot array per
    // element or interprets 2048 boxed lambdas per row.
    val bands = graft.functions.VectorOps.vec_lsh_bands(col("v"), hyperplanes, HyperRows)
    // Id-only candidate shuffle (the 64-double vectors re-attach only to
    // the deduplicated candidate pairs for exact verification).
    val banded = base.select(col("vec_id"), posexplode(bands).as(Seq("band", "sig")))
    val cands = bandedCandidates(banded, "vec_id")
      .select(col("a").as("vec_a"), col("b").as("vec_b"))
    cands
      .join(n.as("a"), col("vec_a") === col("a.vec_id"))
      .join(n.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        // nullif: two all-zero embeddings sign-band identically (every
        // hyperplane dot is 0) so they ALWAYS form a candidate pair,
        // and this default-ANSI runtime throws DIVIDE_BY_ZERO on the
        // 0-norm product — null the cosine instead; the >= threshold
        // then drops the pair, exactly what DuckDB's NULL-propagating
        // list_cosine_similarity does oracle-side.
        // Threshold via a GENERATOR (the minhashSigs trap): a
        // `.filter(col("cosine") >= t)` on the alias is pushdown-
        // substituted and evaluates the dim-wide dot twice per pair.
        explode(filter(array(dot(col("a.v"), col("b.v")) /
            nullif(col("a.nrm") * col("b.nrm"), lit(0.0))),
          c => c >= cosineThreshold(spark))).as("cosine"))
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  val dedupEmbeddingOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         list_cosine_similarity(a.v, b.v) AS cosine
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(cosine, 6) AS cosine FROM p
       |WHERE cosine >= $CosineThreshold ORDER BY vec_a, vec_b""".stripMargin

  // ------------------------------------------------- corpus cleaning

  /** End-to-end corpus cleaning — the composition a training-data
    * pipeline actually runs: drop short documents, then drop the
    * higher-id member of every near-duplicate pair (anti-join against
    * the [[dedupMinhash]] victims). One extra shuffle (the anti-join on
    * doc_id) beyond the dedup itself; the victim set is broadcast-sized
    * (dup fraction << corpus). */
  val MinTokens = 20

  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    cleanPairGreedy(spark, dir, dedupMinhash(spark, dir))

  /** The pair-greedy clean policy over ANY verified pair frame — the
    * body shared by the self-contained oracle query ([[corpusClean]])
    * and the staged-graph production path ([[corpusCleanStaged]]). */
  private def cleanPairGreedy(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val victims = pairs.select(col("doc_b").as("doc_id")).distinct()
    Docs.fanned(spark, dir)
      .withColumn("n_tokens", size(Docs.tokens(col("text"))).cast(LongType))
      .filter(col("n_tokens") >= MinTokens)
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy("doc_id")
  }

  val corpusCleanOracle: String =
    s"""WITH ${Docs.shinglesSql},
       |victims AS (
       |  SELECT DISTINCT b.doc_id AS doc_id
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.sh, b.sh))) >= $JaccardThreshold)
       |SELECT doc_id, lang, source,
       |       CAST(len(list_filter(string_split(text,' '), t -> len(t)>0)) AS BIGINT) AS n_tokens
       |FROM documents
       |WHERE len(list_filter(string_split(text,' '), t -> len(t)>0)) >= $MinTokens
       |  AND doc_id NOT IN (SELECT doc_id FROM victims)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------- benchmark decontamination

  /** Word-n-gram granularity of [[corpusDecontam]]: 8, inside the
    * published 8-13 range (GPT-3 used 13-grams, Llama-2 8-gram token
    * overlap) — long enough that incidental phrase reuse cannot
    * collide, short enough that a paraphrased-but-copied span still
    * hits. Measured on the fixture: at n=3 common phrases contaminate
    * 77% of the corpus; at n=8 exactly the planted near-duplicates of
    * eval docs hit and nothing else. */
  val DecontamNgram = 8

  /** Deterministic eval-set membership rule over the fixture corpus
    * (every ~31st doc). A real pipeline passes its benchmark table
    * here; the fixture rule keeps the operator self-contained on the
    * driver's tables. */
  val EvalIdMod = 31

  /** Benchmark decontamination — the training-corpus hygiene step that
    * precedes every serious LLM run: drop any training document that
    * shares even ONE word [[DecontamNgram]]-gram with the evaluation
    * set, so benchmark text can never leak into training data through
    * a crawled mirror or near-verbatim quote.
    *
    * 100 TB shape: the eval side is SMALL by construction (benchmark
    * suites are thousands of prompts, not billions of documents), so
    * its distinct n-gram set broadcasts and the corpus-side explode +
    * semi-join filters MAP-SIDE — only actual hits (≈ the contaminated
    * docs) ever shuffle. The final anti-join broadcasts the
    * contaminated-id frame for the same reason: it is bounded by the
    * docs that overlap the eval set, orders of magnitude below corpus
    * size (a corpus where it is not has a crawl-pipeline problem no
    * join strategy fixes). Net: ONE map-side pass over the corpus
    * text, zero corpus-scale shuffles. */
  def corpusDecontam(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % EvalIdMod === 0
    val sh = Docs.fanned(spark, dir)
      .select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Docs.shinglesN(col("toks"), DecontamNgram).as("sh"))
    val evalGrams = sh.filter(isEval).select(explode(col("sh")).as("g")).distinct()
    val contaminated = sh.filter(!isEval)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(evalGrams), "g")
      .select("doc_id").distinct()
    Docs.documents(spark, dir).filter(!isEval)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  val corpusDecontamOracle: String =
    s"""WITH ${Docs.shinglesNSql(DecontamNgram)},
       |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sN WHERE doc_id % $EvalIdMod = 0),
       |hits AS (SELECT DISTINCT c.doc_id
       |         FROM (SELECT sN.doc_id, u.g FROM sN, unnest(sN.sh) AS u(g)
       |               WHERE sN.doc_id % $EvalIdMod <> 0) c
       |         JOIN ev ON c.g = ev.g)
       |SELECT d.doc_id, d.n_chars FROM documents d
       |WHERE d.doc_id % $EvalIdMod <> 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM hits)
       |ORDER BY doc_id""".stripMargin

  /** Dials for the [[corpusDecontamBloom]] prefilter: sized for ~1% FP
    * at the fixture's eval-gram cardinality; a production run sizes
    * them from its benchmark suite's measured gram count (both ride
    * the aggregate as expressions). FP rate only affects COST (extra
    * survivors into the exact verify), never the result. */
  val DecontamBloomItems = 100000L
  val DecontamBloomBits = 1L << 20

  /** [[corpusDecontam]] with a Bloom prefilter — the regime where the
    * eval side outgrows an exact broadcast. The exact operator
    * broadcasts the eval n-gram SET (fine for thousands of prompts; a
    * multi-benchmark suite with contamination windows can reach
    * millions of grams × ~50 B — gigabytes on every executor). Here
    * the eval grams aggregate into one Spark-native Bloom filter
    * (`BloomFilterAggregate`, numBits/8 bytes regardless of
    * cardinality — the same sketch Spark's own runtime-filter rewrite
    * injects), the corpus side drops non-members MAP-SIDE via
    * `might_contain` on the shared xxhash64, and only survivors —
    * true hits plus the FP trickle — reach the exact verify join, now
    * UNPINNED: survivor volume is bloom-bounded, so AQE broadcasts
    * the eval set when it fits and shuffles the (tiny) survivor frame
    * when it does not. False positives cost a verify row, never a
    * result: registered against the SAME oracle as the exact operator
    * (the staged≡inline discipline), and the spec forces a
    * pathologically small filter to prove FP-independence. */
  def corpusDecontamBloom(spark: SparkSession, dir: String): DataFrame =
    corpusDecontamBloomWith(spark, dir, DecontamBloomItems, DecontamBloomBits)

  private[graft] def corpusDecontamBloomWith(spark: SparkSession, dir: String,
      estItems: Long, numBits: Long): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val isEval = col("doc_id") % EvalIdMod === 0
    val sh = Docs.fanned(spark, dir)
      .select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Docs.shinglesN(col("toks"), DecontamNgram).as("sh"))
    val evalGrams = sh.filter(isEval).select(explode(col("sh")).as("g")).distinct()
    // One aggregate over the eval gram set → one binary blob, collected
    // driver-side (numBits/8 bytes — metadata scale, the index-
    // construction pattern). Null when the eval set is empty.
    val blob = evalGrams.agg(ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(col("g"))),
          Literal(estItems), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightHit =
      if (blob == null) lit(false) // empty eval set: nothing can hit
      else ColumnBridge.column(BloomFilterMightContain(
        Literal.create(blob, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(xxhash64(col("g")))))
    val contaminated = sh.filter(!isEval)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .where(mightHit)
      .join(evalGrams, "g")
      .select("doc_id").distinct()
    Docs.documents(spark, dir).filter(!isEval)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  // ------------------------------------------- near-dup cluster assignment

  /** Connected components by iterative min-label propagation: every
    * node starts as its own label and repeatedly takes the minimum of
    * its own and its neighbors' labels until a fixpoint — the standard
    * shuffle-based CC (each iteration is one edge-label join + one
    * groupBy-min, all on the EDGE set). Convergence is detected by a
    * changed-row count on the carried old label: labels only ever
    * decrease, so zero changed rows iff fixpoint — one cheap action per
    * iteration, no driver-side data (and no label-sum compare, which
    * would overflow on 64-bit id spaces).
    *
    * 100 TB shape: the input is the verified near-dup PAIR set —
    * corpus-scale metadata (ids only), orders of magnitude smaller
    * than the corpus itself — and iteration count is the component
    * diameter, which for near-dup clusters is small (re-crawl families
    * are dense). A pathological chain-of-dups graph blows past the
    * `MaxCcIters` guard — and since r16 the loop then hands the graph
    * to [[ccLargeSmallStar]] (O(log n) rounds regardless of diameter)
    * instead of throwing. */
  val MaxCcIters = 50

  /** Edge-count bound for the single-task union-find path: 4M edges is
    * ~64 MB of id pairs in one task — comfortably one-task-sized, and
    * far above any plausible verified near-dup pair set short of a
    * truly duplicate-dominated corpus. */
  val CcSingleTaskMaxEdges = 4000000L

  def connectedComponents(edges: DataFrame, a: String, b: String): DataFrame =
    connectedComponents(edges, a, b, CcSingleTaskMaxEdges)

  /** Round guard for [[ccLargeSmallStar]]: convergence is O(log n)
    * rounds, so 64 covers any 64-bit id population with headroom —
    * hitting it means a bug, not a big graph. */
  val LsssMaxRounds = 64

  /** One large-star + small-star round (see [[ccLargeSmallStar]]).
    * Input/output edges are oriented big→small, distinct, loop-free. */
  private def starRound(eCanon: DataFrame): DataFrame = {
    // LARGE-STAR over the full (symmetric) neighborhood of each node u:
    // hang every neighbor v > u off m(u) = min({u} ∪ N(u)). Output
    // stays big→small because v > u >= m(u).
    val symE = eCanon.select(col("big").as("u"), col("small").as("v"))
      .union(eCanon.select(col("small").as("u"), col("big").as("v")))
    val mins = symE.groupBy("u").agg(min("v").as("mn"))
      .select(col("u").as("mu"), least(col("u"), col("mn")).as("m"))
    val ls = symE.join(mins, symE("u") === mins("mu"))
      .where(col("v") > col("u"))
      .select(col("v").as("big"), col("m").as("small"))
      .where(col("big") =!= col("small"))
      .distinct()
    // SMALL-STAR over each node's SMALLER neighbors (exactly the
    // big→small orientation): re-hang them, and u itself, off the
    // minimum. The explicit (u, m) edge is what keeps u connected —
    // dropping it is the classic small-star node-loss bug.
    val mins2 = ls.groupBy("big").agg(min("small").as("m"))
    val ssNbrs = ls.join(mins2, "big")
      .where(col("small") =!= col("m"))
      .select(col("small").as("big"), col("m").as("small"))
    val ssSelf = mins2.select(col("big"), col("m").as("small"))
    ssNbrs.union(ssSelf).where(col("big") =!= col("small")).distinct()
  }

  /** Alternating large-star/small-star connected components — the
    * O(log n)-round formulation (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): large-star hangs every
    * larger-than-center neighbor off the neighborhood minimum,
    * small-star re-hangs the smaller ones plus the center, and the
    * alternation contracts any component onto its minimum id in
    * logarithmically many rounds REGARDLESS of diameter. This is the
    * escape hatch for the one graph shape the min-label loop cannot
    * finish: > [[CcSingleTaskMaxEdges]] edges AND diameter beyond
    * [[MaxCcIters]] (a multi-million-edge chain of near-dups) — r15
    * threw there; now the loop hands the graph off to this.
    *
    * Each round is two groupBy-min + join passes over edge METADATA
    * (ids only, big→small orientation halves the state); convergence
    * is an exact set-fixpoint check (count + except), never a label
    * sum that could overflow a 64-bit id space. At the fixpoint every
    * component is a star centered on its min, so the labeling is one
    * projection + groupBy-min. */
  private[graft] def ccLargeSmallStar(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Node set BEFORE the self-loop filter: a node whose only edges
    // are self-loops vanishes from the star contraction, but both
    // sibling paths (union-find, min-label) emit (x, x) for it — the
    // three paths of connectedComponents must agree on coverage.
    // Input is already symmetric, so src alone covers every node.
    val nodes = edges.select(col("src").as("doc_id")).distinct()
      .localCheckpoint(true)
    // localCheckpoint, not persist: starRound references its input
    // TWICE (the symmetrizing union), so a persist-only loop doubles
    // the LOGICAL plan every round — 2^rounds analysis cost, OOM on
    // the driver long before the data is big. Eager checkpoint both
    // materializes the round and truncates the lineage to the blocks.
    var e = edges.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("big"),
        least(col("src"), col("dst")).as("small"))
      .distinct().localCheckpoint(true)
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      if (rounds > LsssMaxRounds)
        throw new IllegalStateException(
          s"ccLargeSmallStar: no fixpoint after $LsssMaxRounds rounds — " +
            "O(log n) convergence makes this unreachable short of a bug")
      val next = starRound(e).localCheckpoint(true)
      // Set equality needs both checks: equal counts with different
      // members, or a subset with fewer members, must both keep going.
      done = next.count() == e.count() && next.except(e).isEmpty
      // Free the replaced round's checkpoint blocks NOW — unpersist()
      // can't see them (CacheManager never registered them), and
      // waiting for ContextCleaner GC accumulates O(rounds) edge
      // frames in executor storage. `next` is already materialized
      // (eager), so nothing re-reads the freed blocks.
      ColumnBridge.freeLocalCheckpoint(e)
      e = next
    }
    val starred = e
      .select(col("big").as("doc_id"), col("small").as("cluster_id"))
      .union(e.select(col("small").as("doc_id"), col("small").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    // Self-loop-only nodes re-enter as their own singleton component.
    nodes.join(starred, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** The verified pair graph is corpus METADATA — ids only, orders of
    * magnitude smaller than the corpus — so the common case is a graph
    * that fits one task, where the shuffle-based label-propagation loop
    * pays 3-4 scheduled stages PER ITERATION for work a union-find does
    * in microseconds (measured: 4-21 s for a 477-node graph at sf0.1,
    * all scheduling overhead). Below [[CcSingleTaskMaxEdges]] the edges
    * therefore shuffle to ONE task (`repartition(1)`, never
    * `coalesce` — coalesce would narrow the whole upstream LSH cascade
    * onto that task too) and a path-compressed union-find labels the
    * graph imperatively — the "genuine per-partition imperative logic"
    * case for mapPartitions: pointer-chasing has no declarative form
    * that isn't this same loop paying a shuffle per hop. Data never
    * lands on the driver. Above the bound, the standard distributed
    * min-label iteration runs at full parallelism; the sizing count
    * doubles as the edge persist's materialization. */
  private[graft] def connectedComponents(edges: DataFrame, a: String,
      b: String, singleTaskMax: Long, maxIters: Int = MaxCcIters): DataFrame = {
    // Persist the edges: BOTH paths re-read them (the loop re-joins
    // every round; the union-find reads them after the sizing count),
    // and without the persist each read re-runs whatever pipeline
    // PRODUCED them (for dedup_clusters: the whole LSH+verify cascade).
    // Ids are pinned to LongType HERE so the output schema cannot
    // depend on which path ran: the union-find's Dataset[(Long, Long)]
    // encoder widens e.g. int ids to long, while the loop path would
    // preserve the input dtype — a schema that flips when a growing
    // pair set crosses the bound, under a dtype-sensitive compare.
    val sym = edges.select(col(a).cast(LongType).as("src"),
        col(b).cast(LongType).as("dst"))
      .union(edges.select(col(b).cast(LongType).as("src"),
        col(a).cast(LongType).as("dst")))
      .persist()
    val nEdges = sym.count()
    if (nEdges <= singleTaskMax) {
      val spark = edges.sparkSession
      import spark.implicits._
      val out = sym.as[(Long, Long)].repartition(1).mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x // path compression
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (s, d) =>
          parent.putIfAbsent(s, s); parent.putIfAbsent(d, d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) { if (rs < rd) parent.put(rd, rs) else parent.put(rs, rd) }
        }
        // Roots are unioned min-first, so find(x) IS the component min.
        val res = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        parent.keySet().forEach(k => res += ((k, find(k))))
        res.iterator
      }.toDF("doc_id", "cluster_id")
      // Materialize before unpersisting the input: the union-find's
      // output is lineage over `sym`, and dropping the cache first
      // would re-run the producing cascade on any later action.
      val materialized = out.persist()
      materialized.count()
      sym.unpersist()
      return materialized
    }
    var cached = sym.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).persist()
    var labels = cached
    var iter = 0
    var converged = false
    while (!converged) {
      iter += 1
      if (iter > maxIters) {
        // Component diameter beyond the guard: the min-label loop would
        // need O(diameter) more rounds, so hand the graph to the
        // O(log n) alternating star contraction instead (was a throw
        // until r16). Its first eager checkpoint materializes from
        // `sym` before we drop that cache, so lineage never re-runs
        // the producing cascade.
        cached.unpersist()
        org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint(cached)
        val out = ccLargeSmallStar(sym)
        sym.unpersist()
        return out
      }
      val nbMin = sym.join(labels, sym("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nb_min"))
      // Carry the old label through the projection so convergence is a
      // changed-row check on this same frame (labels only decrease, so
      // none-changed iff fixpoint) — not a label-sum compare, which
      // silently overflows on 64-bit id spaces. Eager localCheckpoint,
      // not persist (since r16): `labels` feeds the round TWICE (the
      // nbMin aggregate and the join's left side), so a persist-only
      // loop doubles the LOGICAL plan every round — 2^rounds analysis
      // cost on the driver. The checkpoint truncates lineage to the
      // materialized blocks, making round cost flat.
      val joined = labels.join(nbMin, labels("doc_id") === nbMin("src"), "left")
        .select(labels("doc_id"), col("cluster_id").as("__old"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("cluster_id"))
        .localCheckpoint(true)
      converged = joined.where(col("cluster_id") < col("__old")).count() == 0L
      // unpersist() frees the round-0 persist; the checkpoint rounds'
      // blocks are invisible to it (no CacheManager entry) and need
      // the direct RDD free, or they pile up O(iters) deep awaiting GC.
      cached.unpersist()
      org.apache.spark.sql.graftbridge.ColumnBridge.freeLocalCheckpoint(cached)
      cached = joined
      labels = joined.select(col("doc_id"), col("cluster_id"))
    }
    sym.unpersist()
    labels
  }

  /** `dedup_clusters`: turn the verified minhash near-dup PAIRS into
    * dedup GROUPS — (doc_id, cluster_id = smallest doc_id in the
    * component) for every document that has at least one near-dup.
    * This is the step a production dedup actually keys its
    * keep-one-per-cluster decision on; pairs alone under-delete
    * transitive families (a~b, b~c but not a~c). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersOver(dedupMinhash(spark, dir).select(col("doc_a"), col("doc_b")))

  private def clustersOver(pairs: DataFrame): DataFrame =
    connectedComponents(pairs, "doc_a", "doc_b").orderBy("doc_id")

  /** Oracle: transitive closure by recursive CTE over the same verified
    * pair set, cluster = min reachable id (self included). */
  val dedupClustersOracle: String =
    s"""WITH RECURSIVE ${Docs.shinglesSql},
       |j AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.sh, b.sh))) >= $JaccardThreshold),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM j
       |      UNION ALL SELECT doc_b, doc_a FROM j),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
       |SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** `corpus_clean_clustered`: the cluster-collapse dedup policy —
    * keep exactly ONE representative (the smallest doc_id) per
    * near-dup component, drop every other member. [[corpusClean]] is
    * the pair-greedy policy (drop every doc_b of a verified pair);
    * the two differ exactly on transitive families: with pairs (a,c)
    * and (b,c) only, pair-greedy keeps BOTH a and b (they were never
    * similar to each other), cluster-collapse keeps only min(a,b,c).
    * Cluster-collapse bounds every family to one survivor (the
    * training-dedup default); pair-greedy never deletes a document
    * whose own similar partner survived. Both ship, both
    * oracle-checked — the POLICY is the operator.
    *
    * Scale shape: the minhash cascade and the component labeling are
    * the dedup_clusters path (id-only, capped buckets, single-task
    * union-find under the metadata bound); the final anti-join's right
    * side is one id per dropped document — broadcast-sized relative
    * to the corpus it filters. */
  def corpusCleanClustered(spark: SparkSession, dir: String): DataFrame =
    cleanClusterCollapse(spark, dir,
      dedupMinhash(spark, dir).select(col("doc_a"), col("doc_b")))

  /** The cluster-collapse clean policy over ANY verified pair frame
    * (shared by the oracle query and the staged-graph path). */
  private def cleanClusterCollapse(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val victims = connectedComponents(pairs, "doc_a", "doc_b")
      .where(col("doc_id") =!= col("cluster_id")).select("doc_id")
    Docs.fanned(spark, dir)
      .withColumn("n_tokens", size(Docs.tokens(col("text"))).cast(LongType))
      .filter(col("n_tokens") >= MinTokens)
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .orderBy("doc_id")
  }

  val corpusCleanClusteredOracle: String =
    s"""WITH RECURSIVE ${Docs.shinglesSql},
       |j AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.sh, b.sh))) >= $JaccardThreshold),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM j
       |      UNION ALL SELECT doc_b, doc_a FROM j),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       |vict AS (
       |  SELECT src AS doc_id FROM reach
       |  GROUP BY src HAVING least(src, min(dst)) <> src)
       |SELECT doc_id, lang, source,
       |       CAST(len(list_filter(string_split(text,' '), t -> len(t)>0)) AS BIGINT) AS n_tokens
       |FROM documents
       |WHERE len(list_filter(string_split(text,' '), t -> len(t)>0)) >= $MinTokens
       |  AND doc_id NOT IN (SELECT doc_id FROM vict)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------- shared-span detection

  /** Span window width (codepoints) for [[corpusSharedSpans]]. 24
    * chars ≈ 4-5 words: long enough that incidental vocabulary overlap
    * cannot collide, short enough that a copied sentence yields many
    * windows (so the 1/16 sample still catches it). */
  val SpanWidth = 24

  /** `corpus_shared_spans`: approximate exact-substring duplication
    * detection (the Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" problem) — find literal [[SpanWidth]]-char
    * spans occurring in ≥ 2 documents. Exact suffix-array dedup is a
    * different machine; this is the Spark-shaped 1/16 CONTENT-KEYED
    * sample of window hashes ([[graft.functions.Winnow.sampledSpans]]:
    * a window is sampled iff its md5's first nibble is 0, so an
    * identical span samples identically in every document containing
    * it — a copied region of length L yields ~(L−23)/16 sampled
    * windows, and missing ALL windows of a 100-char copy has
    * probability (15/16)^77 ≈ 0.7%). Emits each shared span hash with
    * its literal text (from its first occurrence), document frequency,
    * and occurrence count.
    *
    * 100 TB shape: the sampling expression is one codegen'd pass per
    * document (same walk as `doc_fingerprint`), the explode fans out
    * only the ~n_chars/16 SAMPLED windows, counts are partial-agg
    * (two-phase distinct on doc_id), and the shared-span set — tiny by
    * construction — broadcasts back onto the corpus scan for the
    * span-text extraction join. Nothing corpus×corpus ever forms. */
  def corpusSharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val spans = Docs.fanned(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.Winnow.winnow_sampled_spans(col("text"), SpanWidth)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
    val shared = spans.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("n_docs") >= 2)
      .select(col("h"), col("n_docs"), col("n_occ"),
        col("first.doc_id").as("first_doc"), col("first.pos").as("first_pos"))
    broadcast(shared)
      .join(Docs.documents(spark, dir).select(col("doc_id").as("first_doc"), col("text")),
        "first_doc")
      .select(col("h"),
        expr(s"substr(text, first_pos, $SpanWidth)").as("span"),
        col("n_docs"), col("n_occ"), col("first_doc"), col("first_pos"))
      .orderBy("h")
  }

  val corpusSharedSpansOracle: String =
    // unnest(range(...)) rather than a lateral range() join — DuckDB's
    // table-function range does not accept per-row column bounds.
    s"""WITH u AS (
       |  SELECT doc_id, text,
       |         CAST(unnest(range(1, length(text) - ${SpanWidth - 2})) AS INTEGER) AS pos
       |  FROM documents WHERE length(text) >= $SpanWidth),
       |sel AS (
       |  SELECT doc_id, pos, md5(substr(text, pos, $SpanWidth)) AS h FROM u
       |  WHERE md5(substr(text, pos, $SpanWidth)) LIKE '0%'),
       |g AS (
       |  SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |         CAST(count(*) AS BIGINT) AS n_occ
       |  FROM sel GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |f AS (
       |  SELECT h, doc_id AS first_doc, pos AS first_pos FROM (
       |    SELECT h, doc_id, pos,
       |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |    FROM sel) WHERE rk = 1)
       |SELECT g.h, substr(d.text, f.first_pos, $SpanWidth) AS span,
       |       g.n_docs, g.n_occ, f.first_doc, f.first_pos
       |FROM g JOIN f USING (h) JOIN documents d ON d.doc_id = f.first_doc
       |ORDER BY g.h""".stripMargin

  // ------------------------------------------------- containment dedup

  /** Containment threshold for [[dedupContainment]]: the fraction of
    * the SMALLER document's shingles that appear in the larger one.
    * 0.8 is far above the corpus's background overlap and below the
    * planted near-dups' (which sit near 1.0). */
  val ContainmentThreshold = 0.8

  /** Candidate span-frequency cap: a sampled span shared by more than
    * this many documents is ubiquitous boilerplate — pairing through
    * it is quadratic in its frequency and tells you nothing about
    * containment (the [[MaxBucketWidth]] discipline at the span
    * granularity). */
  val SpanDfCap = 64

  /** `dedup_containment`: ASYMMETRIC near-duplication — document A
    * contained in document B when ≥ [[ContainmentThreshold]] of A's
    * word-trigram shingles appear in B (Broder's containment
    * coefficient, `|S(A)∩S(B)| / min(|S(A)|,|S(B)|)`). The resemblance
    * family misses exactly this case: a quote or article embedded in a
    * longer page has LOW symmetric Jaccard (the union is dominated by
    * the container) but containment ≈ 1 — the spec pins that case on
    * a constructed quote-in-article fixture that `dedup_minhash`'s
    * threshold provably rejects.
    *
    * Candidates come from the [[corpusSharedSpans]] machinery rather
    * than MinHash bands (banding estimates RESEMBLANCE — for a small
    * doc inside a big one the band-collision probability collapses
    * with the Jaccard, the very signal this operator must not depend
    * on): two docs are candidates when they share ≥ 1 content-sampled
    * [[SpanWidth]]-char span with document frequency ≤ [[SpanDfCap]].
    * A contained copy of length L misses all its sampled windows with
    * probability (15/16)^(L−23) — the shared-spans recall argument —
    * and the oracle replays the candidate rule EXACTLY, so the
    * operator's contract is deterministic, not probabilistic.
    *
    * 100 TB shape: spans are one codegen'd pass + a 1/16-of-chars
    * explode; candidate emission is the bucket-group-then-explode
    * shape (§ the r18 LSH rework) bounded by the df cap; the exact
    * verify joins shingle sets onto id-pairs only. Nothing
    * corpus×corpus ever forms. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val spans = Docs.fanned(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.Winnow.winnow_sampled_spans(col("text"), SpanWidth)).as("s"))
      .select(col("doc_id"), col("s.h").as("h"))
      .dropDuplicates("doc_id", "h")
    // capped_sorted_ids, not collect_list: a boilerplate span shared by
    // the whole corpus must never materialize its doc list in one
    // aggregation buffer — past SpanDfCap only the count travels (the
    // same state bound as bandedCandidates).
    val cands = spans.groupBy("h")
      .agg(graft.functions.CappedCollect.capped_sorted_ids(col("doc_id"), SpanDfCap).as("bkt"))
      .filter(col("bkt.width") >= 2 && col("bkt.width") <= SpanDfCap)
      .select(col("bkt.ids").as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // r21: shared shingle stage for the two verify-join sides.
    val sh = reusePoint(Docs.shingled(Docs.fanned(spark, dir)), "doc_id")
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast(DoubleType)
    val na = size(col("sa.sh"))
    val nb = size(col("sb.sh"))
    val cont = inter / least(na, nb).cast(DoubleType)
    val containedId = when(na < nb, col("doc_a")).when(nb < na, col("doc_b"))
      .otherwise(least(col("doc_a"), col("doc_b")))
    val containerId = when(na < nb, col("doc_b")).when(nb < na, col("doc_a"))
      .otherwise(greatest(col("doc_a"), col("doc_b")))
    cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      // threshold via a GENERATOR (the verifyJaccard discipline): a
      // filter on the containment alias would be pushdown-substituted
      // and run the set intersect twice per pair
      .select(explode(filter(array(struct(
          containedId.as("contained_id"), containerId.as("container_id"),
          cont.as("containment"))),
        r => r.getField("containment") >= ContainmentThreshold)).as("r"))
      .select(col("r.*"))
      .orderBy("contained_id", "container_id")
  }

  val dedupContainmentOracle: String =
    s"""WITH u AS (
       |  SELECT doc_id, text,
       |         CAST(unnest(range(1, length(text) - ${SpanWidth - 2})) AS INTEGER) AS pos
       |  FROM documents WHERE length(text) >= $SpanWidth),
       |sel AS (
       |  SELECT DISTINCT doc_id, md5(substr(text, pos, $SpanWidth)) AS h FROM u
       |  WHERE md5(substr(text, pos, $SpanWidth)) LIKE '0%'),
       |hok AS (
       |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sel GROUP BY h)
       |  WHERE nd BETWEEN 2 AND $SpanDfCap),
       |cd AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE a.h IN (SELECT h FROM hok)),
       |${Docs.shinglesSql},
       |c AS (
       |  SELECT cd.doc_a, cd.doc_b, sa.sh AS sha, sb.sh AS shb
       |  FROM cd JOIN s sa ON sa.doc_id = cd.doc_a
       |          JOIN s sb ON sb.doc_id = cd.doc_b)
       |SELECT CASE WHEN len(sha) < len(shb) THEN doc_a
       |            WHEN len(shb) < len(sha) THEN doc_b
       |            ELSE LEAST(doc_a, doc_b) END AS contained_id,
       |       CASE WHEN len(sha) < len(shb) THEN doc_b
       |            WHEN len(shb) < len(sha) THEN doc_a
       |            ELSE GREATEST(doc_a, doc_b) END AS container_id,
       |       CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |         / LEAST(len(sha), len(shb)) AS containment
       |FROM c
       |WHERE CAST(len(list_intersect(sha, shb)) AS DOUBLE)
       |        / LEAST(len(sha), len(shb)) >= $ContainmentThreshold
       |ORDER BY contained_id, container_id""".stripMargin

  // ----------------------------------------- staged pair-graph reuse

  /** Most corpora a session cleans at once; past the bound the
    * least-recently-used graph is unpersisted and dropped (rebuilt on
    * next touch) — the [[graft.ops.Similarity]] ground-truth cache's
    * LRU discipline. */
  private val MaxPairGraphCorpora = 4

  /** Access-ordered LRU over persisted pair graphs. The monitor guards
    * MAP MUTATION only — a cold build (the full LSH + verify cascade)
    * runs outside it, so it never blocks hits for other corpora; two
    * threads racing one cold key both build, the loser unpersists its
    * copy and adopts the winner's. Keyed by SESSION as well as corpus
    * (r18, per ADVICE): a persisted DataFrame is bound to the
    * SparkSession that planned it — a dir-only key in a multi-session
    * process could hand a frame of a STOPPED session to a live caller.
    * Eviction is logged so a silently-degraded staged path (every
    * consumer quietly re-deriving the cascade) is observable. */
  private val pairGraphCache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean = {
        val evict = size() > MaxPairGraphCorpora
        if (evict) {
          log.info(s"evicting persisted pair graph for ${e.getKey._2} " +
            s"(cache bound $MaxPairGraphCorpora corpora exceeded)")
          e.getValue.unpersist(false)
        }
        evict
      }
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The verified near-dup pair graph of a corpus snapshot as a
    * PERSISTED artifact, built once per (process, snapshot dir).
    *
    * The production shape the r16 verdict asked for: `corpus_clean`,
    * `dedup_clusters` and `corpus_clean_clustered` each re-derive the
    * identical minhash LSH + exact-Jaccard-verify cascade (~1.9 s each
    * per sweep at sf0.1 — and at 100 TB each re-derivation is a full
    * corpus scan, a shingle explode and a banded shuffle). The graph
    * itself is id-pair scale — two longs + a double per VERIFIED
    * near-dup pair, orders of magnitude smaller than the corpus — so
    * persisting it distributed is cheap, and a real deployment writes
    * it next to the snapshot and feeds every downstream dedup policy
    * from it. The self-contained derivations stay registered as the
    * oracle queries; the `*_staged` registry entries run the SAME
    * policies over this artifact against the SAME oracles, so the
    * driver's correctness sweep also checks staged ≡ inline and the
    * bench shows the reuse (first consumer pays the cascade, the rest
    * read the persisted graph). */
  def pairGraph(spark: SparkSession, dir: String): DataFrame = {
    val key = (spark, dir)
    val hit = pairGraphCache.synchronized(pairGraphCache.get(key))
    if (hit != null) return hit
    // Since r18 the graph is a WRITTEN artifact ([[graft.ops.IndexStore]],
    // content-fingerprinted parquet beside the other index state): the
    // first process over a snapshot pays the LSH + verify cascade and
    // writes id-pair-scale parquet; every later process — and every
    // later session in this one — loads it. On the BUILD path the
    // returned frame keeps the CASCADE plan (persisted; the artifact
    // is written FROM the cache): Spark's CacheManager then substitutes
    // the persisted graph into the inline `dedup_minhash` derivation
    // too — the same-process reuse r17 measured — while a warm process
    // reads the artifact (whose parquet plan matches nothing inline;
    // inline queries there pay their honest cascade cost, which is
    // what they price).
    val name = s"pair_graph_j$JaccardThreshold"
    val df = IndexStore.tryLoad(spark, dir, "documents", name) match {
      case Some(loaded) =>
        val p = loaded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      case None =>
        val g = dedupMinhash(spark, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        g.count() // materialize now: every later consumer is a cache read
        IndexStore.write(spark, dir, "documents", name, g) // reads the cache
        g
    }
    pairGraphCache.synchronized {
      val raced = pairGraphCache.get(key)
      if (raced != null) { df.unpersist(false); raced }
      else { pairGraphCache.put(key, df); df }
    }
  }

  /** Test hook (IndexStoreSpec): drop the in-process pair-graph memo,
    * simulating a fresh driver — a graph reproduced after this call
    * without an [[graft.ops.IndexStore]] build came from the artifact. */
  private[graft] def clearPairGraphCache(): Unit =
    pairGraphCache.synchronized {
      val it = pairGraphCache.values().iterator()
      while (it.hasNext) { it.next().unpersist(false); it.remove() }
    }

  // ----------------------------------- incremental pair-graph delta

  /** The persistable LSH state of a docs frame: its (doc_id, band,
    * sig) band-signature rows — the batch dual of
    * [[graft.streaming.DocStream.nearDupIngest]]'s signature store
    * (that store keeps the 64-long `sig` arrays per doc; this is the
    * banded projection the candidate match actually joins on). Size:
    * 16 rows × (id + ~40 B signature string) per document — id-scale,
    * no text. */
  private[graft] def bandStoreOf(docs: DataFrame): DataFrame =
    bandSigs(minhashSigs(Docs.shingled(docs)))

  /** Durable band store of a snapshot (r18): content-fingerprinted
    * parquet beside the pair graph ([[graft.ops.IndexStore]]), so a
    * later delta can extend the graph without re-deriving the base
    * corpus's shingle + signature cascade. */
  def bandStore(spark: SparkSession, dir: String): DataFrame =
    IndexStore.loadOrBuild(spark, dir, "documents", "band_store") {
      bandStoreOf(Docs.fanned(spark, dir))
    }

  /** NEW verified near-dup pairs created by a DELTA of documents,
    * given the base corpus's persisted band store — the incremental
    * (cross-snapshot) form of [[pairGraph]]: extended graph =
    * base graph ∪ this. Only the delta is shingled and signed; the
    * candidate match joins the delta's band rows against base ∪ delta
    * buckets (so delta↔base and delta↔delta pairs are both found,
    * base↔base pairs cannot change by adding documents), and
    * verification re-attaches shingles for matched docs only.
    *
    * Bucket-cap parity: the [[MaxBucketWidth]] cap is evaluated on the
    * UNION's bucket widths — identical to what a full rebuild over
    * base+delta would see — so (base graph ∪ extend) ≡ full rebuild
    * exactly, UNLESS a bucket crossed the cap between the base build
    * and now: pairs that bucket contributed to the base graph predate
    * the overflow and are kept, where a rebuild would skip the whole
    * bucket. That divergence is the streaming store's too, and the
    * right one — the cap exists to bound candidate quadratics, not to
    * retract already-verified pairs.
    *
    * 100 TB shape: one shingle+sign pass over the DELTA only, one
    * (band, sig) equi-join of delta band rows against the stored
    * bucket rows, exact verification on matched candidates — the full
    * corpus is never re-scanned (`allDocs` is touched only by the
    * id-equi-join that re-attaches the matched candidates' shingles). */
  def pairGraphExtend(baseStore: DataFrame, allDocs: DataFrame,
      deltaDocs: DataFrame): DataFrame = {
    val deltaStore = bandStoreOf(deltaDocs)
    val full = baseStore.select(col("doc_id"), col("band"), col("sig"))
      .unionByName(deltaStore.select(col("doc_id"), col("band"), col("sig")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
    // the SAME dialed cap bandedCandidates applies — a session tuning
    // spark.graft.lsh.maxBucketWidth must see (base ∪ extend) ≡ a full
    // rebuild under its own dial, not under the default (r19 fix)
    val kept = full.withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= bucketCap(baseStore.sparkSession))
    val cands = deltaStore.select(col("doc_id").as("d_id"), col("band"), col("sig"))
      .join(kept, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("d_id"))
      .select(least(col("d_id"), col("doc_id")).as("doc_a"),
        greatest(col("d_id"), col("doc_id")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cands, Docs.shingled(allDocs), JaccardThreshold)
  }

  def corpusCleanStaged(spark: SparkSession, dir: String): DataFrame =
    cleanPairGreedy(spark, dir, pairGraph(spark, dir))

  def dedupClustersStaged(spark: SparkSession, dir: String): DataFrame =
    clustersOver(pairGraph(spark, dir).select(col("doc_a"), col("doc_b")))

  def corpusCleanClusteredStaged(spark: SparkSession, dir: String): DataFrame =
    cleanClusterCollapse(spark, dir,
      pairGraph(spark, dir).select(col("doc_a"), col("doc_b")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_clean" -> (corpusClean _),
    "corpus_clean_clustered" -> (corpusCleanClustered _),
    "corpus_decontam" -> (corpusDecontam _),
    "corpus_decontam_bloom" -> (corpusDecontamBloom _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_ngram" -> (dedupNgram _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_clusters" -> (dedupClusters _),
    "corpus_shared_spans" -> (corpusSharedSpans _),
    "dedup_containment" -> (dedupContainment _),
    // staged pair-graph consumers: same policies, same oracles — the
    // driver sweep checks staged ≡ inline, the bench shows the reuse
    "corpus_clean_staged" -> (corpusCleanStaged _),
    "dedup_clusters_staged" -> (dedupClustersStaged _),
    "corpus_clean_clustered_staged" -> (corpusCleanClusteredStaged _),
  )

  def oracleSql: Map[String, String] = Map(
    "corpus_clean" -> corpusCleanOracle,
    "corpus_clean_clustered" -> corpusCleanClusteredOracle,
    "corpus_decontam" -> corpusDecontamOracle,
    // bloom variant: a PREFILTER, not an approximation — FPs die in
    // the exact verify, so it runs against the exact operator's oracle
    "corpus_decontam_bloom" -> corpusDecontamOracle,
    "dedup_exact" -> dedupExactOracle,
    "dedup_minhash" -> dedupMinhashOracle,
    "dedup_ngram" -> dedupNgramOracle,
    "dedup_simhash" -> dedupSimhashOracle,
    "dedup_embedding" -> dedupEmbeddingOracle,
    "dedup_clusters" -> dedupClustersOracle,
    "corpus_shared_spans" -> corpusSharedSpansOracle,
    "dedup_containment" -> dedupContainmentOracle,
    "corpus_clean_staged" -> corpusCleanOracle,
    "dedup_clusters_staged" -> dedupClustersOracle,
    "corpus_clean_clustered_staged" -> corpusCleanClusteredOracle,
  )
}
