package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline, all built
  * from codegen'd `org.apache.spark.sql.functions` (no UDFs in the hot
  * path — SURVEY.md §4 "Functions, not UDFs"). Each has an exact DuckDB
  * oracle in SparkEntry.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text; empty text → empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array())
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Canonical form for exact dedup: lowercase, trimmed, whitespace
    * collapsed. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Gopher-style duplicate-token fraction (1 − distinct/total,
    * 4-decimal floor-rounded) from a PRE-MATERIALIZED token column —
    * the repetitious-text filter input, shared by the q42 signal and
    * the q51 selection so the formula has one definition. */
  def repetitionFromTokens(t: Column): Column =
    Ann.round4(when(size(t) > 0,
      lit(1.0) - size(array_distinct(t)).cast("double") /
        size(t).cast("double")).otherwise(0.0))

  /** ALL word n-grams (duplicates kept, in order) from a
    * PRE-MATERIALIZED token column — the repetition-signal counterpart
    * of [[shinglesFromTokens]] (which distincts for set semantics).
    * Native kernel (r06): the
    * `transform(sequence(...), i => concat_ws(" ", element_at×n))` tree
    * it replaces ran interpreted per GRAM; the native loop is one
    * whole-stage-codegen call per row with bit-identical output
    * (NativeTextSpec pins the equality, nulls and empties included). */
  def ngramsFromTokens(t: Column, n: Int): Column =
    Expressions.wordNgrams(t, n, distinct = false)

  /** Distinct word n-gram shingles from a PRE-MATERIALIZED token column
    * (stage `tokens` as its own Project first — see the staging note on
    * [[minhashSigFromTokens]]). Native: fused n-gram + first-occurrence
    * dedup, replacing `array_distinct(ngramsFromTokens(t, n))`. */
  def shinglesFromTokens(t: Column, n: Int): Column =
    Expressions.wordNgrams(t, n, distinct = true)

  /** Distinct word n-grams as 8-byte FNV-1a longs in ONE fused native
    * kernel — the gram strings never materialize (the FNV state chains
    * through token bytes + ' ' separators). Output-equal to
    * `Expressions.arrayFnv1a64(shinglesFromTokens(t, n))` at every call
    * site: the dedup runs on the 64-bit hash instead of the gram text,
    * which is indistinguishable wherever the consumer treats the hashes
    * as a set (Jaccard sets, distinct/semi-join/groupBy keys — all of
    * them do). */
  def hashedShinglesFromTokens(t: Column, n: Int): Column =
    Expressions.hashedWordNgrams(t, n, distinct = true)

  /** Distinct word n-gram shingles of raw text (single-Project
    * convenience; the token array is inlined into each gram slot). */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** Stopword-marker language scores; deterministic argmax with fixed
    * tie-break order (alphabetical by language code). N-gram-style
    * heuristic language ID over marker lexicons. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "que", "un"),
    "fr" -> Seq("le", "la", "de", "et", "est", "que", "un"))

  private def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(c)), t => t.isin(markers.map(lit): _*)))

  /** Predicted language code, or 'und' when no marker hits. */
  def langId(c: Column): Column = {
    val scores = LangMarkers.map { case (code, m) => code -> langScore(c, m) }
    val best = greatest(scores.map(_._2): _*)
    // first language (alphabetical) achieving the max
    scores.foldRight(lit("und"): Column) { case ((code, s), acc) =>
      when(best > 0 && s === best, lit(code)).otherwise(acc)
    }
  }

  /** Heuristic quality score in [0,1]: length band + punctuation ratio
    * + stopword presence. Frozen formula, exact-rational arithmetic
    * rounded once at the end (cross-engine stable). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val nPunct = regexp_count(c, lit("[.,;:!?]")).cast("double")
    val nStop = size(filter(tokens(lower(c)),
      t => t.isin(Seq("the", "a", "of", "and", "is", "to", "in").map(lit): _*)))
      .cast("double")
    val lenScore = when(nTok >= 10 && nTok <= 1000, 1.0)
      .when(nTok > 0, 0.5).otherwise(0.0)
    val punctRatio = when(nTok > 0, least(nPunct / nTok, lit(1.0))).otherwise(0.0)
    val stopRatio = when(nTok > 0, nStop / nTok).otherwise(0.0)
    // floor-based round4: identical IEEE ops in any engine (round()
    // half-boundary behavior is engine-specific)
    floor((lenScore * 0.4 + (lit(1.0) - punctRatio) * 0.3 +
      least(stopRatio * 5, lit(1.0)) * 0.3) * 10000 + 0.5) / 10000
  }

  /** Content-defined document fingerprint: md5 of the canonical text,
    * truncated to 64 bits of hex. */
  def docFingerprint(c: Column): Column =
    substring(md5(normText(c)), 1, 16)

  /** Polynomial rolling fingerprint over token lengths+first letters —
    * cheap order-sensitive hash with an exact SQL oracle (the
    * char-level FNV variant lives in Expressions.RollingHash). */
  def tokenRollingHash(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (h, t) => (h * 31 + length(t) + ascii(t)) % 1000000007L)

  /** MinHash signature from a PRE-MATERIALIZED token column.
    * String-min of fixed-width hex == numeric min of the 128-bit hash,
    * so signatures are engine-portable. md5 is the portability choice
    * (the DuckDB oracle computes the identical signature); a
    * throughput-first deployment swaps it for the codegen'd `xxhash64`
    * — same operator shape, ~5-10× cheaper per token, no oracle.
    *
    * Native kernel (r06): replaces the
    * `array(i => array_min(transform(toks, tok => md5("i:" ++ tok))))`
    * tree — k interpreted ArrayTransform passes and a hex-string
    * allocation per (token, hash) — with one codegen'd call per row
    * that dedups tokens internally (min over the distinct set == min
    * over the multiset, so callers need no array_distinct), reuses one
    * MessageDigest per thread, and compares raw digests (unsigned
    * bytes == hex lexicographic). Bit-identical signatures, pinned by
    * NativeTextSpec.
    *
    * Stage the pipeline as tokens → sig → bands through separate
    * Projects (each a resolved attribute): inlining `sig` into the 16
    * band-key slots would re-tokenize and re-hash every token 16× per
    * row — a quadratic expression blowup that showed up as 15s on 500
    * docs before staging. */
  def minhashSigFromTokens(toks: Column, k: Int): Column =
    Expressions.minhashMd5Sig(toks, k)

  /** The 100 TB CPU/shuffle lever of [[minhashSigFromTokens]]: k
    * codegen'd xxhash64 longs per doc instead of k md5 hex strings
    * (~4× less signature CPU, 8-byte components instead of 32-char
    * hex). md5 stays the DEFAULT because the DuckDB oracles reproduce
    * it exactly; the fast variant is an equally valid MinHash family
    * (different hash ⇒ different — not worse — LSH candidates),
    * spec-pinned on planted near-dups rather than oracle-pinned. */
  def minhashSigFromTokensFast(toks: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(toks, tok => xxhash64(lit(i), tok)))
    }: _*)

  /** Band keys from a fast (long) signature: one xxhash64 over the
    * band's components — an 8-byte key on the exchange instead of a
    * 32-char md5 hex. */
  def bandKeysFromSigFast(sig: Column, k: Int, rows: Int): Column = {
    val bands = k / rows
    array((0 until bands).map { b =>
      xxhash64((0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*)
    }: _*)
  }

  /** LSH band keys from a pre-materialized signature column. */
  def bandKeysFromSig(sig: Column, k: Int, rows: Int): Column = {
    val bands = k / rows
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*))
    }: _*)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): features are
    * unigrams+bigrams hashed into a FIXED `buckets`-sized space; a
    * doc's weight is Σ n_b · ln(p_target(b)/p_raw(b)) with Laplace
    * smoothing, where the target/raw split comes from `isTarget`.
    *
    * Scale shape: the feature space is fixed-size, so the per-bucket
    * log-ratio table is `buckets` rows and BROADCASTS regardless of
    * corpus size; doc features pre-aggregate to (id, bucket, n) with
    * map-side combine before any join; the corpus is featurized once
    * (persisted docFeat feeds both the bucket counts and the scoring
    * join). Determinism: per-bucket λ is floor-quantized to 4 decimals
    * and the per-doc sum is an exact DECIMAL(18,4) — the same scheme
    * as the surprisal operator, with the same disclosed ~1-ulp ln()
    * caveat.
    *
    * Returns (idCol, n_feat, weight) for every doc with ≥1 feature.
    */
  def dsirWeights(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, isTarget: Column,
      buckets: Long = 10000L): org.apache.spark.sql.DataFrame = {
    val d = Exec.fanOutForCpu(df.filter(col(textCol).isNotNull))
      .select(col(idCol), isTarget.as("_graft_is_t"),
        tokens(lower(col(textCol))).as("t"))
      .filter(col("t").isNotNull)
    // features hash BEFORE the explode: unigram hashes via the array
    // FNV kernel, bigram hashes via the fused n-gram+FNV kernel (the
    // chained state == fnv1a64 of the space-joined gram string, so the
    // bucket ids are bit-identical to hashing exploded strings)
    val feats = d.select(col(idCol), col("_graft_is_t"),
        explode(concat(Expressions.arrayFnv1a64(col("t")),
          Expressions.hashedWordNgrams(col("t"), 2, distinct = false)))
          .as("h"))
      .select(col(idCol), col("_graft_is_t"),
        pmod(col("h"), lit(buckets)).as("b"))
    val docFeat = Dedup.trackPersisted(feats
      .groupBy(col(idCol), col("_graft_is_t"), col("b"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bucketCounts = docFeat
      .groupBy(col("b")).agg(
        sum(when(col("_graft_is_t"), col("n")).otherwise(0L)).as("ct"),
        sum(when(!col("_graft_is_t"), col("n")).otherwise(0L)).as("cr"))
    val totals = bucketCounts.agg(sum(col("ct")).as("tt"),
      sum(col("cr")).as("tr"))
    val lam = broadcast(bucketCounts.crossJoin(broadcast(totals))
      .select(col("b"), Ann.round4(
        log((col("ct") + 1).cast("double") /
          (col("tt") + buckets).cast("double")) -
        log((col("cr") + 1).cast("double") /
          (col("tr") + buckets).cast("double")))
        .cast("decimal(18,4)").as("lam")))
    docFeat.join(lam, Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_feat"),
        sum(col("lam") * col("n")).cast("double").as("w"))
      .select(col(idCol), col("n_feat"), Ann.round4(col("w")).as("weight"))
  }
}
