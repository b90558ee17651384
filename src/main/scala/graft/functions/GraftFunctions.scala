package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}

/** Public Column API for the engine's custom functions (the Spark-4
  * `Column` ↔ Catalyst `Expression` bridge goes through
  * the graftbridge shim over `classic.ExpressionUtils`). */
object GraftFunctions {

  /** Reference-identical FNV-1a fingerprint of one or more columns;
    * multi-column calls chain the hash state (composite keys). */
  def fnv1a(cols: Column*): Column =
    ExpressionUtils.column(
      Fnv1aHash(cols.map(ExpressionUtils.expression), Fnv1aCore.OffsetBasis))

  /** Seeded FNV-1a — the reference's `create_init` hash family
    * (fnv1a.rs:26-28); the substrate for MinHash seeding. */
  def fnv1a_seeded(seed: Long, cols: Column*): Column =
    ExpressionUtils.column(
      Fnv1aHash(cols.map(ExpressionUtils.expression), seed))

  /** Seeded FNV-1a with a runtime seed column — lets higher-order
    * functions vary the hash-family index per lambda variable (MinHash
    * signatures stay inside codegen; no UDF). */
  def fnv1a_seeded_dyn(seed: Column, cols: Column*): Column =
    ExpressionUtils.column(
      Fnv1aSeededHash((seed +: cols).map(ExpressionUtils.expression)))

  /** Codegen'd left-fold dot product of two array<double> columns —
    * IEEE-identical to `aggregate(zip_with(a, b, _*_), 0.0, _+_)` and
    * to the DuckDB list_reduce oracle recipe, minus the per-element
    * interpreted-lambda cost. */
  def dotd(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProductD(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd MinHash signature: all lane minima of the seeded hash
    * family in one pass over the pre-hashed shingle array (equals the
    * array_min(transform(...)) spelling, minus its per-lane
    * interpreted sweeps). */
  def minhash_sig(seeds: Seq[Long], hashes: Column): Column =
    ExpressionUtils.column(
      MinHashSignature(ExpressionUtils.expression(hashes), seeds))

  /** Codegen'd sign-LSH band keys: one pass over `bands*bits`
    * hyperplane dot products of an array<double> vector, packed into
    * per-band bucket keys. `planes` is the row-major flattening of
    * the used hyperplanes. */
  def sign_band_keys(v: Column, planes: Seq[Double], dim: Int,
      bitsPerBand: Int): Column =
    ExpressionUtils.column(
      SignBandKeys(ExpressionUtils.expression(v), planes, dim, bitsPerBand))

  /** Codegen'd one-pass 64-bit SimHash over an array<bigint> of
    * shingle hashes (bit b = majority vote of bit b). */
  def simhash64(hashes: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(hashes)))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) inside whole-stage
    * codegen — the canonicalization in front of text dedup keys. */
  def unicode_normalize(c: Column, form: String = "NFC"): Column =
    ExpressionUtils.column(
      UnicodeNormalize(ExpressionUtils.expression(c), form))

  /** Codegen'd unsigned-byte sum of a binary column (multimodal
    * byte features — `byte_sum(b) / octet_length(b)` is byte-mean). */
  def byte_sum(b: Column): Column =
    ExpressionUtils.column(ByteSum(ExpressionUtils.expression(b)))

  /** Codegen'd 64-bit average hash of a binary payload (the L105
    * perceptual near-dup fingerprint). */
  def ahash64(b: Column): Column =
    ExpressionUtils.column(AHash64(ExpressionUtils.expression(b)))

  /** Distinct word-3-gram shingle hashes as ONE array column, single
    * pass over the UTF-8 bytes (whole-text fallback under 3 tokens) —
    * the MinHash pipeline front end. */
  def shingle_hash_set(text: Column): Column =
    ExpressionUtils.column(ShingleHashSet(ExpressionUtils.expression(text)))

  /** Winnowing fingerprint set (distinct sliding-window minima of the
    * positional 3-gram chain hashes, first-occurrence order) in one
    * pass over the UTF-8 bytes — O(grams) deque work per document
    * instead of the O(grams·w) per-window slice-min spelling. */
  def winnow_fps(text: Column, w: Int): Column =
    ExpressionUtils.column(
      WinnowFingerprints(ExpressionUtils.expression(text), w))

  /** The curation quality gate's four token counts
    * (`struct(n_tok, n_distinct, n_stop, len_sum)`) in one pass over
    * the UTF-8 bytes — exact equals of their split/array_distinct/
    * filter/fold spellings. */
  def quality_signals(text: Column): Column =
    ExpressionUtils.column(
      QualitySignals(ExpressionUtils.expression(text)))

  /** `size(split(text, delim))` as one byte scan — the delimited
    * token count with no regex and no token-array allocation
    * (single-char ASCII delimiters only). */
  def token_count(text: Column, delim: Char = ' '): Column =
    ExpressionUtils.column(
      TokenCount(ExpressionUtils.expression(text), delim))

  /** Bounded membership aggregate: `struct(cnt, ids)` with the exact
    * group row count and its `cap` smallest bigint ids ascending —
    * per-group aggregation memory capped at `cap` longs no matter how
    * skewed the group (the CandidatePairs back end). */
  def bounded_min_set(id: Column, cap: Int): Column =
    ExpressionUtils.column(
      BoundedMinSetAgg(ExpressionUtils.expression(id), cap)
        .toAggregateExpression())

  /** Upper-triangle X^T X aggregate: `struct(cnt, cells)` with the
    * exact vector count and d·(d+1)/2 integer micro-sums (×10⁶) of
    * pairwise products in (i, j ≥ i) order — O(d²) task state however
    * many rows, map-side combinable (the distributed Gram/covariance
    * primitive). */
  def gram_matrix(vec: Column, dim: Int): Column =
    ExpressionUtils.column(
      GramMatrixAgg(ExpressionUtils.expression(vec), dim)
        .toAggregateExpression())

  /** Misra–Gries frequent-items summary: `struct(n, items)` with the
    * exact non-null input count and ≤ `cap` candidate keys whose
    * underestimating counts still satisfy the mergeable guarantee
    * (every key with true frequency > n/(cap+1) is present). The
    * candidate half of exact heavy hitters — confirm with a bounded
    * recount (see `heavy_hitters`). */
  def misra_gries(key: Column, cap: Int): Column =
    ExpressionUtils.column(
      MisraGriesAgg(ExpressionUtils.expression(key), cap)
        .toAggregateExpression())

  /** Streaming word-3-gram generator (custom UDTF): one output row
    * per positional gram, no gram array materialization. Use in a
    * select like explode: `df.select($"id", shingle_hashes($"text"))`. */
  def shingle_hashes(text: Column): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text)))

  /** Streaming char-n-gram generator (custom UDTF): one row per n
    * adjacent chars, no per-row string array materialization — BPE
    * merge candidates (n=2), lang-ID trigrams (n=3). `shortWhole`
    * emits a text shorter than n once whole (the lang-ID short-text
    * contract) instead of nothing. Use in a select like explode. */
  def char_ngrams(text: Column, n: Int, shortWhole: Boolean = false): Column =
    ExpressionUtils.column(
      CharNGrams(ExpressionUtils.expression(text), n, shortWhole))

  /** [[char_ngrams]] at n=2 — the BPE merge-candidate relation. */
  def char_bigrams(text: Column): Column = char_ngrams(text, 2)

  /** Streaming token-window FINGERPRINT generator (custom UDTF): one
    * (pos, fp1[, fp2]) row per sliding w-token window, the FNV lanes
    * folded directly over the original byte span — the dup-span /
    * winnowing gram relation with no span strings or token arrays.
    * Use in a select like explode. */
  def token_window_hashes(text: Column, w: Int, lanes: Int = 2): Column =
    ExpressionUtils.column(
      TokenWindowHashes(ExpressionUtils.expression(text), w, lanes))

  /** Streaming whitespace-token-window generator (custom UDTF): one
    * (chunk_id, chunk_text, n_tokens) row per overlapping window, each
    * chunk one slice off the original buffer — the
    * [[graft.operators.Chunking.chunkDocs]] relation. Use in a select
    * like explode. */
  def token_windows(text: Column, maxTokens: Int, overlap: Int): Column =
    ExpressionUtils.column(
      TokenWindows(ExpressionUtils.expression(text), maxTokens, overlap))

  /** Streaming ≤k-deletion-neighborhood fingerprint generator (custom
    * UDTF): one LongType row per 0/1/2-deletion variant hash, no
    * variant string materialization — the [[graft.operators.FuzzyMatch]]
    * blocking relation. Use in a select like explode. */
  def deletion_variant_hashes(s: Column, k: Int): Column =
    ExpressionUtils.column(
      DeletionVariantHashes(ExpressionUtils.expression(s), k))

  /** Register the library's custom functions for the SQL surface of
    * this session — every codegen'd scalar kernel plus the two typed
    * aggregates, so `spark.sql` text reaches the same expressions the
    * Column API builds (`fnv1a_seeded(seed, cols...)` — seed is any
    * bigint expression; `bounded_min_set(id, cap)` / `misra_gries(key,
    * cap)` take a literal int cap). */
  def registerSql(spark: SparkSession): Unit = {
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be a literal int, got $other")
    }
    val r = spark.sessionState.functionRegistry
    // a name the session already has is kept: re-registering replaces
    // it and logs a WARN per function on every repeated call
    def register(name: String, builder: FunctionRegistry.FunctionBuilder,
        source: String): Unit =
      if (!r.functionExists(FunctionIdentifier(name)))
        r.createOrReplaceTempFunction(name, builder, source)
    register(
      "fnv1a", exprs => Fnv1aHash(exprs, Fnv1aCore.OffsetBasis), "built-in")
    register(
      "fnv1a_seeded", exprs => Fnv1aSeededHash(exprs), "built-in")
    register(
      "dotd", { exprs =>
        require(exprs.length == 2, "dotd(a, b) takes two array<double>")
        DotProductD(exprs.head, exprs(1))
      }, "built-in")
    register(
      "simhash64", { exprs =>
        require(exprs.length == 1, "simhash64(hashes) takes one array<bigint>")
        SimHash64(exprs.head)
      }, "built-in")
    register(
      "byte_sum", { exprs =>
        require(exprs.length == 1, "byte_sum(b) takes one binary column")
        ByteSum(exprs.head)
      }, "built-in")
    register(
      "ahash64", { exprs =>
        require(exprs.length == 1, "ahash64(b) takes one binary column")
        AHash64(exprs.head)
      }, "built-in")
    register(
      "shingle_hash_set", { exprs =>
        require(exprs.length == 1, "shingle_hash_set(text) takes one column")
        ShingleHashSet(exprs.head)
      }, "built-in")
    register(
      "shingle_hashes", { exprs =>
        require(exprs.length == 1, "shingle_hashes(text) takes one column")
        ShingleHashes(exprs.head)
      }, "built-in")
    register(
      "bounded_min_set", { exprs =>
        require(exprs.length == 2, "bounded_min_set(id, cap)")
        BoundedMinSetAgg(exprs.head, intLit(exprs(1), "bounded_min_set cap"))
          .toAggregateExpression()
      }, "built-in")
    register(
      "misra_gries", { exprs =>
        require(exprs.length == 2, "misra_gries(key, cap)")
        MisraGriesAgg(exprs.head, intLit(exprs(1), "misra_gries cap"))
          .toAggregateExpression()
      }, "built-in")
    register(
      "gram_matrix", { exprs =>
        require(exprs.length == 2, "gram_matrix(vec, dim)")
        GramMatrixAgg(exprs.head, intLit(exprs(1), "gram_matrix dim"))
          .toAggregateExpression()
      }, "built-in")
    register(
      "hilbert2", { exprs =>
        require(exprs.length == 3, "hilbert2(x, y, bits)")
        HilbertIndex2(exprs.head, exprs(1), intLit(exprs(2), "hilbert2 bits"))
      }, "built-in")
  }
}
