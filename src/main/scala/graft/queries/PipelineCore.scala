package graft.queries

import graft.Tables
import graft.functions.{Fnv1aCore, GraftFunctions => F}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryUtil._

/** Shared substrate of the Pipeline query registry: tuning
  * constants, planted probe rows, Spark-side helper columns and
  * the per-dir cached/persisted builders every family consumes.
  * Split out of the former single-file registry (round 10); the
  * public surface is unchanged — everything is re-exposed through
  * `object Pipeline`, which mixes the family traits together. */
private[queries] trait PipelineCore {
  type Q = (SparkSession, String) => DataFrame

  /** Second-fingerprint-lane / seed-spacing constant (2^64 / golden
    * ratio — a public mixing constant); any init state != OffsetBasis
    * yields an independent member of the reference's `create_init`
    * hash family. */
  private[queries] val Lane2Seed: Long = graft.functions.Fnv1aCore.Lane2Seed

  private[queries] val MinHashSeeds = 64

  /** Largest LSH band bucket handled as one task's array; above it,
    * candidate generation hash-chunks the bucket (CandidatePairs) so
    * per-task work stays ≤ cap² pair checks at any corpus scale. */
  val DefaultBucketCap = 1024
  /** The dedup fixture's verify threshold; banding for any τ is
    * computed per call by [[minhashNearDupPairs]] via
    * graft.operators.LshTuning (τ=0.5 with 64 lanes ⇒ 16 bands × 4
    * rows, S-curve threshold (1/16)^(1/4) = 0.5 exactly; a larger
    * corpus raises the seed budget and the same rule recomputes
    * sharper bands at the same threshold). */
  private[queries] val MinHashJaccardTau = 0.5

  /** Merge rounds for the `bpe_train` trainer (L90) — enough that the
    * argmax chain does real multi-symbol merges on the fixture
    * (merged symbols win later rounds) while the unrolled oracle CTE
    * stays readable. Production trainers run the identical loop to
    * vocab size; k is the only knob. */
  private[graft] val BpeRounds = 8

  /** df cap for `dup_span_runs` pair generation: a shared span in
    * more docs than this is boilerplate (L14's department), not
    * pairwise memorization evidence, and would fan out O(df²) pair
    * rows per span. */
  private[queries] val SpanDfCap = 16

  /** The fixed term queries shared by `bm25_search` (brute corpus
    * scan) and `bm25_indexed` (term-bucket layout) — identical inputs
    * so both run against the identical oracle SQL. */
  private[queries] val Bm25QueryTerms: Seq[(Long, String)] = Seq(
    (0L, "hash"), (0L, "join"),
    (1L, "scan"), (1L, "filter"), (1L, "vector"),
    (2L, "customer"), (2L, "merge"), (2L, "slow"))

  /** The brute-scan BM25 ranking shared by `bm25_search` (top-10 with
    * scores) and `hybrid_rrf` (top-20 lexical arm): (query_id, doc_id,
    * sq = quantized integer score, rank), rank <= limit. Scale shape
    * is documented on `bm25_search`, whose body this is. */
  private[queries] def bm25Ranked(s: SparkSession, dir: String,
      limit: Int): DataFrame = {
    import s.implicits._
    val qterms = Bm25QueryTerms.toDF("query_id", "term")
    val docs = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
    val dl = docs.select($"doc_id", size($"ws").cast("long").as("dl"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      sum($"dl").as("sum_dl")))
    val tf = docs.select($"doc_id", explode($"ws").as("term"))
      .join(broadcast(qterms.select($"term").distinct()), "term")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = log(($"n_docs".cast("double") - $"df".cast("double") +
      lit(0.5)) / ($"df".cast("double") + lit(0.5)) + lit(1.0))
    val tfn = ($"tf".cast("double") * lit(2.2)) /
      ($"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
        ($"dl".cast("double") /
          ($"sum_dl".cast("double") / $"n_docs".cast("double")))))
    val w = Window.partitionBy($"query_id").orderBy($"sq".desc, $"doc_id")
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(stats)
      .join(broadcast(qterms), "term")
      .select($"query_id", $"doc_id",
        floor(idf * tfn * lit(10000.0) + lit(0.5)).as("qs"))
      .groupBy($"query_id", $"doc_id").agg(sum($"qs").as("sq"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= limit)
  }

  /** Per-dir written term-index paths (`bm25_indexed`) — build once
    * per JVM, exactly the persisted-index production shape. */
  private[queries] val termIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-dir catalog ROOTS for the `bm25_catalog` twin (the layout
    * lives at `<root>/search/terms`, resolved through the
    * GraftCatalog plugin). */
  private[queries] val termCatalogCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-dir written IVF cell-layout paths (`ivf_ann`) and their
    * PQ-coded twins (`ivfpq_ann`) — the persisted-index production
    * shape, read back through the DSv2 connector
    * (graft.sources.CellsSource) so cell pruning, runtime narrowing
    * and pruned-listing statistics live on the scan node itself. */
  private[queries] val ivfCellCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] val ivfpqCellCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-dir two-snapshot layout roots (`schema_evolution`). */
  private[queries] val schemaEvoCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One oracle for both BM25 spellings (brute and indexed) — they
    * must agree row-for-row, so they share the SQL literally. */
  /** The BM25 scoring CTE chain (ends in `sc(query_id, doc_id, sq)`)
    * shared by the `bm25_search`/`bm25_indexed` oracle and the
    * lexical arm of the `hybrid_rrf` oracle. */
  private[queries] val Bm25CtesSql: String =
    """qt(query_id, term) AS (VALUES
      |    (0, 'hash'), (0, 'join'),
      |    (1, 'scan'), (1, 'filter'), (1, 'vector'),
      |    (2, 'customer'), (2, 'merge'), (2, 'slow')),
      |dl AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM documents),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |            CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  WHERE term IN (SELECT term FROM qt)
      |  GROUP BY doc_id, term),
      |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |q AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    CAST(FLOOR(
      |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
      |         (CAST(df AS DOUBLE) + 0.5) + 1.0) *
      |      ((CAST(tf AS DOUBLE) * 2.2) /
      |       (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |        (CAST(dl AS DOUBLE) /
      |         (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
      |      * 10000.0 + 0.5) AS BIGINT) AS qs
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN stats JOIN qt USING (term)),
      |sc AS (SELECT query_id, doc_id, CAST(SUM(qs) AS BIGINT) AS sq
      |       FROM q GROUP BY 1, 2)""".stripMargin

  private[queries] val Bm25OracleSql: String =
    s"""WITH $Bm25CtesSql,
      |r AS (SELECT query_id, doc_id, sq,
      |        ROW_NUMBER() OVER (PARTITION BY query_id
      |                           ORDER BY sq DESC, doc_id) AS rank
      |      FROM sc)
      |SELECT CAST(query_id AS BIGINT) AS query_id,
      |  CAST(rank AS BIGINT) AS rank, doc_id,
      |  CAST(sq AS DOUBLE) / 10000.0 AS score
      |FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Distinct word 3-gram shingles of a single-spaced lowercase text
    * column (the documents fixture is exactly that). */
  private[graft] def shingles(text: Column): Column = {
    val t = split(text, " ")
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1),
          element_at(t, i + 2)))))
      .otherwise(array(text))
  }

  /** The 64 MinHash seeds — family member s is init state
    * OffsetBasis ^ (s · golden), the wrap computed at plan time (ANSI
    * mode rejects a wrapping multiply in-row, and these are constants). */
  private[queries] val minhashSeedList: Seq[Long] =
    (0 until MinHashSeeds).map(s => Fnv1aCore.OffsetBasis ^ (s.toLong * Lane2Seed))

  /** MinHash signature over pre-hashed shingles: element s = min over
    * shingles of fnv1a_seeded(seed_s, content-hash). Each shingle
    * string is hashed ONCE (see the query); the 64 lanes then hash only
    * its 8-byte value — 64 string re-hashes per shingle would dominate
    * the whole pipeline (measured ~3x slower end-to-end). All lanes
    * are computed in one codegen'd pass (MinHashSignature, proven
    * value-identical to the per-lane HOF spelling in
    * MinHashSignatureSpec). */
  private[queries] def minhashSig(hs: Column): Column =
    F.minhash_sig(minhashSeedList, hs)

  /** LSH band keys: band b hashes signature rows [b*r, b*r+r) into one
    * 64-bit key (seeded with the band index so bands never collide
    * across b). Parameterized by the banding plan — the lane offsets
    * are derived from `rows`, never hard-coded. */
  private[queries] def bandKeys(sig: Column, rows: Int, bands: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("int").as("band_no"),
        F.fnv1a_seeded_dyn(b.cast("long"),
          (1 to rows).map(i => element_at(sig, b * rows + i)): _*)
          .as("band_hash")))

  /** Left-fold sum from 0.0 — the exact IEEE sequence the DuckDB
    * oracle reproduces with list_reduce(list_prepend(0.0, ...)). */
  private[queries] def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Composite per-doc quality on the eighth grid — four banded
    * signals (length, type-token ratio, stopword ratio, mean token
    * length) averaged; shared by doc_quality, token_budget_select
    * (and mirrored by [[qualitySqlCte]]). */
  private[graft] def qualityOf(text: Column): Column = {
    // one-pass token counts ([[graft.functions.QualitySignals]]):
    // exact equals of the split/array_distinct/filter/fold spellings
    // (pinned in QualitySignalsSpec, score included), so the q6
    // arithmetic below divides the same integers and the score is
    // bit-identical to the former array spelling — with no token
    // array, no dedup array and no interpreted lambda per document
    val sig = F.quality_signals(text)
    val n = sig.getField("n_tok")
    val nTok = n.cast("double")
    val ttr = q6(sig.getField("n_distinct").cast("double") / n)
    val stop = q6(sig.getField("n_stop").cast("double") / n)
    val avgLen = q6(sig.getField("len_sum").cast("double") / n)
    val lenScore = when(nTok >= 50 && nTok <= 5000, 1.0)
      .when(nTok >= 20, 0.5).otherwise(0.0)
    val ttrScore = when(ttr >= 0.3 && ttr <= 0.9, 1.0).otherwise(0.5)
    val stopScore = when(stop >= 0.02 && stop <= 0.3, 1.0).otherwise(0.5)
    val lenSanity = when(avgLen >= 2.0 && avgLen <= 12.0, 1.0).otherwise(0.0)
    q6((lenScore + ttrScore + stopScore + lenSanity) / 4.0)
  }

  /** Distinct shingle HASHES from `text`, no string materialization: a
    * shingle's identity is the chained hash of its three token hashes
    * (fnv1a chaining = composite keys, fnv1a.rs:9-11), computed by the
    * one-pass [[graft.functions.ShingleHashSet]] kernel (value-equal
    * to the three-stage HOF spelling it replaced — ShingleHashesSpec).
    * `keep` columns are passed through.
    *
    * Docs with fewer than 3 tokens fall back to ONE whole-text shingle
    * — the chained hash of all token hashes, the hash identity of
    * [[shingles]]'s `array(text)` fallback and of the oracle CTE's
    * `ELSE [text]` branch, so all three spellings agree on short docs. */
  private[queries] def withShingleHashes(df: DataFrame, keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ F.shingle_hash_set(col("text")).as("hs"): _*)

  /** Codegen'd left-fold dot product (DotProductD) — IEEE-identical
    * to the HOF spelling and the DuckDB list_reduce recipe. */
  private[queries] def dot(a: Column, b: Column): Column = F.dotd(a, b)

  private[queries] def l2norm(a: Column): Column = sqrt(F.dotd(a, a))

  private[queries] val NearDupPlanes = 96

  /** Deterministic pseudo-random ±1 hyperplanes over the 64-dim
    * embedding space: component j of plane h is ±1 from the POPCOUNT
    * PARITY of the chained seeded hash fnv1a(j ∥ fnv1a(h)) — the
    * reference's `create_init` family again (fnv1a.rs:26-28),
    * evaluated at plan-construction time so rows never pay for it.
    * Parity folds all 64 state bits; FNV-1a's bit 0 alone must NOT be
    * used here — it has no avalanche for short inputs and alternates
    * with j, which collapses every plane to ±(+1,−1,+1,…): two
    * effective planes, two LSH buckets, and O(n²) candidate pairs
    * (measured: ~1M pairs over 2000 vectors before this fix).
    * All-±1 vectors share the exact norm 8, so argmax-dot over them
    * equals argmax-cosine (used by IVF cell assignment), and each
    * literal round-trips exactly into oracle SQL. The first 16 serve
    * ann_lsh/ivf_ann; all 96 serve the near-dup bands. */
  private[queries] val hyperplanes: Seq[Seq[Double]] = (0 until NearDupPlanes).map { h =>
    (0 until 64).map { j =>
      val parity = java.lang.Long.bitCount(Fnv1aCore.hashLong(j.toLong,
        Fnv1aCore.hashLong(h.toLong, Fnv1aCore.OffsetBasis))) & 1
      if (parity == 1) 1.0 else -1.0
    }
  }

  private[queries] def planeLit(h: Int): Column = array(hyperplanes(h).map(lit): _*)

  /** Multi-byte UTF-8 probe doc unioned into `binary_features` AND its
    * DuckDB oracle: the leading 3-byte code points make `header_hex`
    * cut through a partial code point and shift byte_mean away from
    * any character-based computation — if either side ever computed
    * features from characters instead of raw UTF-8 bytes, this row
    * would hash-mismatch. (No single quotes: the text is interpolated
    * into the oracle SQL literal verbatim.) */
  private[queries] val nonAsciiProbeText =
    "日本語テキスト héllo wörld ümlaut ascii tail"

  /** Literal es/de probe docs unioned into `lang_id_heuristic` AND its
    * oracle. The synthetic corpus is English-ish — es/de stopword
    * ratios are ~all zero and the prediction is decided by the argmax
    * tiebreak alone; these rows make the three score vectors actually
    * separate, so the oracle verifies the scoring MECHANISM, not just
    * the tie order. (No single quotes: interpolated into SQL.) */
  private[queries] val langIdProbes: Seq[(Long, String, String)] = Seq(
    (-3L, "de", "der hund und die katze sehen das auto und der mann liest das buch"),
    (-2L, "es", "el perro corre por la playa y la casa de el sol es de la madre"))

  /** TRAINING probes for `lang_id_trigram` (L98): a few rows of real
    * text per non-English class, unioned into the labeled training
    * corpus so each class's trigram profile carries genuine
    * characteristic n-grams on top of the fixture's English-ish word
    * salad (whose per-class profiles are statistically identical).
    * (No single quotes: interpolated into SQL.) */
  private[graft] val trigramTrainProbes: Seq[(Long, String, String)] = Seq(
    (-60L, "en", "the quick brown fox jumps over the lazy dog while reading newspapers every morning"),
    (-59L, "en", "children playing together in the garden watched the shining stars through clear evening skies"),
    (-58L, "de", "geschwindigkeit wissenschaftler entwicklung natürlich zwischen brücke während müssen durchschnitt verständnis"),
    (-57L, "de", "möglichkeit geschichte wichtig sprache schreiben lesen schließen über größe straße"),
    (-56L, "es", "canción corazón información atención niños señora años español ciudad después"),
    (-55L, "es", "también situación educación producción música rápido pequeño mañana trabajo investigar"),
    (-54L, "fr", "français château déjà très être où général après toujours beaucoup"),
    (-53L, "fr", "développement gouvernement première connaître plutôt peut-être voilà élève fenêtre forêt"),
    (-52L, "zh", "中文文本处理系统需要大量高质量的训练数据进行建模"),
    (-51L, "zh", "语言模型的预训练语料库需要严格的质量控制和去重流程"))

  /** SCORING probes for `lang_id_trigram`: real-language text with
    * ZERO stopword-list hits (none of the/a/of, el/la/de, der/die/das
    * as whole tokens) — the stopword tier (L5) votes en on every one
    * of these by tiebreak, while the trigram model identifies them.
    * These rows are what separates the two mechanisms. (No single
    * quotes.) */
  private[graft] val trigramScoreProbes: Seq[(Long, String, String)] = Seq(
    (-44L, "de", "schließlich bemühungen verständnisvolle wissenschaftliche durchführung überraschung größenordnung"),
    (-43L, "es", "investigación comunicación civilización oportunidades extraordinario corazones pequeñas"),
    (-42L, "fr", "développées caractéristiques générations connaissances extraordinaires châteaux forêts"),
    (-41L, "zh", "自然语言处理模型训练语料库质量控制流程"),
    (-40L, "en", "reading newspapers every morning children playing together watched shining stars through clear evening skies"))

  /** `(source, text)` probe docs unioned into `tfidf_terms` AND its
    * oracle. The synthetic vocabulary is shared by every source, so
    * corpus-only idf is ln(1)=0 everywhere and the per-source ranking
    * would be decided by the term tiebreak alone; these rows plant
    * terms confined to one or two sources, making tf·idf actually
    * separate — the oracle then checks the scoring mechanism, not
    * just the tie order. (No single quotes: interpolated into SQL.) */
  private[queries] val tfidfProbes: Seq[(String, String)] = Seq(
    ("src0", "zephyr zephyr zephyr quark quark glome"),
    ("src1", "quark zephyrine glome glome"))

  /** Multi-line probe docs unioned into `line_dedup` AND its oracle:
    * the synthetic corpus has no newlines (each doc is one unique
    * line), so these carry the mechanism — a boilerplate line shared
    * by three docs (once with padding, pinning trim-normalized
    * matching), an all-boilerplate doc (must survive as empty text,
    * not vanish), and an empty line (kept: one doc only). (No single
    * quotes: interpolated into SQL via [[sqlText]].) */
  private[queries] val boilerplateProbes: Seq[(Long, String)] = Seq(
    (-14L, "unique alpha content line\nsubscribe to our newsletter\nmore alpha thoughts"),
    (-13L, "  subscribe to our newsletter  \nunique beta content line"),
    (-12L, "subscribe to our newsletter"),
    (-11L, "solo gamma line\n\nsolo delta line"))

  /** PII probe docs unioned into `pii_redact` AND its oracle — the
    * corpus is PII-free word salad, so these pin each pattern, the
    * fixed replacement order, and multi-match counting. (No single
    * quotes.) */
  private[queries] val piiProbes: Seq[(Long, String)] = Seq(
    (-24L, "contact alice.smith+spam@example.com or bob_x@sub.domain.org today"),
    (-23L, "server at 192.168.0.1 and 10.0.0.255 port logs"),
    (-22L, "call +1 555-123-4567 or 555 987 6543 now"),
    (-21L, "mixed a@b.co 127.0.0.1 555-000-1111 end"))

  /** Degenerate-shape probes for `repetition_stats`: a one-token doc
    * (no bigrams — the guard branch) and a highly repetitive doc (the
    * signal the metric exists to catch). */
  private[queries] val repetitionProbes: Seq[(Long, String)] = Seq(
    (-32L, "solo"),
    (-31L, "spam spam spam spam ham"))

  /** Ingestion probes for `incremental_dedup` — the corpus has no
    * exact-duplicate texts, so these carry the mechanism. Ids are far
    * above any fixture range; `id % 4 == 3` puts a doc in the NEW
    * batch, anything else in the EXISTING corpus. One batch doc
    * duplicates an existing doc (dropped via the corpus fingerprint
    * match), two batch docs duplicate each other (smaller id wins),
    * one is unique (kept). Full 5-column rows so the probes flow
    * through the same schema as the fixture. (No single quotes.) */
  private[queries] val ingestProbes: Seq[(Long, String, String, String, Long)] = {
    def p(id: Long, text: String) =
      (id, text, "xx", "probe", text.length.toLong)
    Seq(
      p(9000004L, "probe duplicate alpha content"), // existing corpus
      p(9000003L, "probe duplicate alpha content"), // batch: corpus dup
      p(9000007L, "probe duplicate beta content"),  // batch: pair winner
      p(9000011L, "probe duplicate beta content"),  // batch: pair loser
      p(9000015L, "probe unique gamma content"))    // batch: unique
  }

  /** Probe docs for `full_curation` — the corpus alone exercises the
    * split, gate, budget, chunk and pack stages, and these engineer a
    * guaranteed hit for each REMOVAL stage so the composed chain
    * observably fires end to end at any sf. Ids are chosen for their
    * md5 split label (computed, not assumed): −43 lands in `test`,
    * every other id below lands in `train`.
    *
    *  - −62/−61: identical texts — exact dedup keeps −62, drops −61.
    *  - −60/−54: one-token edit (3-gram Jaccard ≈ 0.96) — both train,
    *    so the near-dup closure drops the non-canonical −54.
    *  - −48/−43: one-token edit across splits (train vs test) — the
    *    decontamination stage drops the train member −48.
    *  - −68/−67/−66: share one boilerplate line (full-text Jaccard
    *    far below τ, so the near-dup stage does NOT collapse them);
    *    line dedup strips the line, and −66 (all boilerplate) comes
    *    out empty and is then dropped by the quality gate.
    *  - −42: carries an email + IP + phone — the redaction stage
    *    rewrites them and the doc flows on with its [EMAIL]-style
    *    tokens.
    *
    * (No single quotes — interpolated into oracle SQL via
    * [[sqlText]].) */
  private[graft] val fullCurationProbes: Seq[(Long, String)] = {
    val dupText = "the probe duplicate pair shares every single byte " +
      "of this text so the exact fingerprint stage must collapse it to " +
      "one winner row keeping the smaller identifier and dropping the " +
      "larger one while later stages never see a second copy of these " +
      "words at all"
    def nearDup(last: String) = "the near duplicate stage of this " +
      "curation chain must catch a pair of documents that differ in " +
      "exactly one token because their shingle sets overlap far above " +
      "the half jaccard threshold used by the minhash bands across the " +
      "whole corpus sweep " + last
    def contam(last: String) = "benchmark decontamination must drop a " +
      "training document that nearly duplicates an evaluation document " +
      "because eval leakage inflates scores and the pipeline keeps the " +
      "eval side untouched while the train side vanishes from the " +
      "final packed output stream " + last
    val sharedLine = "subscribe to the probe newsletter for more updates"
    Seq(
      (-68L, "unique epsilon opening thought line\n" + sharedLine +
        "\nthe epsilon body continues with a careful account of the " +
        "boilerplate removal stage and its fingerprint keyed shuffle"),
      (-67L, sharedLine + "\nthe zeta body text describes a different " +
        "topic entirely with tokens about packing budgets and quality " +
        "gates of the composed pipeline"),
      (-66L, sharedLine),
      (-62L, dupText),
      (-61L, dupText),
      (-60L, nearDup("tonight")),
      (-54L, nearDup("today")),
      (-48L, contam("forever")),
      (-43L, contam("always")),
      (-42L, "the contact card of this probe lists mail to " +
        "agent.x@example.org plus a backup server at 10.1.2.3 and a " +
        "phone line 555-123-9876 for the auditors of the final corpus " +
        "assembly process today"))
  }

  /** A Scala string as a DuckDB SQL literal, newlines spliced as
    * `chr(10)` (texts must not contain single quotes). */
  private[queries] def sqlText(s: String): String =
    "'" + s.replace("\n", "' || chr(10) || '") + "'"

  /** `(id, text)` probe rows as a SQL VALUES list. */
  private[queries] def sqlProbeValues(ps: Seq[(Long, String)]): String =
    ps.map { case (id, t) => s"($id, ${sqlText(t)})" }.mkString(", ")

  /** Full 5-column ingest-probe rows as a SQL VALUES list. */
  private[queries] def sqlIngestProbeValues: String =
    ingestProbes.map { case (id, t, lang, src, n) =>
      s"($id, ${sqlText(t)}, ${sqlText(lang)}, ${sqlText(src)}, CAST($n AS BIGINT))"
    }.mkString(", ")

  /** The first `bands·bits` hyperplanes, row-major-flattened for the
    * one-pass [[graft.functions.SignBandKeys]] codegen kernel (which
    * replaced the interpreted transform-over-planes + per-band
    * slice/fold spelling; parity pinned in SignBandKeysSpec). */
  private[queries] def flatHyperplanes(n: Int): Seq[Double] =
    hyperplanes.take(n).flatten

  /** Banded sign-LSH candidate pairs + exact cosine verify — the
    * embedding-cosine near-dup operator, parameterized so specs can
    * plant known duplicates. `emb` must carry (vec_id: long,
    * v: array<double>). Banding is computed from the corpus size
    * (LshTuning.signBits: bits ≈ log₂ n keeps bucket occupancy O(1)
    * and candidate pairs O(b·n) — no fixture-tuned constants): at
    * sf0.1's ~5k vectors that is 13-bit bands × 7 over the 96-plane
    * budget; at τ=0.99 (angle 8.1°) per-plane sign agreement is
    * p = 1 − θ/π ≈ 0.955, so pair recall is 1−(1−p¹³)⁷ ≈ 0.996.
    * Candidates come only from per-band bucket grouping — the
    * all-pairs comparison exists only in the DuckDB oracle. */
  def embedNearDupPairs(emb: DataFrame, tau: Double,
      sizeHint: Option[Long] = None,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // sizeHint lets the caller supply a cheap cardinality (e.g. a
    // parquet metadata count) instead of paying a full eager job over
    // the possibly-transformed input just to size the banding; an
    // empty corpus floors to 1 so LshTuning stays defined.
    val n = math.max(1L, sizeHint.getOrElse(emb.count()))
    val (bandBits, bandCount) =
      graft.operators.LshTuning.signBits(n, NearDupPlanes)
    // every band key in ONE codegen pass (SignBandKeys): bands*bits
    // dot products, signs packed in-register — no interpreted
    // per-plane lambda, no per-band slice/aggregate sweep.
    val flatPlanes: Seq[Double] = flatHyperplanes(bandCount * bandBits)
    val bucketed = emb.select($"vec_id",
        posexplode(F.sign_band_keys($"v", flatPlanes, 64, bandBits))
          .as(Seq("band_no", "band_key")))
    // Skew-proof per-bucket pair generation (CandidatePairs): bounded
    // buckets keep the one-pass grouped path; a hot bucket is hash-
    // chunked into ≤ cap² cells so no single task owns its O(m²).
    val cand = graft.operators.CandidatePairs.fromBuckets(bucketed,
      Seq("band_no", "band_key"), "vec_id", "va", "vb", bucketCap)
    cand
      .join(emb.select($"vec_id".as("va"), $"v".as("v_a")), "va")
      .join(emb.select($"vec_id".as("vb"), $"v".as("v_b")), "vb")
      .select($"va", $"vb",
        q6(dot($"v_a", $"v_b") / (l2norm($"v_a") * l2norm($"v_b")))
          .as("cos_sim"))
      .filter($"cos_sim" >= tau)
      .orderBy($"va", $"vb")
  }

  /** MinHash + LSH near-dedup pairs over a (doc_id, text) relation:
    * exact word-3-gram Jaccard ≥ `tau` pairs. The banding is computed
    * FROM `tau` (LshTuning.minhashBands with the 64-lane budget — at
    * τ=0.5 that is 16 bands × 4 rows; recall at the J≥0.97 dup band:
    * 1-(1-0.97^4)^16 ≈ 1-4e-8; at the J<0.1 background, band-match
    * odds ≈ 1e-4/pair — false candidates are killed by the exact
    * Jaccard verify), so a different threshold re-tunes the candidate
    * generator rather than just the verify filter. Parameterized so
    * specs can feed synthetic corpora (short docs, planted near-dups)
    * through the exact production path. */
  def minhashNearDupPairs(docs: DataFrame, tau: Double,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (lshRows, lshBands) =
      graft.operators.LshTuning.minhashBands(tau, MinHashSeeds)
    // Hash-repartition on doc_id before the CPU-heavy stages: a
    // compact text table arrives in few input splits, and signature
    // hashing is compute-bound — without the spread a single task
    // would hash everything (measured 3-5x end-to-end). At cluster
    // scale the same repartition balances skewed input files.
    val base = docs.select($"doc_id", $"text").repartition($"doc_id")
    // Candidate generation never materializes shingle STRINGS —
    // building ~250 concat'd strings per doc was the measured
    // bottleneck of the whole pipeline (hash-identity shingles only
    // affect CANDIDATE generation; the exact string-level Jaccard
    // verify below decides membership).
    val hashed = withShingleHashes(base, Seq("doc_id"))
    // Each stage is materialized as its own column/projection: the
    // signature references hs 64 times and the band keys reference
    // sig 64 times — splicing either expression tree in-place would
    // recompute it per reference (measured: 26x slower end-to-end).
    // As separate projections, CollapseProject keeps expensive
    // aliases referenced >1 time un-inlined.
    val sigd = hashed.select($"doc_id", minhashSig($"hs").as("sig"))
    val bucketed = sigd
      .select($"doc_id", explode(bandKeys($"sig", lshRows, lshBands)).as("bk"))
      .select($"doc_id", $"bk.band_no".as("band_no"),
        $"bk.band_hash".as("band_hash"))
    // Candidate pairs via skew-proof per-bucket grouping
    // (CandidatePairs.fromBuckets — ONE signature pass; exchange reuse
    // keeps the signature pipeline from re-running for the hot-bucket
    // self-join branch — as long as every arm's copy of `bucketed`
    // canonicalizes equal down to its leaves: file and RDD leaves do, a
    // DSv2 leaf only through its Scan's equality). Exact duplicates
    // are normally collapsed by exact_dedup (L1) first, which keeps
    // buckets small — but a hot template cluster no longer needs that
    // precondition for the plan to survive: buckets past `bucketCap`
    // are hash-chunked so pair generation distributes instead of
    // landing on one reducer.
    val cand = graft.operators.CandidatePairs.fromBuckets(bucketed,
      Seq("band_no", "band_hash"), "doc_id", "doc_a", "doc_b", bucketCap)
    // Exact string-level Jaccard verify — shingle strings are built
    // only here, for the handful of candidate pair rows.
    cand
      .join(base.select($"doc_id".as("doc_a"), $"text".as("text_a")), "doc_a")
      .join(base.select($"doc_id".as("doc_b"), $"text".as("text_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        shingles($"text_a").as("sh_a"), shingles($"text_b").as("sh_b"))
      .select($"doc_a", $"doc_b",
        q6(size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b"))).as("jaccard"))
      .filter($"jaccard" >= tau)
      .orderBy($"doc_a", $"doc_b")
  }

  /** `(doc_id, band_no, band_hash)` LSH band keys of a
    * (doc_id, text) relation at threshold `tau` — the persisted-index
    * unit ([[graft.operators.BandIndex]]) and the in-query banding of
    * [[minhashNearDupPairs]] / `incremental_neardup`, one spelling
    * (banding computed FROM tau by LshTuning; signature/band stages
    * as separate projections so CollapseProject never re-inlines the
    * 64-reference expressions). */
  private[graft] def minhashBandsOf(docs: DataFrame, tau: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (lshRows, lshBands) =
      graft.operators.LshTuning.minhashBands(tau, MinHashSeeds)
    val hashed = withShingleHashes(
      docs.select($"doc_id", $"text").repartition($"doc_id"), Seq("doc_id"))
    hashed.select($"doc_id", minhashSig($"hs").as("sig"))
      .select($"doc_id",
        explode(bandKeys($"sig", lshRows, lshBands)).as("bk"))
      .select($"doc_id", $"bk.band_no".as("band_no"),
        $"bk.band_hash".as("band_hash"))
  }

  /** The k-round BPE trainer chain over the corpus word-frequency
    * table, shared by `bpe_train` (the merge table) and `bpe_apply`
    * (the corpus-wide application): per-round one-row merge frames
    * plus the FINAL word table (w, seq, cnt) after all k merges.
    * Pure plan construction — every argmax rides a one-row broadcast
    * folded into the plan, no driver collect. Symbol sequences are
    * U+001F-wrapped strings; each merge is one literal replace()
    * (left-to-right non-overlapping in both engines = greedy BPE
    * application). See the `bpe_train` query comment for the 100 TB
    * shape rationale. */
  private[queries] val bpeChainCache =
    new SessionCache[(DataFrame, DataFrame)]

  /** The (round table, final word states) pair, persisted as two
    * restart-survivable [[graft.operators.ArtifactStore]] layouts —
    * a NEW JVM (or session) reads the parquet artifacts instead of
    * re-running the 8-round trainer; both relations are deterministic
    * so consumers are bitwise-identical either way. One lazy build
    * feeds both artifacts when either is missing. */
  private[queries] def bpeChain(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    bpeChainCache.get(s, dir) { d =>
      import graft.operators.ArtifactStore
      lazy val built = buildBpeChain(s, d)
      val rounds = ArtifactStore.getOrBuild(s, d, "bpe_rounds",
        BpeVersion)(built._1.reduce(_ unionAll _)).localCheckpoint()
      val fin = ArtifactStore.getOrBuild(s, d, "bpe_final",
        BpeVersion)(built._2).localCheckpoint()
      (rounds, fin)
    }

  /** Artifact version tag for the BPE layouts — encodes the one
    * tuning constant the build depends on. */
  private[queries] def BpeVersion = s"v1:r$BpeRounds"

  private[queries] def buildBpeChain(s: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    val U = "\u001f"
    val D2 = U + U
    def syms(c: org.apache.spark.sql.Column) = split(trim(c, U), D2)
    val words = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      // wrap every char: "abc" -> (U)a(U)(U)b(U)(U)c(U)
      .select($"w", regexp_replace($"w", "(.)", U + "$1" + U).as("seq"),
        $"cnt")
      // materialize once: 2k+1 subplans per round chain re-read this
      .localCheckpoint()
    var cur = words
    val roundRows = (1 to BpeRounds).map { r =>
      val pc = cur
        .select($"cnt", syms($"seq").as("s"))
        .select($"cnt", explode(expr(
          "zip_with(slice(s, 1, size(s)-1), slice(s, 2, size(s)-1), " +
            "(x, y) -> struct(x AS a, y AS b))")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"cnt").as("c"))
      // each round MATERIALIZES once (localCheckpoint, the CC-loop
      // precedent): without it every later round's branch in the
      // unioned output replays all earlier replaces and argmaxes —
      // measured 10.2 s for the 8-round table at sf0.1 vs ~0.1 s
      // reading the checkpointed rounds. Construction (cached per
      // dir) pays ~3 small jobs per round exactly once per JVM; at
      // cluster scale swap localCheckpoint for a reliable dir via
      // Checkpointing.withTruncation, same shape.
      val best = pc.orderBy($"c".desc, $"a", $"b").limit(1)
        .localCheckpoint()
      val next = cur.crossJoin(broadcast(best))
        .select($"w",
          expr(s"replace(seq, concat('$U', a, '$D2', b, '$U'), " +
            s"concat('$U', a, b, '$U'))").as("seq"), $"cnt")
        .localCheckpoint()
      val vocab = next.select(explode(syms($"seq")).as("sym"))
        .agg(countDistinct($"sym").as("vocab_after"))
        .localCheckpoint()
      val row = best.crossJoin(broadcast(vocab))
        .select(lit(r.toLong).as("merge_round"), $"a".as("left_sym"),
          $"b".as("right_sym"), $"c".as("pair_count"), $"vocab_after")
      cur = next
      row
    }
    (roundRows, cur)
  }

  /** Shared front end of the cluster-closure queries: MinHash near-dup
    * pairs at the standard τ, closed into components. The CC driver
    * loop runs at DataFrame-construction time (like the k-means build
    * in `ivf_ann_learned`) — the returned frame is the materialized
    * labeling (node, component = min doc_id of the cluster). */
  /** The STANDARD fixture pair set (documents at τ=0.5),
    * materialized once per dir per JVM — the graph pairCache pattern:
    * ~ten closure/audit queries consume this same LSH pass, so a
    * Verify/Bench JVM pays the banding + verify once and every
    * consumer reads the checkpointed (small, id-pair) relation. */
  private[queries] val nearDupPairsCache = new SessionCache[DataFrame]

  /** Artifact version for the standard pair set / closure — encodes
    * the verify threshold and the seed budget the banding derives
    * from. */
  private[queries] def lshVersion =
    s"v1:tau$MinHashJaccardTau:seeds$MinHashSeeds"

  private[graft] def nearDupPairsCached(
      s: SparkSession, dir: String): DataFrame =
    nearDupPairsCache.get(s, dir) { d =>
      import s.implicits._
      graft.operators.ArtifactStore.getOrBuild(s, d, "lsh_pairs",
        lshVersion)(
        minhashNearDupPairs(
          Tables.documents(s, d).select($"doc_id", $"text"),
          MinHashJaccardTau))
        // ~ten consumers re-read the pair relation per JVM — pin the
        // one-time artifact read in executor memory (r9 behavior)
        .localCheckpoint()
    }

  /** The standard closure labeling over [[nearDupPairsCached]], also
    * per-dir — the CC driver loop runs once per BUILD of the persisted
    * artifact; every later JVM reads the labeling parquet without
    * re-running the loop. */
  private[queries] val nearDupCompCache = new SessionCache[DataFrame]

  private[queries] def nearDupComponents(s: SparkSession, dir: String): DataFrame =
    nearDupCompCache.get(s, dir)(d =>
      graft.operators.ArtifactStore.getOrBuild(s, d,
        "neardup_components", lshVersion)(
        graft.operators.ConnectedComponents.components(
          nearDupPairsCached(s, d), "doc_a", "doc_b"))
        .localCheckpoint())

  /** The L102 CCNet scorer as a reusable relation: per doc of `docs`
    * ((doc_id, source, text)), the mean NLL under a Laplace-smoothed
    * unigram LM trained ONLY on `refSources`, plus the per-source
    * NTILE(3) tercile. Per-token NLLs are integer micro-nats before
    * the order-free sum; the per-doc mean is one identically-spelled
    * double division, so the (mean_nll, doc_id) tercile order is
    * engine-exact. Factored out so the mechanism spec can feed a
    * synthetic corpus with a junk source and prove the reference
    * model is what separates it (a SELF-trained model would launder
    * the junk — its tokens dominate their own corpus). */
  private[graft] def perplexityBuckets(docs: DataFrame,
      refSources: Seq[String]): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val refc = toks
      .filter(col("source").isin(refSources: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("cr"))
    val tot = broadcast(refc.agg(sum(col("cr")).as("n_ref")).crossJoin(
      toks.select(col("tok")).distinct().agg(count(lit(1)).as("v"))))
    toks
      .join(refc, Seq("tok"), "left_outer")
      .na.fill(0L, Seq("cr"))
      .crossJoin(tot)
      .select(col("doc_id"), col("source"),
        floor(-log((col("cr") + lit(1L)).cast("double") /
          (col("n_ref") + col("v")).cast("double")) * lit(1000000.0) +
          lit(0.5)).as("qnll"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("qnll")).cast("double") / lit(1000000.0) /
          count(lit(1))).as("mean_nll"))
      .withColumn("ppl_bucket", ntile(3).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("mean_nll"), col("doc_id"))).cast("long"))
  }

  /** L105 probe payloads: a base text, its verbatim copy (Hamming 0),
    * corruptions of one and two bytes at SAMPLED grid positions
    * (Hamming 1 and 2 — below the τ=3 cut), and an unrelated control
    * (Hamming 17 from base — never paired). Corruption positions are
    * (j·n)/64 for j = 10 and 32, i.e. exactly the grid samples, so
    * each splice moves exactly one sampled byte across the mean. */
  private[queries] val phashProbes: Seq[(Long, String)] = {
    val base =
      "the quick brown fox jumps over the lazy dog while zebras graze " * 10
    val n = base.length
    def splice(t: String, p: Int): String =
      t.substring(0, p) + " " + t.substring(p + 1)
    Seq(
      -11L -> base,
      -12L -> splice(base, (10 * n) / 64),
      -13L -> splice(splice(base, (10 * n) / 64), (32 * n) / 64),
      -14L -> base,
      -15L -> ("completely different payload content with other words " +
        "entirely here " * 10).take(n))
  }

  private[queries] def phashProbeValuesSql: String =
    phashProbes.map { case (id, t) => s"($id, '$t')" }.mkString(",\n    ")

  /** L103 SemDeDup within-cell dup pairs (vec_a, vec_b): embeddings
    * assigned to the learned IVF cells, EXACT q6 cosine verify over
    * the within-cell pair domain at τ = 0.40 (the paper's 0.96+ is a
    * knob; the synthetic fixture's densest pairs sit at ~0.51).
    * The pair domain is Σ|cell|² by the paper's contract, but the
    * ENUMERATION must not hand a hot cell's O(m²) to one shuffle key
    * (k is fixed at 16 here, so at 10⁹ vectors a raw `join(cell)` is
    * ~(n/16)² on one task) — pairs ride CandidatePairs with the cell
    * as the bucket, which hash-chunks any cell past the cap so every
    * task does ≤ cap² pair checks; the vectors then hash-join back on
    * each side for the exact cosine verify, so the 64-double payload
    * never enters the pair shuffle. */
  private[queries] def semDedupPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    graft.operators.SemDedup.pairs(emb, learnedCents(s, d), 0.40)
      .select($"cell", $"vec_a", $"vec_b")
  }

  /** The SemDeDup dup-group labeling over [[semDedupPairs]] — the CC
    * driver loop runs once per BUILD of the persisted artifact (the
    * neardup_components pattern). */
  private[queries] val semDedupCompCache = new SessionCache[DataFrame]

  private[queries] def semDedupComponents(s: SparkSession, dir: String): DataFrame =
    semDedupCompCache.get(s, dir)(d =>
      graft.operators.ArtifactStore.getOrBuild(s, d,
        "semdedup_components", "v2:tau0.40-cp")(
        graft.operators.ConnectedComponents.components(
          semDedupPairs(s, d).select(col("vec_a"), col("vec_b")),
          "vec_a", "vec_b"))
        .localCheckpoint())

  /** The L96 incremental-curation funnel — cached per dir (stage 2's
    * banding + verify and stage 3's closure run construction-time
    * jobs; the funnel is tiny). */
  /** The per-source centroid relation (source, cvec) shared by L95
    * (`source_centroids`) and L97 (`source_affinity`) — built once
    * per dir (≤ sources × 64 doubles, checkpointed). */
  private[queries] val sourceCentCache = new SessionCache[DataFrame]

  private[queries] def sourceCentroidRelation(
      s: SparkSession, dir: String): DataFrame =
    sourceCentCache.get(s, dir) { d =>
      graft.operators.ArtifactStore.getOrBuild(s, d,
        "source_centroids", "v1:q4")(buildSourceCentroids(s, d))
        .localCheckpoint()
    }

  private[queries] def buildSourceCentroids(
      s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .join(Tables.documents(s, d)
          .select($"doc_id".as("vec_id"), $"source"), "vec_id")
      e.select($"source", posexplode($"v").as(Seq("i", "x")))
        .groupBy($"source", $"i")
        .agg(sum(floor($"x" * lit(10000.0) + lit(0.5)).cast("long"))
          .as("sq"), count(lit(1)).as("n"))
        .select($"source", $"i",
          ($"sq".cast("double") / $"n".cast("double") / lit(10000.0))
            .as("c"))
        .groupBy($"source")
        .agg(array_sort(collect_list(struct($"i", $"c"))).as("ic"))
        .select($"source", expr("transform(ic, p -> p.c)").as("cvec"))
  }

  private[queries] val incrCurationCache = new SessionCache[DataFrame]

  private[queries] def incrementalCurationFunnel(
      s: SparkSession, dir: String): DataFrame =
    incrCurationCache.get(s, dir) { d =>
      // the funnel is 5 rows but its build runs the banded probe and
      // the closure merge — persist it so the build runs once per
      // (dir, version) EVER, not once per JVM
      graft.operators.ArtifactStore.getOrBuild(s, d,
        "incr_curation_funnel", "v1")(buildIncrCurationFunnel(s, d))
    }

  private def buildIncrCurationFunnel(
      s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val base = Tables.documents(s, d).select($"doc_id", $"text")
      val corpus = base.filter($"doc_id" % 10 =!= 0)
      val exactProbes = corpus.filter($"doc_id" % 17 === 2)
        .select(($"doc_id" + 30000000L).as("doc_id"), $"text")
      val nearProbes = corpus.filter($"doc_id" % 23 === 3)
        .select(($"doc_id" + 40000000L).as("doc_id"),
          concat($"text", lit(" ingestprobe")).as("text"))
      // within-batch twin probes guarantee stage 3 does real work:
      // two variants of the same batch doc near-dup each other AND
      // their original — a 3-member batch cluster whose canonical
      // (min id = the original) must survive
      val twinBase = base.filter($"doc_id" % 10 === 0 &&
        $"doc_id" % 13 === 1)
      val twinProbes = twinBase
        .select(($"doc_id" + 50000000L).as("doc_id"),
          concat($"text", lit(" twinprobeA")).as("text"))
        .unionAll(twinBase
          .select(($"doc_id" + 60000000L).as("doc_id"),
            concat($"text", lit(" twinprobeB")).as("text")))
      val batch = base.filter($"doc_id" % 10 === 0)
        .unionAll(exactProbes).unionAll(nearProbes).unionAll(twinProbes)
      // stage 1: exact dedup vs corpus — fingerprints only
      val corpusFps = corpus
        .select(F.fnv1a($"text").as("fp1"),
          F.fnv1a_seeded(Lane2Seed, $"text").as("fp2")).distinct()
      // every stage output is MATERIALIZED once (localCheckpoint):
      // each later stage, the closure, and the funnel rows all read
      // it — without the cut, s2's banded-probe lineage would re-run
      // per consumer (measured: minutes instead of seconds)
      val s1 = batch
        .withColumn("fp1", F.fnv1a($"text"))
        .withColumn("fp2", F.fnv1a_seeded(Lane2Seed, $"text"))
        .join(corpusFps, Seq("fp1", "fp2"), "left_anti")
        .select($"doc_id", $"text")
        .localCheckpoint()
      // stage 2: near-dedup vs corpus — the banded incremental probe
      // (batch bands semi-join the corpus band index; sign-flipped
      // ids make cross pairs the a<0≤b rows), exact Jaccard verify
      val batchBands = minhashBandsOf(s1, MinHashJaccardTau)
        .select((-$"doc_id" - 1L).as("doc_id"), $"band_no", $"band_hash")
      val corpusBands = minhashBandsOf(corpus, MinHashJaccardTau)
        .join(batchBands.select($"band_no", $"band_hash"),
          Seq("band_no", "band_hash"), "left_semi")
      val cand = graft.operators.CandidatePairs.fromBuckets(
          batchBands.unionByName(corpusBands),
          Seq("band_no", "band_hash"), "doc_id", "doc_a", "doc_b")
        .filter($"doc_a" < 0 && $"doc_b" >= 0)
        .select((-$"doc_a" - 1L).as("batch_doc"), $"doc_b".as("corpus_doc"))
      val nearHits = cand
        .join(s1.select($"doc_id".as("batch_doc"), $"text".as("ta")),
          "batch_doc")
        .join(corpus.select($"doc_id".as("corpus_doc"), $"text".as("tb")),
          "corpus_doc")
        .select($"batch_doc",
          q6(size(array_intersect(shingles($"ta"), shingles($"tb")))
            .cast("double") /
            size(array_union(shingles($"ta"), shingles($"tb"))))
            .as("j"))
        .filter($"j" >= MinHashJaccardTau)
        .select($"batch_doc".as("doc_id")).distinct()
      val s2 = s1.join(nearHits, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // stage 3: within-batch closure folded into the corpus labeling
      // (merge touches only the batch's components — here the
      // disjoint fast path, since batch–corpus near-dups are gone)
      val bbPairs = minhashNearDupPairs(s2, MinHashJaccardTau)
      val labels = graft.operators.ConnectedComponents.merge(
        nearDupComponentsOf(s, corpus, d), "node", "component",
        bbPairs, "doc_a", "doc_b")
      val admitted = s2.join(
        labels.filter($"node" =!= $"component")
          .select($"node".as("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      def stageRow(no: Long, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(no).as("stage_no"), lit(name).as("stage"), $"n_docs")
      stageRow(1L, "arrived", batch)
        .unionAll(stageRow(2L, "after_exact", s1))
        .unionAll(stageRow(3L, "after_corpus_neardup", s2))
        .unionAll(stageRow(4L, "admitted", admitted))
        .unionAll(stageRow(5L, "corpus_after", corpus.unionAll(
          admitted.select($"doc_id", lit("").as("text")))))
        .orderBy($"stage_no")
    }

  /** Corpus-side closure labeling for L96 (corpus docs only — NOT the
    * standard full-fixture labeling). */
  private[queries] def nearDupComponentsOf(s: SparkSession, corpus: DataFrame,
      dir: String): DataFrame =
    graft.operators.ConnectedComponents.components(
      minhashNearDupPairs(corpus, MinHashJaccardTau), "doc_a", "doc_b")

  /** The merged (yesterday ∪ today) near-dup labeling behind
    * `incremental_clusters`: ONE LSH pass over the fixture corpus
    * produces the pair set (checkpointed once, so the corpus/batch
    * filters below never re-run it); corpus-internal pairs replay
    * yesterday's labeling via the ordinary closure, and batch-touching
    * pairs fold in through [[graft.operators.ConnectedComponents.merge]]
    * — work ∝ touched components + batch, never the historical
    * closure. Cached per dir (the bm25_indexed pattern): the labeling
    * is the persisted artifact a daily pipeline carries forward. */
  private[queries] val incrClustersCache = new SessionCache[DataFrame]

  /** The embedding-lane twin of [[incrClustersCache]]: the merged
    * SemDeDup labeling behind `incremental_semdedup` — same persisted-
    * artifact rationale, same work-∝-batch maintenance contract. */
  private[queries] val incrSemDedupCache = new SessionCache[DataFrame]

  /** Constructed-frame caches for the TVF twins whose construction
    * runs driver-side jobs (CC loop / strata walk) — the
    * incrClustersCache rationale. */
  private[queries] val neardupSqlCache = new SessionCache[DataFrame]
  private[queries] val budgetSqlCache = new SessionCache[DataFrame]

  /** Constructed-frame caches for the DIRECT budget-selection rows
    * (token_budget_select / budget_select_stratified) — same rationale
    * as [[budgetSqlCache]]: BudgetSelect's construction collects the
    * bounded score grid (a driver-side job) to derive thresholds. */
  private[queries] val budgetSelectCache = new SessionCache[DataFrame]
  private[queries] val budgetStratCache = new SessionCache[DataFrame]

  private[graft] def incrementalClusterLabels(
      s: SparkSession, dir: String): DataFrame =
    incrClustersCache.get(s, dir) { d =>
      import s.implicits._
      val pairs = minhashNearDupPairs(
        Tables.documents(s, d).select($"doc_id", $"text"),
        MinHashJaccardTau).localCheckpoint()
      val isBatch = (c: org.apache.spark.sql.Column) => c % 10 === 0
      val oldPairs = pairs.filter(!isBatch($"doc_a") && !isBatch($"doc_b"))
      val newPairs = pairs.filter(isBatch($"doc_a") || isBatch($"doc_b"))
      val yesterday = graft.operators.ConnectedComponents
        .components(oldPairs, "doc_a", "doc_b")
      graft.operators.ConnectedComponents
        .merge(yesterday, "node", "component", newPairs, "doc_a", "doc_b")
    }

  /** Intermediates of the composed `full_curation` chain, exposed so
    * the spec can assert each stage's effect on the engineered probes
    * without re-deriving the pipeline. */
  private[graft] case class CurationStages(
      afterExact: DataFrame, dupes: DataFrame, contaminated: DataFrame,
      survivors: DataFrame, gated: DataFrame, selected: DataFrame,
      packed: DataFrame)

  /** The product's headline pass, corpus → dataloader, as ONE query:
    * exact dedup → deterministic split → within-train near-dup cluster
    * dedup → decontamination against the held-out eval splits → line
    * boilerplate removal → PII redaction → quality gate → greedy
    * token-budget selection → chunk → pack. Every stage is
    * oracle-proven standalone (exact_dedup, hash_split,
    * neardup_dedup, decontaminate, line_dedup, pii_redact,
    * doc_quality, token_budget_select, doc_chunks, pack_sequences);
    * this composition is the thing a curation user actually runs.
    *
    * Composition contracts, made explicit because order matters:
    *  - ONE LSH pass over the post-exact-dedup corpus feeds BOTH
    *    near-dup stages: train–train pairs close into clusters (the
    *    dedup), train–eval pairs mark contamination. Eval docs are
    *    held out and never curated — the near-dup closure runs on
    *    within-train edges only (a train–eval–train path must NOT
    *    merge two train docs that are not near-dups of each other).
    *  - budget selection runs at the DOCUMENT level, between the gate
    *    and chunking — quality lives on docs, and selecting before
    *    chunking means the dropped 3/5 of tokens are never chunked or
    *    packed at all (the work-saving order at 100 TB).
    *
    * Scale shape: the union of the stages' individual profiles — no
    * stage adds an exchange beyond its standalone plan; the only
    * O(corpus²)-risk step (candidate pairs) stays the LSH band
    * shuffle, and eval/train labeling is a projection (md5 of the id),
    * not a join against a split table. */
  /** Construction is expensive (the LSH checkpoint + the CC loop run
    * jobs) and TWO queries consume the stages (`full_curation`,
    * `curation_funnel`) — cache per dir so a Verify/Bench JVM builds
    * the chain once. The frames themselves stay lazy. */
  private[queries] val curationStagesCache = new SessionCache[CurationStages]

  private[graft] def fullCurationStages(
      s: SparkSession, dir: String): CurationStages =
    curationStagesCache.get(s, dir)(d => buildCurationStages(s, d))

  private[queries] def buildCurationStages(
      s: SparkSession, dir: String): CurationStages = {
    import s.implicits._
    import graft.operators.{BudgetSelect, Chunking, ConnectedComponents,
      Packing, Sampling, TextCleanup}
    val src = Tables.documents(s, dir).select($"doc_id", $"text")
      .unionAll(fullCurationProbes.toDF("doc_id", "text"))
    val w = Window.partitionBy($"fp1", $"fp2").orderBy($"doc_id")
    val exact = src
      .withColumn("fp1", F.fnv1a($"text"))
      .withColumn("fp2", F.fnv1a_seeded(Lane2Seed, $"text"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id", $"text")
    val labeled = exact.withColumn("split",
      Sampling.splitLabel($"doc_id", 0.8, 0.1))
    // the LSH pass is the chain's only heavy candidate generator and
    // BOTH near-dup stages consume it — materialize its (small,
    // id-pair) output once so the closure and the contamination
    // filter never re-run the banding
    val pairs = minhashNearDupPairs(
      labeled.select($"doc_id", $"text"), MinHashJaccardTau)
      .localCheckpoint()
    val lab = labeled.select($"doc_id", $"split")
    val pl = pairs
      .join(lab.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(lab.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
    val dupes = ConnectedComponents.components(
        pl.filter($"sa" === "train" && $"sb" === "train")
          .select($"doc_a", $"doc_b"), "doc_a", "doc_b")
      .filter($"node" =!= $"component")
      .select($"node".as("doc_id"))
    val contaminated = pl
      .filter(($"sa" === "train") =!= ($"sb" === "train"))
      .select(when($"sa" === "train", $"doc_a").otherwise($"doc_b")
        .as("doc_id"))
      .distinct()
    val survivors = labeled.filter($"split" === "train")
      .select($"doc_id", $"text")
      .join(dupes, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val redacted = TextCleanup.dropBoilerplateLines(survivors, minDocs = 2)
      .select($"doc_id",
        TextCleanup.redactPii(
          regexp_replace($"clean_text", "\n", " ")).as("text"))
    // The curated-gated corpus is the chain's natural snapshot
    // boundary: BudgetSelect reads it three times (strata, boundary,
    // final filter) and the chunker reads the winners' text — without
    // materialization every pass would re-run dedup + closure +
    // decontamination + line dedup from the scan. At 100 TB this is
    // the point a production pipeline writes the curated corpus to
    // storage (swap the localCheckpoint for a parquet write under the
    // caller's lifecycle); the plan shape is identical.
    val gated = redacted
      .withColumn("quality", qualityOf($"text"))
      .withColumn("n_tokens", F.token_count($"text").cast("long"))
      .filter($"quality" >= 0.625)
      .localCheckpoint()
    val selected = BudgetSelect.selectFraction(
      gated, "doc_id", "quality", "n_tokens", 2, 5)
    val chunks = Chunking.chunkDocs(selected.select($"doc_id", $"text"),
      maxTokens = 16, overlap = 4, minTokens = 5)
    val packed = Packing.packChunks(
      chunks.select($"doc_id", $"chunk_id", $"n_tokens"),
      budget = 64, nBuckets = 8)
    CurationStages(exact, dupes, contaminated, survivors, gated, selected,
      packed)
  }
  /** Learned IVF centroids per sf dir — computed once (deterministic
    * Lloyd iterations, [[graft.operators.IvfIndex.learnCentroids]])
    * and shared by the `ivf_ann_learned` query and its interpolated
    * oracle. Verify runs every query before dumping oracle_sql.json,
    * so the cache is warm by the time [[oracle]] is built; the k·dim
    * doubles held per dir are driver-trivial. */
  private[queries] val learnedCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** The dir whose data-dependent oracle caches were warmed most
    * recently — consumed only by the no-arg [[oracle]] convenience
    * view (the driver's single-dir contract); each cache is still
    * independently Option-guarded in [[oracleFor]]. */
  @volatile private[queries] var lastOracleDir: Option[String] = None

  private[queries] def learnedCents(s: SparkSession, dir: String): Array[Array[Double]] = {
    val c = learnedCentCache.computeIfAbsent(dir, d => {
      import s.implicits._
      // restart-survivable: the Lloyd learn runs once per (dir,
      // version) ever; later JVMs read the k×dim parquet (doubles
      // round-trip bit-exact, so the interpolated oracle is unchanged)
      graft.operators.ArtifactStore.getOrBuild(s, d,
          "ivf_centroids", "v1:k16:i3") {
        graft.operators.IvfIndex.learnCentroids(
          Tables.embeddings(s, d)
            .select($"vec_id", $"embedding".cast("array<double>").as("v")),
          16, 3)
          .zipWithIndex.map { case (v, i) => (i, v.toSeq) }
          .toSeq.toDF("cid", "vec")
      }.orderBy($"cid").as[(Int, Seq[Double])].collect()
        .map(_._2.toArray)
    })
    lastOracleDir = Some(dir)
    c
  }

  /** Poisson-bootstrap shape shared by `bootstrap_means` and its
    * oracle: 32 replicates, weights from the Poisson(1) inverse CDF
    * over the 2^32 keyed-hash space, truncated at weight 7 (tail mass
    * ~1e-5 — the SAME truncation in both engines because the
    * thresholds are these exact integer literals). */
  private[graft] val BootB = 32
  private[graft] val BootSalt = "boot:v1:"

  /** The L94 sampled-curve knobs: exact-k per-lang stratum size (the
    * sample — and therefore the pair work — is FIXED regardless of
    * corpus size) and the two keyed-hash salts (doc selection, pair
    * replicate weights). */
  private[graft] val CurveSampleK = 60
  private[graft] val CurveSampleSalt = "curvesamp:v1:"
  private[graft] val CurveBootSalt = "curveboot:v1:"

  /** L98 balanced-training knobs: exact-k per class for the trigram
    * model (equalizes the smoothed denominators across classes) and
    * the selection salt. */
  private[graft] val TrigramTrainK = 60
  private[graft] val TrigramSalt = "trig:v1:"
  private[graft] val BootThresholds: Seq[Long] = {
    var pmf = math.exp(-1.0)
    var cdf = pmf
    (0 until 7).map { k =>
      val t = math.floor(cdf * 4294967296.0).toLong
      pmf = pmf / (k + 1)
      cdf += pmf
      t
    }
  }

  /** The shared PQ-ADC top-5 ranking behind `pq_ann` and
    * `ann_recall`: (probe_id, vec_id, adc, rn ≤ 5). Corpus encoded to
    * codes, probes carry their ADC tables, brute scan at test scale
    * (the cosine_knn shape — at 100 TB the IVF prune runs first). */
  private[queries] def pqAdcTop5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.PqIndex
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val books = pqBooks(s, dir)
    val corpus = PqIndex.encode(emb, books).drop("v")
    val probes = PqIndex.probeTables(
      emb.filter($"vec_id" < 20).select($"vec_id".as("probe_id"), $"v"),
      "v", books).drop("v")
    val wTop = Window.partitionBy($"probe_id")
      .orderBy($"adc".desc, $"vec_id")
    corpus.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id", q6(PqIndex.adcDot(PqM)).as("adc"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter($"rn" <= 5)
  }

  /** PQ shape shared by `pq_ann`, its spec, and its oracle: 4
    * subspaces × 16 centroids over the 64-dim embeddings. */
  private[graft] val PqM = 4
  private[graft] val PqK = 16
  private[graft] val PqDim = 64

  /** Per-dir learned PQ codebooks — the [[learnedCents]] pattern: the
    * m·k·(d/m) doubles are driver-trivial, the learn runs once per
    * dir per JVM, and the oracle interpolates the SAME values. */
  private[queries] val pqBooksCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()

  private[graft] def pqBooks(s: SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    val b = pqBooksCache.computeIfAbsent(dir, d => {
      import s.implicits._
      // the learnedCents persistence pattern, m×k×(d/m) doubles
      graft.operators.ArtifactStore.getOrBuild(s, d,
          "pq_codebooks", s"v1:m$PqM:k$PqK:i3") {
        graft.operators.PqIndex.learnCodebooks(
          Tables.embeddings(s, d)
            .select($"vec_id", $"embedding".cast("array<double>").as("v")),
          PqDim, PqM, PqK, 3)
          .zipWithIndex.flatMap { case (sub, m) =>
            sub.zipWithIndex.map { case (v, k) => (m, k, v.toSeq) } }
          .toSeq.toDF("m", "k", "vec")
      }.orderBy($"m", $"k").as[(Int, Int, Seq[Double])].collect()
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3.toArray).toArray).toArray
    })
    lastOracleDir = Some(dir)
    b
  }

  /** Empty since round 6 — every Pipeline query is oracle-gated, and
    * since round 8 so is every query repo-wide (`agg_approx` and
    * `hash_fns_native` closed via interpolated-literal oracles in
    * their own modules). Kept so the SparkEntry aggregation stays
    * stable. */
  val noOracleQueries: Map[String, Q] = Map.empty

  /** Probe docs for `simhash_neighbors`: an exact-duplicate pair
    * (identical shingle sets ⇒ identical simhash ⇒ Hamming 0 — a
    * guaranteed nonzero neighbor count at any sf) plus a one-token
    * edit of the same text (small but hash-determined distance). (No
    * single quotes — ids ride into the interpolated oracle.) */
  private[graft] val simhashProbes: Seq[(Long, String)] = {
    def t(last: String) = "the simhash probe family shares almost all " +
      "of its shingles so the banded hamming search must count these " +
      "documents as mutual neighbors in every " + last
    Seq((-91L, t("round")), (-90L, t("round")), (-89L, t("pass")))
  }

  /** The (doc_id, simhash) frame behind `simhash_neighbors` — also
    * registered per dir so [[oracleFor]] can interpolate the
    * fingerprints as literals AT ORACLE-DUMP TIME. The collect happens
    * only when an oracle is dumped (Verify), never inside the query
    * itself — a 100 TB caller of the query pays no driver
    * materialization. */
  private[queries] val simhashFrameCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** The (source, gram_n, d_approx) frame behind
    * `distinct_ngrams_approx` — registered at query construction,
    * collected only at oracle-dump time (≤ sources × 3 rows), the
    * simhashFrameCache contract. */
  private[queries] val distinctNgramsApproxCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[graft] def simhashFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = withShingleHashes(
      Tables.documents(s, dir).select($"doc_id", $"text")
        .unionAll(simhashProbes.toDF("doc_id", "text"))
        .repartition($"doc_id"), Seq("doc_id"))
      .select($"doc_id", F.simhash64($"hs").as("simhash"))
    simhashFrameCache.put(dir, f)
    f
  }

  /** DuckDB mirror of `simhash_neighbors` given the engine's own
    * fingerprints: all-pairs popcount(xor) ≤ 3 — checks the banded
    * search's recall and the per-doc aggregation. */
  private[queries] def simhashNeighborsSql(fps: Array[(Long, Long)]): String = {
    val rows = fps.sortBy(_._1)
      .map { case (id, h) => s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }
      .mkString(",\n    ")
    s"""WITH f(doc_id, fp) AS (VALUES
       |    $rows),
       |nn AS (
       |  SELECT a.doc_id, COUNT(*) AS n_near
       |  FROM f a JOIN f b
       |    ON b.doc_id <> a.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3
       |  GROUP BY a.doc_id)
       |SELECT f.doc_id, CAST(COALESCE(nn.n_near, 0) AS BIGINT) AS n_near
       |FROM f LEFT JOIN nn USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Probe docs for `winnow_containment`: two docs sharing an 8-token
    * run (the guarantee case), one disjoint doc, and a pair sharing
    * exactly one 6-token run at different positions — the minimal
    * shared-window shape. (No single quotes — interpolated into
    * oracle SQL.) */
  private[graft] val winnowProbes: Seq[(Long, String)] = {
    val run = "a stable shared corridor of eight exact tokens"
    Seq(
      (-82L, s"alpha opening words then $run and a distinct alpha tail"),
      (-81L, s"totally different beta prefix $run closing beta remark"),
      (-80L, "no overlap at all in this probe document text body"))
  }

  /** Winnowing fingerprint sets (Schleimer et al., SIGMOD'03 — public
    * algorithm): positional 3-gram chain hashes (NOT deduplicated —
    * winnowing is positional), then each sliding window of `w` grams
    * contributes its minimum hash; the distinct minima are the doc's
    * fingerprint set. Guarantee: any shared token run covering ≥ w
    * consecutive grams (i.e. ≥ w+2 tokens) between two docs shares at
    * least one fingerprint, at ~1/w the density of full gram hashing.
    * Input: (doc_id, text); output: (doc_id, fps: array<long>).
    *
    * One-pass kernel ([[graft.functions.WinnowFingerprints]]):
    * identical arrays to the former transform/slice/array_min
    * spelling (pinned element-for-element in WinnowFingerprintsSpec,
    * incl. the under-3-token first-token fallback, the under-w-gram
    * global minimum, empty/multibyte texts and the legacy `[null]`
    * row for null text), with O(grams) monotonic-deque work per
    * document instead of O(grams·w) slice-min allocations. */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id",
      when($"text".isNull, array(lit(null).cast("long")))
        .otherwise(F.winnow_fps($"text", w)).as("fps"))
  }

  /** DuckDB literal for hyperplane h — the identical ±1 doubles the
    * Spark plan embeds (exact round-trip: every component is ±1.0). */
  /** The `mixture_resample` rates: downsample the dominant stratum,
    * integer-upsample, fractional-upsample, drop — every branch of
    * [[graft.operators.Sampling.resampleMixture]]; unmapped strata
    * (zh) take the default 1.0. */
  private[queries] val MixtureRates =
    Map("en" -> 0.5, "es" -> 2.0, "de" -> 1.3, "fr" -> 0.0)

  /** Per-dir (source, 64-lane signature) frame behind
    * `source_minhash_sim` — registered at query construction,
    * collected only at oracle-dump time (sources × 64 longs, tiny). */
  private[queries] val sourceSigCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** L99 knobs: doc-subset modulus (the brute oracle is quadratic in
    * token-match pairs, so the audit runs a deterministic 1/7 slice)
    * and the minimal reported duplicated-span length in tokens —
    * deliberately BELOW the L24/L91 fixed window width 8: sub-window
    * granularity is exactly what the suffix ranking adds. */
  private[queries] val DupRunMod = 7
  private[queries] val DupRunMinLen = 4L

  /** The L99 suffix-ranking duplicated-region relation: the %7 doc
    * slice plus planted cross-doc copies (a 5-token and a 13-token
    * verbatim slice under unique marker tokens — one below, one above
    * the L91 window width), tokenized and run through
    * [[graft.operators.SuffixRanks.dupRuns]]. Construction runs the
    * prefix-doubling driver loop, so the result is cached per dir AND
    * persisted as an ArtifactStore layout (the relation every
    * downstream surgery pass would reuse). */
  private[queries] val dupRunsCache = new SessionCache[DataFrame]

  private[queries] def dupSubstringRuns(s: SparkSession,
      dir: String): DataFrame =
    dupRunsCache.get(s, dir) { d =>
      graft.operators.ArtifactStore.getOrBuild(s, d,
        "dup_substring_runs", s"v1:t$DupRunMinLen:m$DupRunMod") {
        import s.implicits._
        val base = Tables.documents(s, d)
          .filter($"doc_id" % DupRunMod === 0)
          .select($"doc_id", $"text")
        def copyProbe(mod: Int, offset: Long, mark: String,
            from: Int, len: Int, minToks: Int) =
          base.filter($"doc_id" % mod === 0 &&
              size(split($"text", " ")) >= minToks)
            .select(($"doc_id" + lit(offset)).as("doc_id"),
              concat(lit(mark), $"doc_id".cast("string"), lit(" "),
                concat_ws(" ",
                  slice(split($"text", " "), from, len)),
                lit(s" ${mark}z"), $"doc_id".cast("string")).as("text"))
        val docs = base
          .unionByName(copyProbe(21, 70000000L, "pa", 6, 5, 10))
          .unionByName(copyProbe(35, 80000000L, "pb", 3, 13, 15))
        val tokens = docs
          .select($"doc_id", posexplode(split($"text", " ")))
          .select($"doc_id", $"pos".cast("long").as("pos"),
            $"col".as("tok"))
        graft.operators.SuffixRanks.dupRuns(tokens, DupRunMinLen)
      }.localCheckpoint()
    }
}
