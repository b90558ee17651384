package perfbench

import graft.functions.{Fnv1aCore, GraftFunctions => F}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `functions` layer probes: each codegen'd kernel the curation
  * rows lean on, run over the sf0.1 documents into Spark's `noop` sink,
  * and the built-in spelling its spec pins, with the two outputs
  * asserted equal. */
object Kernels {

  /** A probe: `kernel` and its `builtin` spelling are frames over the
    * prepared corpus with the same rows. */
  final case class Probe(name: String, kernel: DataFrame, builtin: DataFrame)

  /** `failure` is set when the probe could not run. */
  final case class Result(name: String, kernelS: Double, builtinS: Double,
      equal: Boolean, failure: String = "")

  private val Seeds: Seq[Long] = (1L to 16L).map(_ * 0x9E3779B97F4A7C15L)

  private def tokenHashes(text: Column): Column =
    transform(split(text, " "), w => F.fnv1a(w))

  private def legacyCounts(t0: Column): Column = {
    val t = split(t0, " ")
    struct(size(t).as("n_tok"), size(array_distinct(t)).as("n_distinct"),
      size(filter(t, w => w === "the" || w === "a" || w === "of")).as("n_stop"),
      aggregate(transform(t, w => length(w).cast("long")), lit(0L),
        (acc, x) => acc + x).as("len_sum"))
  }

  private def legacyWinnow(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"), tokenHashes(col("text")).as("th"))
      .select(col("doc_id"), when(size(col("th")) >= 3,
        transform(sequence(lit(1), size(col("th")) - 2), i =>
          F.fnv1a(element_at(col("th"), i), element_at(col("th"), i + 1),
            element_at(col("th"), i + 2))))
        .otherwise(array(element_at(col("th"), 1))).as("grams"))
      .select(col("doc_id"), when(size(col("grams")) >= w,
        array_distinct(transform(sequence(lit(1), size(col("grams")) - (w - 1)),
          j => array_min(slice(col("grams"), j, lit(w))))))
        .otherwise(array(array_min(col("grams")))).as("fps"))

  private def legacySimhash(hs: Column): Column =
    (0 until 64).map { i =>
      when(aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, i).bitwiseAND(1L)) * 2 >= size(hs),
        lit(1L << i)).otherwise(0L)
    }.reduce(_ bitwiseOR _)

  /** The probes over `docs` (doc_id, text, hs). */
  def probes(docs: DataFrame): Seq[Probe] = {
    val t = col("text")
    def pair(name: String, k: Column, b: Column) =
      Probe(name, docs.select(col("doc_id"), k.as("v")),
        docs.select(col("doc_id"), b.as("v")))
    Seq(
      pair("quality_signals", F.quality_signals(t), legacyCounts(t)),
      pair("token_count", F.token_count(t), size(split(t, " "))),
      Probe("winnow_fps", docs.select(col("doc_id"), F.winnow_fps(t, 4).as("fps")),
        legacyWinnow(docs, 4)),
      Probe("shingle_hashes",
        docs.select(col("doc_id"), F.shingle_hashes(t).as(Seq("gram_no", "gram_hash"))),
        docs.select(col("doc_id"), tokenHashes(t).as("th"))
          .select(col("doc_id"), posexplode(transform(
            sequence(lit(1), size(col("th")) - 2), i =>
              F.fnv1a(element_at(col("th"), i), element_at(col("th"), i + 1),
                element_at(col("th"), i + 2)))).as(Seq("pos0", "gram_hash")))
          .select(col("doc_id"), (col("pos0") + 1).as("gram_no"), col("gram_hash"))),
      pair("minhash_sig", F.minhash_sig(Seeds, col("hs")),
        array(Seeds.map(s => array_min(transform(col("hs"),
          h => F.fnv1a_seeded(s, h)))): _*)),
      pair("simhash64", F.simhash64(col("hs")), legacySimhash(col("hs"))),
      Probe("char_ngrams",
        docs.select(col("doc_id"), F.char_ngrams(t, 3, shortWhole = true).as("g")),
        docs.select(col("doc_id"), explode(expr(
          "CASE WHEN length(text) < 3 THEN array(text) ELSE " +
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) END"))
          .as("g"))),
      Probe("token_window_hashes",
        docs.select(col("doc_id"), F.token_window_hashes(t, 6).as(Seq("pos", "fp1", "fp2"))),
        docs.select(col("doc_id"), split(t, " ").as("ws"))
          .filter(size(col("ws")) >= 6)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ws")) - 5), i =>
              struct(i.cast("long").as("pos"),
                concat_ws(" ", slice(col("ws"), i, lit(6))).as("sp")))).as("g"))
          .select(col("doc_id"), col("g.pos").as("pos"), F.fnv1a(col("g.sp")).as("fp1"),
            F.fnv1a_seeded(Fnv1aCore.Lane2Seed, col("g.sp")).as("fp2"))))
  }

  private def noopSeconds(df: DataFrame, reps: Int): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })

  /** Multiset equality of two frames with the same columns: equal row
    * counts and order-insensitive content digests of their string forms
    * (the built-in spelling may differ from the kernel in nullability,
    * which a direct comparison rejects). */
  private def sameRows(k: DataFrame, b: DataFrame): Boolean = {
    def asText(df: DataFrame) = df.select(df.columns.map(c => col(c).cast("string")).toSeq: _*)
    Check.digest(asText(k)) == Check.digest(asText(b))
  }

  /** The documents with their shingle hashes precomputed for the
    * kernels that take them, materialized so the probes time only the
    * kernels. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), F.shingle_hash_set(col("text")).as("hs"))
      .localCheckpoint()

  /** Each probe over the documents: the kernel's median of three
    * timings, the built-in spelling's single timing. */
  def run(spark: SparkSession, dir: String): Seq[Result] = {
    val docs = corpus(spark, dir)
    try probes(docs).map { p =>
      try {
        val k = noopSeconds(p.kernel, reps = 3)
        val b = noopSeconds(p.builtin, reps = 1)
        Result(p.name, k, b, sameRows(p.kernel, p.builtin))
      } catch {
        case e: Throwable => Result(p.name, 0.0, 0.0, equal = false, e.toString.take(300))
      }
    } finally docs.unpersist()
  }
}
