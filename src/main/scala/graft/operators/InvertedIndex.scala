package graft.operators

import graft.functions.Fnv1aCore
import graft.functions.{GraftFunctions => F}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Inverted-index layout for keyword search — the scale path behind
  * `bm25_search`: the brute query scores the whole corpus every time;
  * a term-partitioned postings layout answers a query by READING only
  * the query terms' slice of the index, pruned at file-listing time
  * (the same layout-key contract [[IvfIndex.writeCellLayout]] proves
  * for vectors, applied to terms).
  *
  * Layout key: `bucket = pmod(fnv1a(term), nBuckets)` — NOT the term
  * itself. Partitioning by raw term would create one directory per
  * distinct token (millions of tiny directories and files at corpus
  * scale — a metadata DoS on the file listing); hashing into a fixed
  * bucket count keeps directories bounded and near-uniform while a
  * term lookup still prunes to `|terms| / nBuckets` of the index. The
  * residual in-bucket filter is an ordinary pushed-down predicate on
  * the `term` column (parquet min/max + dictionary pages carry it).
  *
  * Postings carry `(term, bucket, doc_id, tf, dl)` — tf and the doc
  * length dl are precomputed at build time, so a BM25 query needs NO
  * join back to the corpus: score = f(tf, dl, df, corpus stats), and
  * df comes from the pruned postings themselves. Corpus stats (N,
  * total length) are one tiny side relation written next to the index.
  */
object InvertedIndex {

  /** Term bucket of `termCol` — engine side. */
  def bucketCol(termCol: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(F.fnv1a(termCol), lit(nBuckets.toLong))

  /** Term bucket — driver side, bit-identical to [[bucketCol]]. */
  def bucketOf(term: String, nBuckets: Int): Long =
    math.floorMod(
      Fnv1aCore.hashBytes(
        term.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        Fnv1aCore.OffsetBasis),
      nBuckets.toLong)

  /** `(term, bucket, doc_id, tf, dl)` postings of a
    * `(doc_id, text)` corpus: one shuffle, keyed by (doc, term) for
    * the map-side-combinable tf count. */
  def buildPostings(docs: DataFrame, nBuckets: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("dl"),
        explode(split($"text", " ")).as("term"))
      .groupBy($"term", $"doc_id", $"dl")
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketCol($"term", nBuckets))
  }

  /** Materialize postings partitioned by bucket, plus the one-row
    * corpus stats relation (`n_docs`, `sum_dl`) at `<path>.stats`.
    * `nBuckets > 0` stamps the geometry into `_graft_meta.json` (the
    * BandIndex rule applied to the term layout): readers that must
    * derive a term's bucket — the DSv2 connector's term pushdown, the
    * catalog — re-derive nBuckets from the layout itself instead of
    * trusting a caller option; 0 keeps the legacy stamp-less shape. */
  def writeTermLayout(postings: DataFrame, corpusStats: DataFrame,
      path: String, nBuckets: Int = 0): Unit = {
    require(postings.columns.contains("bucket"),
      "writeTermLayout needs a `bucket` column (see buildPostings)")
    postings.write.mode("overwrite").partitionBy("bucket").parquet(path)
    corpusStats.write.mode("overwrite").parquet(path + ".stats")
    if (nBuckets > 0) {
      val p = new Path(path, "_graft_meta.json")
      val fs = p.getFileSystem(
        postings.sparkSession.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(s"""{"nBuckets": $nBuckets}""".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The stamped `nBuckets` of a term layout, if the layout carries
    * one (a stamp inside the effective base generation wins over the
    * root — the readCellMeta rule). */
  def readStampedBuckets(spark: SparkSession,
      path: String): Option[Int] = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val inBase = new Path(TxBatch.baseDir(spark, path),
      "_graft_meta.json")
    val p = if (fs.exists(inBase)) inBase
      else new Path(path, "_graft_meta.json")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    """"nBuckets":\s*(\d+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toInt)
  }

  /** Append a NEW batch's postings into an existing term layout — the
    * index-maintenance path of a continuously-fed corpus: bucket
    * directories gain files, nothing is rewritten, and the stats
    * relation gains one row (merged at read time by [[bm25]]).
    * Caller contract: the batch is already deduplicated against the
    * indexed corpus (the `incremental_dedup` stage) — re-appending a
    * doc double-counts it, exactly as in any postings-merge index.
    * Stream usage: `events.writeStream.foreachBatch((b, _) =>
    * appendPostings(b, path, n))`. */
  def appendPostings(docs: DataFrame, path: String, nBuckets: Int): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    buildPostings(docs, nBuckets)
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(path)
    docs.select(F.token_count($"text").cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      .write.mode(SaveMode.Append).parquet(path + ".stats")
  }

  /** [[appendPostings]] made idempotent AND atomic by batch id — the
    * retry-safe face the streaming loop needs: Spark re-delivers a
    * micro-batch (same `batchId`) whenever the sink committed but the
    * query's own checkpoint did not (every restart replays the last
    * batch), and a bare append would double-count the re-delivery.
    *
    * Manifest-commit protocol (closes the crash window the earlier
    * marker-after-append spelling documented): the batch's data files
    * AND its stats row are staged under a hidden unique directory
    * (`_staging-<id>-<uuid>`, invisible to every reader), then
    * published with ONE atomic rename to `_batch-<id>` — the committed
    * batch directory is simultaneously the data and the marker, so
    * there is no state in which a reader sees data without the marker
    * or vice versa. Crash before the rename: nothing visible, the
    * retry restages and publishes (exactly-once). Crash after: the
    * retry sees the directory and is a no-op. Stale stagings of a
    * settled batch id are swept opportunistically.
    *
    * Read surface: committed batches are underscore-hidden from plain
    * `spark.read.parquet(path)` BY DESIGN (that is what makes the
    * publish atomic) — read through [[readLayout]], [[lookupTerms]],
    * [[lookupTermsV2]]/the DSv2 connector, or [[bm25]], all of which
    * list committed batch directories. Returns whether the batch was
    * applied. Stream usage:
    * `writeStream.foreachBatch((b, id) =>
    *   appendPostingsIdempotent(b, path, n, id))`. */
  def appendPostingsIdempotent(docs: DataFrame, path: String,
      nBuckets: Int, batchId: Long): Boolean =
    appendPostingsIdempotent(docs, path, nBuckets, batchId,
      crashBeforePublish = false)

  /** [[appendPostingsIdempotent]] with the spec crash failpoint (the
    * "driver dies between data write and commit" injection). */
  private[graft] def appendPostingsIdempotent(docs: DataFrame,
      path: String, nBuckets: Int, batchId: Long,
      crashBeforePublish: Boolean): Boolean = {
    val s = docs.sparkSession
    import s.implicits._
    val stats = docs
      .select(F.token_count($"text").cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    TxBatch.publish(s, path, batchId,
      buildPostings(docs, nBuckets), Some(stats), crashBeforePublish)
  }

  /** The full committed layout: the base bucket directories plus every
    * committed transactional batch (`_batch-<id>` directories — each
    * published by one atomic rename, so presence = committed). Plain
    * `spark.read.parquet(path)` sees only the base: underscore paths
    * are hidden from parquet listings, which is exactly what makes the
    * batch publish atomic. */
  def readLayout(spark: SparkSession, path: String): DataFrame =
    // one read per batch root, unioned: partition inference refuses
    // several partitioned roots in one read (conflicting-structures);
    // the base resolves through TxBatch (the root pre-compaction, the
    // newest _base-<gen> after), and folded batches are excluded
    TxBatch.liveBatchDirs(spark, path)
      .foldLeft(spark.read.parquet(TxBatch.baseDir(spark, path)))(
        (acc, b) => acc.unionByName(spark.read.parquet(b)))

  /** The schema of every stats root: what [[writeTermLayout]]'s
    * callers, [[appendPostings]], [[appendPostingsIdempotent]] and
    * [[compact]] write. */
  private val StatsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("sum_dl", LongType)))

  /** Merged corpus stats: the base stats relation (the sibling
    * `.stats` root pre-compaction; the `_stats` folded inside the
    * base generation after [[compact]]) plus each LIVE batch's staged
    * stats row. Each root is read with [[StatsSchema]]: a read that
    * infers the schema runs one Spark job per root to read a footer. */
  def readStats(spark: SparkSession, path: String): DataFrame = {
    // gen-0 vs compacted resolves through compactedBaseDir, never by
    // comparing the normalized base string against the raw caller
    // path (a trailing slash or file:/ spelling would mis-route)
    val baseStats = TxBatch.compactedBaseDir(spark, path)
      .map(_ + "/" + TxBatch.StatsDir)
      .getOrElse(path.stripSuffix("/") + ".stats")
    def read(d: String) = spark.read.schema(StatsSchema).parquet(d)
    TxBatch.liveBatchDirs(spark, path).map(_ + "/" + TxBatch.StatsDir)
      .foldLeft(read(baseStats))((acc, d) => acc.unionByName(read(d)))
  }

  /** Fold the base and every committed batch into one new base
    * generation ([[TxBatch.compact]]) — content-preserving, one
    * atomic rename, replayed batch ids stay no-ops. The merged stats
    * relation folds INTO the new base (`_stats`), so the `.stats`
    * sibling root is only the gen-0 convention. A tailing stream
    * consumer that has processed every committed batch survives via
    * offset translation; otherwise its next trigger refuses loudly
    * (TxBatch object doc). */
  def compact(spark: SparkSession, path: String): Boolean =
    TxBatch.compact(spark, path, "bucket",
      Some(readStats(spark, path)))

  /** Postings of exactly `terms`, reading ONLY their buckets: the
    * literal bucket IN-filter prunes unprobed directories at listing
    * time; the term IN-filter is pushed to the parquet scan inside
    * the listed buckets. */
  def lookupTerms(spark: SparkSession, path: String, terms: Seq[String],
      nBuckets: Int): DataFrame = {
    val buckets = terms.map(bucketOf(_, nBuckets)).distinct
    readLayout(spark, path)
      .filter(col("bucket").cast("long").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
  }

  /** [[lookupTerms]] through the DSv2 connector
    * ([[graft.sources.PostingsSource]]): the term IN-predicate is
    * pushed into the scan, which derives the bucket set with the
    * layout's own hash and prunes unprobed directories at
    * file-listing time — index-native pruning visible in the scan
    * node itself, no helper-side path math. Results are identical to
    * [[lookupTerms]] (spec-pinned). */
  def lookupTermsV2(spark: SparkSession, path: String,
      terms: Seq[String], nBuckets: Int): DataFrame =
    spark.read.format("graft.sources.PostingsSource")
      .option("path", path).option("nBuckets", nBuckets.toString)
      .load()
      .filter(col("term").isin(terms: _*))

  /** BM25 top-k per query over the pruned postings — the indexed twin
    * of the brute `bm25_search` query (identical expression shape, so
    * the two agree row-for-row; spec-pinned in InvertedIndexSpec).
    * `queries` is `(query_id, term)`. */
  def bm25(spark: SparkSession, path: String,
      queries: Seq[(Long, String)], nBuckets: Int, k: Int): DataFrame =
    // reads ride the DSv2 connector: term→bucket pruning happens in
    // the scan node (see lookupTermsV2)
    bm25Over(
      lookupTermsV2(spark, path, queries.map(_._2).distinct, nBuckets),
      readStats(spark, path), queries, k)

  /** [[bm25]] over an already-resolved postings relation — the shared
    * core for the format/load spelling and the [[graft.sources
    * .GraftCatalog]] `SELECT ... FROM graft.<ns>.<layout>` spelling
    * (both resolve to the same connector table, so the pruning plan
    * is identical). `posts` must already be filtered to the query
    * terms (the caller owns where that predicate lands — pushed into
    * the scan in both spellings). */
  def bm25Over(posts: DataFrame, statsRows: DataFrame,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = posts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // stats rows accumulate one per append (plus one per committed
    // transactional batch) — merge at read time
    val stats = broadcast(statsRows
      .agg(sum($"n_docs").as("n_docs"), sum($"sum_dl").as("sum_dl")))
    val dfreq = posts.groupBy($"term").agg(count(lit(1)).as("df"))
    val idf = log(($"n_docs".cast("double") - $"df".cast("double") +
      lit(0.5)) / ($"df".cast("double") + lit(0.5)) + lit(1.0))
    val tfn = ($"tf".cast("double") * lit(2.2)) /
      ($"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
        ($"dl".cast("double") /
          ($"sum_dl".cast("double") / $"n_docs".cast("double")))))
    val w = Window.partitionBy($"query_id").orderBy($"sq".desc, $"doc_id")
    posts
      .join(broadcast(dfreq), "term")
      .crossJoin(stats)
      .join(broadcast(queries.toDF("query_id", "term")), "term")
      .select($"query_id", $"doc_id",
        floor(idf * tfn * lit(10000.0) + lit(0.5)).as("qs"))
      .groupBy($"query_id", $"doc_id").agg(sum($"qs").as("sq"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id",
        ($"sq".cast("double") / lit(10000.0)).as("score"))
  }
}
