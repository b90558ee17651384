package graft.streaming

import graft.operators.{BandIndex, CandidatePairs, TxBatch}
import graft.queries.{Pipeline, QueryUtil}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The continuous-ingestion near-dup loop made fully LIVE: tail a
  * persisted [[BandIndex]] layout's own appends (the
  * [[graft.sources.BandsSource]] micro-batch stream) and, per arriving
  * batch of band rows, run the L40 banded probe of those docs against
  * everything the layout held BEFORE them — verified pairs land in an
  * idempotent [[TxBatch]] sink keyed by the micro-batch id, so a
  * retried trigger publishes exactly once.
  *
  * This closes the loop `incremental_neardup` proves in batch form
  * (reference intent: maintained index structures, algo.rs:6-7): the
  * writer side appends band keys as crawl output arrives
  * ([[BandIndex.appendBandsIdempotent]]); this consumer reacts to each
  * committed append without re-scanning the layout — each trigger
  * reads ONLY the new batch's files (the stream contract) plus the
  * co-bucketed corpus slice its probe touches (bucket IN-prune pushed
  * into the connector scan).
  *
  * Semantics per trigger: `corpus` = committed layout minus the
  * arriving docs (under the layout's single-writer append protocol
  * that is exactly the pre-append state), `batch` = the arriving band
  * rows. Pairs among docs that arrive in the SAME trigger are
  * intra-batch by definition and not emitted — the batch lane
  * (`incremental_neardup`) makes the same call, and two appends
  * landing in one trigger merge into one logical batch. The first
  * trigger (the base layout) therefore emits nothing: its corpus side
  * is empty.
  *
  * 100 TB shape: work per trigger ∝ the increment (arriving files),
  * never the corpus — the corpus side is bucket-pruned at file-listing
  * time and band-key semi-joined before any pair is formed, and pair
  * generation rides the skew-proof [[CandidatePairs]] chunking. The
  * exact shingle-Jaccard verify touches text only for candidates.
  */
object BandStreams {

  /** Schema of the verified-pairs sink. */
  val PairsSchema: StructType = StructType(Seq(
    StructField("batch_doc", LongType, nullable = false),
    StructField("corpus_doc", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = true),
    StructField("bucket", LongType, nullable = false)))

  /** Start the live near-dup maintainer over `layoutPath` (geometry —
    * tau for the verify threshold — comes from the layout's own
    * stamped meta, the mismatch-proof rule every band consumer
    * follows). `texts` is the (doc_id, text) relation the exact
    * verify reads, batch and corpus side alike; at scale it is the
    * at-rest corpus table, touched only for candidate ids. Verified
    * pairs publish to `pairsPath` via [[TxBatch]] — read them back
    * with [[readPairs]]. `maintainLayoutEvery` / `maintainPairsEvery`
    * (> 0) arm the post-trigger maintenance hook
    * ([[StreamMaintenance.postTrigger]]): the source layout folds at
    * the fan-in threshold restricted to DELIVERED batch ids, and the
    * pairs sink folds at its own threshold — bounded read fan-in with
    * no external cron. */
  def liveNearDup(spark: SparkSession, layoutPath: String,
      texts: DataFrame, pairsPath: String, checkpoint: String,
      bucketCap: Int = 1024, maintainLayoutEvery: Int = 0,
      maintainPairsEvery: Int = 0): StreamingQuery = {
    val (tau, _) = BandIndex.readMeta(spark, layoutPath)
    spark.readStream.format("graft.sources.BandsSource")
      .option("path", layoutPath).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (arriving: DataFrame, batchId: java.lang.Long) =>
        // corpus bounded to the trigger's START-offset commit units —
        // re-listing at execution time races the writer (a batch
        // committed between offset capture and this callback would
        // land on the corpus side now AND arrive next trigger,
        // publishing the pair twice in reversed orientation); the
        // start offset comes from the stream's own offsets log, so a
        // retried trigger derives the identical bound
        // fold-tolerant at EXECUTION too: an external fold racing this
        // trigger re-plans the probe (see StreamMaintenance.withFoldRetry)
        StreamMaintenance.withFoldRetry(
          s"BandStreams.liveNearDup trigger $batchId at $layoutPath") {
          val pairs = probeArrivals(arriving, layoutPath, texts, tau,
            bucketCap, Some(StreamOffsets.startRoots(
              arriving.sparkSession, checkpoint, batchId.longValue)))
          // TxBatch publish: the _batch-<id> directory is both the data
          // and the idempotence marker — a retried trigger re-stages and
          // finds the committed directory, applying exactly once
          TxBatch.publish(arriving.sparkSession, pairsPath,
            batchId.longValue, pairs, None)
          ()
        }
        StreamMaintenance.postTrigger(arriving.sparkSession,
          layoutPath, "bucket", Some(graft.sources.BandsSource.Schema),
          pairsPath, PairsSchema, checkpoint,
          batchId.longValue, maintainLayoutEvery, maintainPairsEvery)
        ()
      }
      .start()
  }

  /** The per-trigger probe: arriving band rows vs the layout's
    * pre-append state, verified by exact shingle Jaccard. Exposed for
    * the spec's trigger-by-trigger equivalence pins. The arriving
    * frame is deliberately NOT cached/localCheckpoint'ed: it is the
    * increment (small by definition, a re-read of a few parquet
    * files), and a per-trigger checkpoint leaks executor storage
    * blocks until ContextCleaner GC in exactly this loop (the
    * [[BandIndex.probeCandidates]] lesson). */
  private[graft] def probeArrivals(arriving: DataFrame,
      layoutPath: String, texts: DataFrame, tau: Double,
      bucketCap: Int, corpusRoots: Option[Set[String]] = None)
      : DataFrame = {
    val s = arriving.sparkSession
    val arr = arriving.select(col("doc_id"), col("band_no"),
      col("band_hash"), col("bucket").cast("long").as("bucket"))
    // bounded driver value: ≤ nBuckets bucket ids feed the IN-prune
    // the connector pushes to file-listing time
    val head = arr.agg(collect_set(col("bucket")).as("bks")).collect()(0)
    val buckets: Seq[Long] = head.getSeq[Long](0)
    if (buckets.isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], PairsSchema)
    // sign-flip arriving ids so the union's a<b pairs classify by sign
    val batchBands = arr.select((-col("doc_id") - lit(1L)).as("doc_id"),
      col("band_no"), col("band_hash"))
    // corpus = committed layout − arriving docs (the pre-append state
    // under the single-writer append protocol); only co-bucketed,
    // band-key-matching corpus rows enter pair generation at all. The
    // arriving-id set rides an executor-side anti-join — never a
    // driver-collected list.
    val corpusReader = s.read.format("graft.sources.BandsSource")
      .option("path", layoutPath)
    val corpus = corpusRoots
      .fold(corpusReader)(rs => corpusReader
        .option("roots", StreamOffsets.rootsOption(rs)))
      .load()
      .filter(col("bucket").isin(buckets: _*))
      .join(arr.select(col("doc_id")).distinct(), Seq("doc_id"),
        "left_anti")
      .join(batchBands.select(col("band_no"), col("band_hash")),
        Seq("band_no", "band_hash"), "left_semi")
    val cand = CandidatePairs.fromBuckets(
      batchBands.unionByName(
        corpus.select(col("doc_id"), col("band_no"), col("band_hash"))),
      Seq("band_no", "band_hash"), "doc_id", "doc_a", "doc_b", bucketCap)
      .filter(col("doc_a") < 0 && col("doc_b") >= 0)
      .select((-col("doc_a") - lit(1L)).as("batch_doc"),
        col("doc_b").as("corpus_doc"))
    // exact verify — identical spelling to the incremental_neardup
    // batch row, so stream == batch is a set equality, not a tolerance
    val batchTexts = texts.select(col("doc_id").as("batch_doc"),
      col("text").as("text_a"))
    val corpusTexts = texts.select(col("doc_id").as("corpus_doc"),
      col("text").as("text_b"))
    cand.join(batchTexts, "batch_doc").join(corpusTexts, "corpus_doc")
      .select(col("batch_doc"), col("corpus_doc"),
        Pipeline.shingles(col("text_a")).as("sh_a"),
        Pipeline.shingles(col("text_b")).as("sh_b"))
      .select(col("batch_doc"), col("corpus_doc"),
        QueryUtil.q6(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .withColumn("bucket", pmod(col("batch_doc"), lit(32L)))
  }

  /** All verified pairs published so far — the compacted base
    * generation (if [[compactPairs]] has run) plus the union of LIVE
    * committed [[TxBatch]] batches (at gen 0 there is no base
    * relation; every pair arrives through a trigger). */
  def readPairs(s: SparkSession, pairsPath: String): DataFrame = {
    // Path-safe gen-0 check (never string equality with the raw
    // caller path — trailing slash / file:/ spellings mis-route)
    val dirs = TxBatch.compactedBaseDir(s, pairsPath).toSeq ++
      TxBatch.liveBatchDirs(s, pairsPath)
    if (dirs.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], PairsSchema)
    // explicit schema: a trigger with no pairs publishes an EMPTY
    // batch (the _batch-<id> directory is still the idempotence
    // marker), which parquet schema inference would refuse; one read
    // per root — partition inference refuses several partitioned
    // roots in one read (conflicting-structures)
    else dirs.map(s.read.schema(PairsSchema).parquet(_))
      .reduce(_ unionByName _)
  }

  /** Fold the pairs sink's committed trigger batches into one base
    * generation ([[TxBatch.compact]] with the explicit pairs schema —
    * the sink is BASELESS at gen 0): a long-running consumer adds one
    * `_batch-<id>` per trigger forever, and [[readPairs]]' union
    * fan-in grows with it. Re-delivered trigger ids stay no-ops (the
    * folded set rides the swap). */
  def compactPairs(s: SparkSession, pairsPath: String): Boolean =
    TxBatch.compact(s, pairsPath, partitionCol = "bucket",
      schema = Some(PairsSchema))
}
