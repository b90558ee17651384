package graft.streaming

import graft.operators.{CandidatePairs, SemDedup, TxBatch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The continuous-ingestion SEMANTIC near-dup loop made fully live —
  * the [[BandStreams]] twin for the embedding index family: tail a
  * persisted IVF cell layout's own appends (the
  * [[graft.sources.CellsSource]] micro-batch stream) and, per arriving
  * batch of assigned vectors, verify exact q6 cosine of those vectors
  * against everything their cells held BEFORE them — pairs at or above
  * τ land in an idempotent [[TxBatch]] sink keyed by the micro-batch
  * id, so a retried trigger publishes exactly once.
  *
  * This closes the SemDeDup loop the `semdedup` row proves in batch
  * form: the writer side appends newly-embedded vectors as they arrive
  * ([[graft.operators.IvfIndex.appendCellsIdempotent]], cells assigned
  * against the layout's own centroids); this consumer reacts to each
  * committed append without re-scanning the corpus — each trigger
  * reads ONLY the new batch's files (the stream contract) plus the
  * co-celled corpus slice its probe touches (cell IN-prune pushed into
  * the connector scan at file-listing time).
  *
  * Semantics per trigger: `corpus` = committed layout minus the
  * arriving vectors (under the layout's single-writer append protocol
  * that is exactly the pre-append state), `batch` = the arriving
  * assigned vectors. Pairs among vectors that arrive in the SAME
  * trigger are intra-batch by definition and not emitted — the
  * [[BandStreams]] call; the first trigger (the base layout) emits
  * nothing, its corpus side being empty.
  *
  * 100 TB shape: work per trigger ∝ the increment (arriving files) ×
  * the probed cells' corpus slice — never the whole corpus (the cell
  * IN-prune is bounded by k values, a driver-safe collect), and pair
  * generation rides the skew-proof [[CandidatePairs]] chunking so a
  * hot cell never hands one task its O(m²). The cosine verify is the
  * IDENTICAL q6 spelling as the batch `semdedup` row
  * ([[SemDedup.cos]]), so stream == batch is a set equality.
  */
object CellStreams {

  /** Schema of the verified-pairs sink. */
  val PairsSchema: StructType = StructType(Seq(
    StructField("batch_vec", LongType, nullable = false),
    StructField("corpus_vec", LongType, nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = true),
    StructField("bucket", LongType, nullable = false)))

  /** Start the live semantic near-dup maintainer over `layoutPath`
    * (a [[graft.operators.IvfIndex.writeCellLayout]] corpus whose
    * payload carries `vec_id` and the raw vector `v`). `tau` is the
    * SemDeDup duplication threshold (the cell layout's stamp carries
    * placement geometry — k, dim — not the dedup policy, which is the
    * consumer's to choose). Verified pairs publish to `pairsPath` via
    * [[TxBatch]] — read them back with [[readPairs]].
    * `maintainLayoutEvery` / `maintainPairsEvery` (> 0) arm the
    * post-trigger maintenance hook ([[StreamMaintenance.postTrigger]]):
    * the source layout folds at the fan-in threshold restricted to
    * DELIVERED batch ids, and the pairs sink folds at its own
    * threshold — bounded read fan-in with no external cron. */
  def liveSemDedup(spark: SparkSession, layoutPath: String, tau: Double,
      pairsPath: String, checkpoint: String,
      bucketCap: Int = 1024, maintainLayoutEvery: Int = 0,
      maintainPairsEvery: Int = 0): StreamingQuery = {
    spark.readStream.format("graft.sources.CellsSource")
      .option("path", layoutPath).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (arriving: DataFrame, batchId: java.lang.Long) =>
        // the corpus is bounded to the trigger's START-offset commit
        // units — re-listing the layout at execution time races the
        // writer (a batch committed between offset capture and this
        // callback would land on the corpus side now AND arrive as
        // the next trigger, publishing the pair twice in reversed
        // orientation); the start offset comes from the stream's own
        // offsets log, so a retried trigger derives the identical
        // bound
        // fold-tolerant at EXECUTION too: an external fold racing this
        // trigger re-plans the probe (see StreamMaintenance.withFoldRetry)
        StreamMaintenance.withFoldRetry(
          s"CellStreams.liveSemDedup trigger $batchId at $layoutPath") {
          val pairs = probeArrivals(arriving, layoutPath, tau, bucketCap,
            Some(StreamOffsets.startRoots(arriving.sparkSession,
              checkpoint, batchId.longValue)))
          // TxBatch publish: the _batch-<id> directory is both the data
          // and the idempotence marker — a retried trigger re-stages and
          // finds the committed directory, applying exactly once
          TxBatch.publish(arriving.sparkSession, pairsPath,
            batchId.longValue, pairs, None)
          ()
        }
        StreamMaintenance.postTrigger(arriving.sparkSession,
          layoutPath, "cell", None, pairsPath, PairsSchema, checkpoint,
          batchId.longValue, maintainLayoutEvery, maintainPairsEvery)
        ()
      }
      .start()
  }

  /** The per-trigger probe: arriving assigned vectors vs their cells'
    * pre-append state, verified by exact q6 cosine ≥ `tau`. Exposed
    * for the spec's trigger-by-trigger equivalence pins.
    * `corpusRoots` bounds the corpus to named commit units (the
    * trigger's start offset, via [[StreamOffsets.startRoots]]) —
    * None (spec-only, quiescent fixtures) reads the layout as listed
    * at execution time. */
  private[graft] def probeArrivals(arriving: DataFrame,
      layoutPath: String, tau: Double, bucketCap: Int,
      corpusRoots: Option[Set[String]] = None): DataFrame = {
    val s = arriving.sparkSession
    val arr = arriving.select(col("vec_id"), col("v"),
      col("cell").cast("long").as("cell"))
    // bounded driver value: ≤ k cell ids feed the IN-prune the
    // connector pushes to file-listing time
    val head = arr.agg(collect_set(col("cell")).as("cs")).collect()(0)
    val probedCells: Seq[Long] = head.getSeq[Long](0)
    if (probedCells.isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], PairsSchema)
    // sign-flip arriving ids so the union's a<b pairs classify by sign
    val batchIds = arr.select((-col("vec_id") - lit(1L)).as("vec_id"),
      col("cell"))
    // corpus = committed layout − arriving vectors (the pre-append
    // state under the single-writer append protocol); only co-celled
    // corpus rows are LISTED at all. The arriving-id set rides an
    // executor-side anti-join — never a driver-collected list.
    val corpusReader = s.read.format("graft.sources.CellsSource")
      .option("path", layoutPath)
    val corpus = corpusRoots
      .fold(corpusReader)(rs => corpusReader
        .option("roots", StreamOffsets.rootsOption(rs)))
      .load()
      .select(col("vec_id"), col("v"), col("cell").cast("long").as("cell"))
      .filter(col("cell").isin(probedCells: _*))
      .join(arr.select(col("vec_id")).distinct(), Seq("vec_id"),
        "left_anti")
    val cand = CandidatePairs.fromBuckets(
      batchIds.unionByName(corpus.select(col("vec_id"), col("cell"))),
      Seq("cell"), "vec_id", "vec_a", "vec_b", bucketCap)
      .filter(col("vec_a") < 0 && col("vec_b") >= 0)
      .select((-col("vec_a") - lit(1L)).as("batch_vec"),
        col("vec_b").as("corpus_vec"))
    // exact verify — identical q6 cosine spelling to the batch
    // semdedup row, so stream == batch is a set equality
    cand
      .join(arr.select(col("vec_id").as("batch_vec"),
        col("cell"), col("v").as("va")), Seq("batch_vec"))
      .join(corpus.select(col("vec_id").as("corpus_vec"),
        col("v").as("vb")), Seq("corpus_vec"))
      .withColumn("cos", SemDedup.cos(col("va"), col("vb")))
      .filter(col("cos") >= lit(tau))
      .select(col("batch_vec"), col("corpus_vec"), col("cell"),
        col("cos"), pmod(col("batch_vec"), lit(32L)).as("bucket"))
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
    // batch (still the idempotence marker); one read per root —
    // partition inference refuses several partitioned roots at once
    else dirs.map(s.read.schema(PairsSchema).parquet(_))
      .reduce(_ unionByName _)
  }

  /** Fold the pairs sink's committed trigger batches into one base
    * generation ([[TxBatch.compact]] with the explicit pairs schema —
    * the sink is BASELESS at gen 0): a long-running consumer adds one
    * `_batch-<id>` per trigger forever, and [[readPairs]]' union
    * fan-in grows with it. Re-delivered trigger ids stay no-ops (the
    * folded set rides the swap). Safe while the consumer RUNS — it
    * only appends new batch ids — but not under concurrent READERS
    * mid-swap-cleanup tolerant only per the TxBatch old-or-new rule. */
  def compactPairs(s: SparkSession, pairsPath: String): Boolean =
    TxBatch.compact(s, pairsPath, partitionCol = "bucket",
      schema = Some(PairsSchema))
}
