package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash LSH band index — the at-rest layout behind
  * continuous-ingestion near-dedup. `incremental_neardup` proves the
  * probe SHAPE (batch bands semi-join the corpus band index, so work
  * scales with the increment); this operator gives that index the
  * same maintenance story [[InvertedIndex]] gives term postings:
  * build once, then every arriving batch [[appendBands]] its keys in
  * place — bucket directories gain files, nothing is rewritten, and
  * the next batch probes yesterday's corpus ∪ every appended batch.
  *
  * Rows are `(doc_id, band_no, band_hash)` — 16 bytes + a band id per
  * row, text stays at rest — partitioned by `bucket =
  * pmod(band_hash, nBuckets)`: band hashes are uniform by
  * construction, so a fixed bucket count keeps directories bounded
  * and near-uniform (the [[InvertedIndex]] directory-count contract —
  * partitioning by raw band key would mint one directory per distinct
  * band value, a metadata DoS at corpus scale). A probe prunes to its
  * batch's bucket set at FILE-LISTING time (literal IN over ≤
  * nBuckets values), then the in-bucket (band_no, band_hash)
  * semi-join is an ordinary pushed-down equi-join.
  *
  * Band geometry `(tau, nBuckets)` is PART OF THE LAYOUT: it is
  * persisted as `_graft_meta.json` at [[writeBandLayout]] time and
  * every [[appendBands]] / [[probeCandidates]] call re-derives its
  * geometry from its own arguments, so a mismatched call would
  * silently mix incompatible band keys (missed candidates, no
  * error). Both maintenance entry points therefore REQUIRE the
  * arguments to match the persisted meta and fail fast otherwise.
  *
  * Doc ids must be NON-NEGATIVE on both sides: the probe classifies
  * cross pairs by a sign-flip encoding (batch ids map to `-id-1`),
  * so a negative id would be misclassified. The write paths enforce
  * this in-query (a `raise_error` guard riding the band rows — no
  * extra pass), and the probe enforces it on the batch side in the
  * same aggregate that collects the bucket list.
  *
  * Caller contract (the [[InvertedIndex.appendPostings]] precedent):
  * a batch is appended once — re-appending a doc duplicates its band
  * keys, exactly as in any postings-merge index.
  */
object BandIndex {

  /** Layout bucket of a band hash. */
  def bucketCol(bandHash: org.apache.spark.sql.Column,
      nBuckets: Int): org.apache.spark.sql.Column =
    pmod(bandHash, lit(nBuckets.toLong))

  /** `(doc_id, band_no, band_hash, bucket)` band keys of a
    * (doc_id, text) relation at threshold `tau` — identical banding
    * spelling to the in-query LSH passes
    * ([[graft.queries.Pipeline.minhashBandsOf]]). */
  def buildBands(docs: DataFrame, tau: Double, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val bands = graft.queries.Pipeline.minhashBandsOf(docs, tau)
    bands.withColumn("bucket", bucketCol(col("band_hash"), nBuckets))
  }

  /** `rows` with the in-query non-negative-id guard — the write-path
    * enforcement of the sign-flip precondition, free of extra passes
    * (the guard rides the rows being written). Applied by BOTH write
    * paths ([[writeBandLayout]] and [[appendBands]]), so a layout can
    * never be published with negative corpus ids, which the probe's
    * sign-flip encoding would silently misclassify as batch rows. */
  private def guardNonNegativeIds(rows: DataFrame): DataFrame =
    rows.withColumn("doc_id",
      when(col("doc_id") < 0,
        expr("raise_error('BandIndex: doc_id must be non-negative " +
          "(the probe sign-flip encoding reserves negatives for " +
          "batch ids)')").cast("bigint"))
        .otherwise(col("doc_id")))

  /** [[buildBands]] rows behind [[guardNonNegativeIds]]. */
  private def guardedBands(docs: DataFrame, tau: Double,
      nBuckets: Int): DataFrame =
    guardNonNegativeIds(buildBands(docs, tau, nBuckets))

  private def metaPath(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path, "_graft_meta.json")

  private def writeMeta(s: SparkSession, path: String, tau: Double,
      nBuckets: Int): Unit = {
    val p = metaPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"tau": ${tau.toString}, "nBuckets": $nBuckets}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The `(tau, nBuckets)` persisted with a layout. `Double.toString`
    * round-trips exactly, so the tau comparison is exact. A stamp
    * inside the effective base generation wins over the root one (the
    * IvfIndex.readCellMeta rule — geometry swaps atomically with
    * content). */
  def readMeta(s: SparkSession, path: String): (Double, Int) = {
    val fs0 = new org.apache.hadoop.fs.Path(path).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val inBase = new org.apache.hadoop.fs.Path(
      TxBatch.baseDir(s, path), "_graft_meta.json")
    val p = if (fs0.exists(inBase)) inBase else metaPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"band layout at $path has no ${p.getName} — rebuild it with " +
        "writeBandLayout (geometry-less layouts cannot be safely " +
        "appended to or probed)")
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val tau = """"tau":\s*([0-9.Ee+-]+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toDouble)
    val nb = """"nBuckets":\s*(\d+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toInt)
    require(tau.isDefined && nb.isDefined,
      s"unparseable band-layout meta at $p: $text")
    (tau.get, nb.get)
  }

  private def requireGeometry(s: SparkSession, path: String, tau: Double,
      nBuckets: Int): Unit = {
    val (mTau, mNb) = readMeta(s, path)
    require(mTau == tau && mNb == nBuckets,
      s"band-layout geometry mismatch at $path: layout has " +
        s"(tau=$mTau, nBuckets=$mNb), call asked for (tau=$tau, " +
        s"nBuckets=$nBuckets) — mixing geometries silently misses " +
        "candidates, so this is an error")
  }

  /** Materialize a band index partitioned by bucket, stamping the
    * `(tau, nBuckets)` geometry into `_graft_meta.json` so appends
    * and probes can refuse mismatched geometry. */
  def writeBandLayout(bands: DataFrame, path: String, tau: Double,
      nBuckets: Int): Unit = {
    require(bands.columns.contains("bucket"),
      "writeBandLayout needs a `bucket` column (see buildBands)")
    guardNonNegativeIds(bands)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    writeMeta(bands.sparkSession, path, tau, nBuckets)
  }

  /** Append a NEW batch's band keys into an existing layout — the
    * index-maintenance path: bucket directories gain files, nothing
    * is rewritten. Geometry must match the persisted meta. Stream
    * usage mirrors appendPostings:
    * `writeStream.foreachBatch((b, _) => appendBands(b, path, τ, n))`.
    */
  def appendBands(docs: DataFrame, path: String, tau: Double,
      nBuckets: Int): Unit = {
    requireGeometry(docs.sparkSession, path, tau, nBuckets)
    guardedBands(docs, tau, nBuckets)
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(path)
  }

  /** [[appendBands]] made idempotent AND atomic by batch id — the
    * retry-safe face of the streaming maintenance loop, on the same
    * manifest-commit protocol as
    * [[InvertedIndex.appendPostingsIdempotent]] ([[TxBatch]]): the
    * batch's band rows stage under a hidden unique directory and
    * publish with ONE atomic rename to `_batch-<id>`, which is
    * simultaneously the data and the marker — a crash between data
    * write and commit leaves nothing visible and the retry applies the
    * batch exactly once. Committed batches are read by [[readLayout]]
    * and the DSv2 connector ([[graft.sources.BandsSource]]), including
    * [[probeCandidates]]; plain `spark.read.parquet(path)` sees only
    * the base (that hiding is what makes the publish atomic). Returns
    * whether the batch was applied. */
  def appendBandsIdempotent(docs: DataFrame, path: String, tau: Double,
      nBuckets: Int, batchId: Long): Boolean =
    appendBandsIdempotent(docs, path, tau, nBuckets, batchId,
      crashBeforePublish = false)

  /** [[appendBandsIdempotent]] with the spec crash failpoint. */
  private[graft] def appendBandsIdempotent(docs: DataFrame, path: String,
      tau: Double, nBuckets: Int, batchId: Long,
      crashBeforePublish: Boolean): Boolean = {
    requireGeometry(docs.sparkSession, path, tau, nBuckets)
    TxBatch.publish(docs.sparkSession, path, batchId,
      guardedBands(docs, tau, nBuckets), None, crashBeforePublish)
  }

  /** The full committed layout: base bucket directories plus every
    * committed transactional batch (see
    * [[TxBatch.committedDirs]]). */
  def readLayout(spark: SparkSession, path: String): DataFrame =
    // one read per batch root, unioned: partition inference refuses
    // several partitioned roots in one read (conflicting-structures);
    // base resolves through TxBatch (root pre-compaction, newest
    // _base-<gen> after), folded batches excluded
    TxBatch.liveBatchDirs(spark, path)
      .foldLeft(spark.read.parquet(TxBatch.baseDir(spark, path)))(
        (acc, b) => acc.unionByName(spark.read.parquet(b)))

  /** Fold the base and every committed batch into one new base
    * generation ([[TxBatch.compact]]) — content-preserving, one
    * atomic rename, replayed batch ids stay no-ops. Quiesce any
    * tailing stream consumer first (file identity changes). Every
    * commit unit is read with the layout's declared schema, so the
    * fold runs no schema-inference job. */
  def compact(spark: SparkSession, path: String): Boolean =
    TxBatch.compact(spark, path, "bucket",
      schema = Some(graft.sources.BandsSource.Schema))

  /** Candidate (batch_doc, corpus_doc) pairs of a new batch against
    * the persisted index — the `incremental_neardup` probe over the
    * at-rest layout. Only the batch's own buckets are LISTED (literal
    * IN prune over ≤ nBuckets values, collected from the batch's
    * bands — a bounded driver value), only co-bucketed index rows
    * enter pair generation (semi-join on the band key), and pair
    * generation rides the skew-proof [[CandidatePairs]] path (batch
    * ids sign-flipped so cross pairs are exactly the a<0≤b rows).
    * Candidates are one-sided — the caller's exact verify (string
    * Jaccard over the candidate texts) decides membership.
    *
    * The batch is banded twice (once for the bucket-list/guard
    * aggregate, once lazily in the returned plan) rather than banded
    * once behind a `localCheckpoint`: the batch is the increment —
    * small by definition — and the stateless spelling leaves nothing
    * pinned in executor storage between probes (the checkpointed
    * variant leaked its blocks until ContextCleaner GC in the
    * per-batch streaming loop this probe is advertised for). */
  def probeCandidates(batch: DataFrame, path: String, tau: Double,
      nBuckets: Int, bucketCap: Int = 1024): DataFrame = {
    val s = batch.sparkSession
    requireGeometry(s, path, tau, nBuckets)
    val raw = buildBands(batch, tau, nBuckets)
    // one small aggregate feeds the bucket IN-prune AND the batch-side
    // non-negative-id guard (min over band rows covers every doc that
    // can produce a pair)
    val head = raw
      .agg(collect_set(col("bucket").cast("long")).as("bks"),
        min(col("doc_id")).as("mn"))
      .collect()(0)
    val buckets: Seq[Long] =
      head.getSeq[Long](0) match { case bs => bs }
    val minId = if (head.isNullAt(1)) 0L else head.getLong(1)
    require(minId >= 0,
      s"probeCandidates: batch doc_id must be non-negative (got " +
        s"$minId) — the sign-flip encoding reserves negatives for " +
        "batch ids; corpus ids are enforced at write time")
    val batchBands = raw
      .select((-col("doc_id") - lit(1L)).as("doc_id"),
        col("band_no"), col("band_hash"), col("bucket"))
    // the DSv2 connector pushes the bucket IN-prune into the scan
    // itself (only the probed buckets' directories are LISTED — the
    // pruning is visible on the scan node, see graft.sources.BandsSource)
    val idx = s.read.format("graft.sources.BandsSource")
      .option("path", path).load()
      .filter(col("bucket").isin(buckets: _*))
      .join(batchBands.select(col("band_no"), col("band_hash")),
        Seq("band_no", "band_hash"), "left_semi")
    val cand = CandidatePairs.fromBuckets(
      batchBands.select(col("doc_id"), col("band_no"), col("band_hash"))
        .unionByName(
          idx.select(col("doc_id"), col("band_no"), col("band_hash"))),
      Seq("band_no", "band_hash"), "doc_id", "doc_a", "doc_b", bucketCap)
    cand.filter(col("doc_a") < 0 && col("doc_b") >= 0)
      .select((-col("doc_a") - lit(1L)).as("batch_doc"),
        col("doc_b").as("corpus_doc"))
  }
}
