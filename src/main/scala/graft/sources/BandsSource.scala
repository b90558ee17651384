package graft.sources

import graft.operators.BandIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** DataSource V2 connector for the [[BandIndex]] LSH band layout: a
  * `bucket` (or `band_hash`, from which the bucket follows by the
  * layout's own `pmod`) predicate against this source is pushed INTO
  * the scan and prunes unprobed bucket directories at file-listing
  * time, so the near-dup probe's "only the batch's buckets are listed"
  * contract is visible on the scan node itself.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.BandsSource")
  *     .option("path", layoutPath).load()
  *     .filter($"bucket".isin(probedBuckets: _*))
  * }}}
  *
  * Geometry (`nBuckets`, needed to derive buckets from band hashes) is
  * read from the layout's own `_graft_meta.json` — the stamp
  * [[BandIndex.writeBandLayout]] publishes — so a reader can never
  * probe with mismatched geometry. This file holds only the band
  * layout's definition ([[BandsLayout]]); the scan, stream and write
  * path are the shared [[LayoutSource]] stack. */
class BandsSource extends LayoutSource(BandsSource)

object BandsSource extends LayoutFormat {
  /** Layout schema — `bucket` is the partition directory value. */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band_no", IntegerType, nullable = false),
    StructField("band_hash", LongType, nullable = false),
    StructField("bucket", LongType, nullable = false)))

  /** The layout bucket of a band hash — `pmod(hash, nBuckets)` on the
    * driver, identical to [[BandIndex.bucketCol]]. */
  def bucketOf(bandHash: Long, nBuckets: Int): Long = {
    val m = bandHash % nBuckets
    if (m < 0) m + nBuckets else m
  }

  private[sources] def schemaAt(spark: SparkSession,
      path: String): StructType = Schema

  /** Geometry comes from the layout's OWN meta stamp — a geometry-less
    * path fails fast here, and caller-passed tau/nBuckets options (the
    * append-side declaration of what the caller THINKS it is writing
    * into) must match the stamp, the BandIndex.requireGeometry rule. */
  private[sources] def open(spark: SparkSession, path: String,
      opt: String => Option[String], schema: StructType): Layout = {
    val (tau, nBuckets) = BandIndex.readMeta(spark, path)
    opt("nbuckets").orElse(opt("nBuckets")).foreach(nb =>
      require(nb.toInt == nBuckets,
        s"band-layout geometry mismatch at $path: layout has " +
          s"nBuckets=$nBuckets, option asked for nBuckets=$nb"))
    opt("tau").foreach(t => require(t.toDouble == tau,
      s"band-layout geometry mismatch at $path: layout has tau=$tau, " +
        s"option asked for tau=$t"))
    BandsLayout(nBuckets, tau)
  }
}

/** The band layout: `bucket = pmod(band_hash, nBuckets)`. Per-row write
  * enforcement: `doc_id` must be non-negative (the probe's sign-flip
  * encoding reserves negatives for batch ids) and `bucket` must equal
  * the layout hash of `band_hash`. */
private[sources] case class BandsLayout(nBuckets: Int, tau: Double)
    extends Layout {
  def name: String = "bands"
  def partCol: String = "bucket"
  def schema: StructType = BandsSource.Schema
  override def keyCol: Option[String] = Some("band_hash")
  override def partitionOf(hash: Any): Long =
    BandsSource.bucketOf(hash.asInstanceOf[Long], nBuckets)
  def describe: String = s"nBuckets=$nBuckets"
  def properties(path: String): Seq[(String, String)] =
    Seq("tau" -> tau.toString, "nBuckets" -> nBuckets.toString)

  def rowCheck(input: StructType): (InternalRow, Long) => Unit = {
    val docOf = ParquetRowCodec.longAt(input, "doc_id")
    val hashOf = ParquetRowCodec.longAt(input, "band_hash")
    (r, bucket) => {
      val docId = docOf(r)
      if (docId < 0) throw new IllegalArgumentException(
        s"BandsSource write: doc_id $docId is negative — the probe " +
          "sign-flip encoding reserves negatives for batch ids")
      val hash = hashOf(r)
      val want = BandsSource.bucketOf(hash, nBuckets)
      if (bucket != want) throw new IllegalArgumentException(
        s"BandsSource write: row (band_hash=$hash, bucket=$bucket) does " +
          s"not match the layout hash bucket $want for " +
          s"nBuckets=$nBuckets — a mis-bucketed band row silently " +
          "vanishes from pruned probes")
    }
  }
}
