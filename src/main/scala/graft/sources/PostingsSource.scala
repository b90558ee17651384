package graft.sources

import graft.operators.InvertedIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** DataSource V2 connector for the [[InvertedIndex]] term layout — the
  * index-native scan node the path-level helpers approximate: a
  * `term = 'x'` / `term IN (...)` predicate against this source is
  * pushed INTO the scan, where it derives the bucket set via the
  * layout's own hash (`bucket = pmod(fnv1a(term), nBuckets)`) and
  * prunes unprobed bucket directories at file-listing time, so the
  * pruning is visible in the plan itself.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.PostingsSource")
  *     .option("path", layoutPath).option("nBuckets", "64").load()
  *     .filter($"term".isin("alpha", "beta"))
  * }}}
  *
  * This file holds only the term layout's definition ([[PostingsLayout]]);
  * the scan, stream and write path are the shared [[LayoutSource]] stack.
  * The one-row `.stats` relation rides OUTSIDE the connector (it is a
  * different relation, not a postings row) — callers append it as
  * [[InvertedIndex.appendPostings]] does; `bm25` merges the stats rows
  * at read time. */
class PostingsSource extends LayoutSource(PostingsSource)

object PostingsSource extends LayoutFormat {
  /** Layout schema — `bucket` is the partition directory value. */
  val Schema: StructType = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("dl", LongType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("bucket", LongType, nullable = false)))

  private[sources] def schemaAt(spark: SparkSession,
      path: String): StructType = Schema

  /** A stamped layout carries its own nBuckets (`_graft_meta.json`) —
    * an explicit option must AGREE with it; stamp-less legacy layouts
    * fall back to option-or-64. */
  private[sources] def open(spark: SparkSession, path: String,
      opt: String => Option[String], schema: StructType): Layout = {
    val stamped = InvertedIndex.readStampedBuckets(spark, path)
    val opted = opt("nbuckets").orElse(opt("nBuckets")).map(_.toInt)
    (stamped, opted) match {
      case (Some(sn), Some(on)) => require(sn == on,
        s"term-layout geometry mismatch at $path: layout is stamped " +
          s"nBuckets=$sn, option asked for nBuckets=$on — a wrong " +
          "bucket count silently prunes the wrong directories")
      case _ => ()
    }
    PostingsLayout(stamped.orElse(opted).getOrElse(64))
  }
}

/** The term layout: `bucket = pmod(fnv1a(term), nBuckets)`. A written
  * row's `bucket` is VERIFIED against the hash of its term — a
  * mis-bucketed posting would silently vanish from every pruned
  * probe. */
private[sources] case class PostingsLayout(nBuckets: Int) extends Layout {
  def name: String = "postings"
  def partCol: String = "bucket"
  def schema: StructType = PostingsSource.Schema
  override def keyCol: Option[String] = Some("term")
  override def partitionOf(term: Any): Long =
    InvertedIndex.bucketOf(term.asInstanceOf[String], nBuckets)
  def describe: String = s"nBuckets=$nBuckets"
  def properties(path: String): Seq[(String, String)] =
    Seq("nBuckets" -> nBuckets.toString)

  def rowCheck(input: StructType): (InternalRow, Long) => Unit = {
    val iTerm = input.fieldIndex("term")
    (r, bucket) => {
      val term = r.getUTF8String(iTerm).toString
      val want = InvertedIndex.bucketOf(term, nBuckets)
      if (bucket != want) throw new IllegalArgumentException(
        s"PostingsSource write: row ('$term', bucket=$bucket) does not " +
          s"match the layout hash bucket $want for nBuckets=$nBuckets — " +
          "a mis-bucketed posting silently vanishes from pruned probes")
    }
  }
}
