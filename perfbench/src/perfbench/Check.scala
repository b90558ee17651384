package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Output checks. A query result is summarized by its row count and an
  * order-insensitive content hash (the sum of a 64-bit hash of each
  * row's canonical UnsafeRow bytes), so the check does the same work as
  * materializing every output row and collects only two numbers. */
object Check {

  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def digest(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = qe.executedPlan.schema
    val parts = qe.toRdd.mapPartitions(it => Iterator(digestRows(it, schema)))
      .collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def digestRows(it: Iterator[InternalRow],
      schema: StructType): (Long, Long) = {
    val proj = UnsafeProjection.create(schema)
    var n = 0L
    var h = 0L
    it.foreach { r =>
      val u = proj(r)
      val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes, 42)
      val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes, 0x5bd1e995)
      h += fmix64((a.toLong << 32) | (b & 0xffffffffL))
      n += 1
    }
    (n, h)
  }

  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  /** What the seed commit produced for a query. `varies` names the part
    * of the result that differed between recording runs ("hash" or
    * "rows"); only the stable part is checked. */
  final case class Expected(rows: Long, hash: String, varies: String)

  def readExpected(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map { f =>
        f(0) -> Expected(f(1).toLong, f(2), if (f.length > 3) f(3) else "")
      }.toMap
    finally src.close()
  }

  /** None when `got` matches `want`, else why not. */
  def against(name: String, got: Digest,
      want: Option[Expected]): Option[String] = want match {
    case None => Some(s"$name: no recorded expectation")
    case Some(e) if e.varies == "rows" => None
    case Some(e) if got.rows != e.rows =>
      Some(s"$name: ${got.rows} rows, expected ${e.rows}")
    case Some(e) if e.varies != "hash" && got.hex != e.hash =>
      Some(s"$name: content hash ${got.hex}, expected ${e.hash}")
    case _ => None
  }

  /** None when every timed round started in the same fold state (the
    * same number of live batches on each layout), else why not: only
    * then is one round's time comparable with another's, a traced
    * round's with an untraced one's included. */
  def foldStates(states: Seq[(Int, Seq[Int])]): Option[String] =
    if (states.map(_._2).distinct.size <= 1) None
    else Some("timed rounds started in different fold states (round -> live batches " +
      s"per layout): ${states.map { case (r, s) => s"$r -> ${s.mkString("/")}" }.mkString(", ")}")

  /** Word 3-gram shingles, the engine's near-dup spelling (split on a
    * single space, every token kept; whole text under three tokens). */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length >= 3) (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
    else Set(text)
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Problems with the live consumer's published pairs: duplicates, and
    * pairs whose exact Jaccard falls below `tau` (the sink stores the
    * score rounded to six decimals, so that much slack is allowed). */
  def pairProblems(pairs: Seq[(Long, Long)], texts: Map[Long, String],
      tau: Double): Seq[String] = {
    val dups = pairs.groupBy(identity).collect {
      case (p, ps) if ps.size > 1 => s"pair $p published ${ps.size} times"
    }.toSeq
    val low = pairs.distinct.flatMap { case p @ (a, b) =>
      (texts.get(a), texts.get(b)) match {
        case (Some(x), Some(y)) =>
          val j = jaccard(x, y)
          if (j >= tau - 5e-7) None else Some(f"pair $p has jaccard $j%.6f < $tau")
        case _ => Some(s"pair $p names an unknown document")
      }
    }
    dups ++ low
  }

  /** Problems with the planted near-duplicates: every planted
    * (copy, source) pair must have been published, in either
    * orientation. */
  def plantProblems(pairs: Seq[(Long, Long)], planted: Seq[(Long, Long)]): Seq[String] = {
    val got = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    planted.filterNot(got).map(p => s"planted near-duplicate $p was not published")
  }
}
