package perfbench

/** Everything the seed decides. The engine never sees the seed, only the
  * inputs drawn from it: the order of the queries in each round, which
  * appended document goes into which batch, and which indexed documents
  * are planted as near-duplicates. The amount of work never depends on
  * it. */
object Plan {

  private def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream)

  private def shuffled[T: Ordering](xs: Seq[T], r: java.util.Random): Seq[T] = {
    val l = new java.util.ArrayList[T]()
    xs.sorted.foreach(l.add)
    java.util.Collections.shuffle(l, r)
    (0 until l.size).map(l.get)
  }

  /** Round `round`'s order of `members` (each round reshuffles). */
  def order(members: Seq[String], seed: Long, round: Int): Seq[String] =
    shuffled(members, rng(seed, 1000L + round))

  /** `pool` dealt into `n` batches of exactly `pool.size / n` documents
    * each (`pool.size` must be a multiple of `n`): the seed decides only
    * which document lands in which batch. */
  def batches(pool: Seq[Long], seed: Long, n: Int): Seq[Seq[Long]] = {
    require(n > 0 && pool.size % n == 0, s"${pool.size} documents do not split into $n equal batches")
    shuffled(pool, rng(seed, 2L)).grouped(pool.size / n).map(_.sorted).toSeq
  }

  /** `k` distinct indexed documents per batch, planted as near-duplicates
    * into batch `batch`. Planting draws from `base` without repeats
    * across batches, so every run plants `k` per batch. */
  def plants(base: Seq[Long], seed: Long, nBatches: Int, k: Int): Seq[Seq[Long]] = {
    require(base.size >= nBatches * k, "too few indexed documents to plant from")
    shuffled(base, rng(seed, 3L)).take(nBatches * k).grouped(k).map(_.sorted).toSeq
  }
}
