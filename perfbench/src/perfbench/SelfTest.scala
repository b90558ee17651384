package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own logic: seeding, equal work for every
  * seed, the tail rule, self time, the fold-state rule, and that the
  * output checks catch a corrupted result, a duplicated pair or a
  * missing planted pair. Prints one `ok <name>` or `FAIL <name>: why`
  * line per check and exits non-zero on any failure. Run through
  * `perfbench/tests/test_harness.py`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean, why: => String = ""): Unit = {
    val outcome = try Right(cond) catch { case e: Throwable => Left(e.toString) }
    if (outcome == Right(true)) println(s"ok $name")
    else {
      failures += 1
      println(s"FAIL $name: ${outcome.left.getOrElse(why)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val members = (1 to 30).map(i => f"q$i%02d")
    check("same seed gives the same query order")(
      Plan.order(members, 7, 0) == Plan.order(members, 7, 0))
    check("a different seed gives a different query order")(
      Plan.order(members, 7, 0) != Plan.order(members, 8, 0))
    check("rounds of one seed reshuffle")(
      Plan.order(members, 7, 0) != Plan.order(members, 7, 1))
    check("order is a permutation of the members")(
      Plan.order(members, 7, 3).sorted == members.sorted)
    val pool = (1L to 95L by 2L)
    check("same seed gives the same batches")(
      Plan.batches(pool, 3, 6) == Plan.batches(pool, 3, 6))
    check("a different seed deals different batches")(
      Plan.batches(pool, 3, 6) != Plan.batches(pool, 4, 6))
    check("every seed appends the same documents in equal-sized batches")(
      (1L to 20L).forall { s =>
        val bs = Plan.batches(pool, s, 6)
        bs.flatten.sorted == pool.sorted && bs.map(_.size) == Seq.fill(6)(8)
      })
    check("a pool that does not split evenly is refused")(
      scala.util.Try(Plan.batches(pool, 3, 5)).isFailure)
    val base = (0L to 98L by 2L)
    check("every seed plants the same number of distinct near-duplicates per batch")(
      (1L to 20L).forall { s =>
        val ps = Plan.plants(base, s, 6, 4)
        ps.map(_.size) == Seq.fill(6)(4) && ps.flatten.distinct.size == 24 &&
          ps.flatten.forall(base.contains)
      })
    check("same seed plants the same documents")(
      Plan.plants(base, 9, 6, 4) == Plan.plants(base, 9, 6, 4) &&
        Plan.plants(base, 9, 6, 4) != Plan.plants(base, 10, 6, 4))
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90, the sample with 10 beyond it")(
      Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100), Stats.tail(hundred).toString)
    check("tail of 11 samples has exactly 10 beyond it")(
      Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    check("tail of too few samples is the maximum, flagged as p100")(
      Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 3))
    check("median of an even count averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    val spans = Seq(Span(0, -1, "op", "op", "x", 0, 100),
      Span(1, 0, "a", "queries", "x", 10, 30), Span(2, 0, "b", "exec", "x", 20, 50),
      Span(3, 0, "c", "exec", "x", 60, 70), Span(4, 3, "d", "functions", "x", 62, 66))
    val self = Stats.selfTimes(spans)
    check("self time subtracts the union of overlapping children")(self(0) == 50L, self.toString)
    check("self time of a leaf is its duration")(self(1) == 20L && self(4) == 4L)
    check("self time subtracts only direct children")(self(3) == 6L, self.toString)

    check("traced and untraced rounds in the same fold state are comparable")(
      Check.foldStates(Seq(2 -> Seq(0, 0, 0), 3 -> Seq(0, 0, 0))).isEmpty)
    check("rounds in different fold states are caught")(
      Check.foldStates(Seq(2 -> Seq(0, 0, 0), 3 -> Seq(1, 0, 0))).isDefined)

    check("a pair published twice fails the pair check")(
      Check.pairProblems(Seq((1L, 2L), (1L, 2L)), Map(1L -> "a b c d", 2L -> "a b c d"), 0.5)
        .exists(_.contains("published 2 times")))
    check("a pair below tau fails the pair check")(
      Check.pairProblems(Seq((1L, 2L)), Map(1L -> "a b c d", 2L -> "x y z w"), 0.5).nonEmpty)
    check("a verified, unique pair passes")(
      Check.pairProblems(Seq((1L, 2L)), Map(1L -> "a b c d e", 2L -> "a b c d e"), 0.5).isEmpty)
    check("a planted near-duplicate that was not published fails the check")(
      Check.plantProblems(Seq((1000002L, 2L)), Seq((1000002L, 2L), (1000004L, 4L))).size == 1 &&
        Check.plantProblems(Seq((2L, 1000002L)), Seq((1000002L, 2L))).isEmpty)

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i.toLong, s"text $i", i * 0.5))
      val base = Check.digest(rows.toDF("id", "t", "v"))
      val shuffled = Check.digest(scala.util.Random.shuffle(rows).toDF("id", "t", "v").repartition(3))
      val corrupted = Check.digest(rows.updated(17, (18L, "text 18", 9.25)).toDF("id", "t", "v"))
      val dropped = Check.digest(rows.tail.toDF("id", "t", "v"))
      check("the content digest ignores row order and partitioning")(base == shuffled)
      check("a corrupted value changes the content digest")(
        corrupted.rows == base.rows && corrupted.hash != base.hash)
      val want = Map("q" -> Check.Expected(base.rows, base.hex, ""))
      check("a corrupted query result fails the output check")(
        Check.against("q", corrupted, want.get("q")).isDefined &&
          Check.against("q", dropped, want.get("q")).isDefined &&
          Check.against("q", base, want.get("q")).isEmpty)
      check("a result marked as varying is checked on its row count only")(
        Check.against("q", corrupted, Some(want("q").copy(varies = "hash"))).isEmpty &&
          Check.against("q", dropped, Some(want("q").copy(varies = "hash"))).isDefined)
    } finally spark.stop()

    println(if (failures == 0) "all checks passed" else s"$failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
