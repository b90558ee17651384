package graft

import graft.operators.CandidatePairs
import graft.queries.Pipeline
import org.apache.spark.sql.functions._

/** The skew-proof LSH candidate back end: same-bucket pair sets must be
  * exact (vs brute force) on BOTH the bounded one-pass path and the
  * hash-chunked hot-bucket path, and a planted 5k-member hot bucket —
  * the adversarial "template cluster" shape that makes the naive
  * collect_list+explode² spelling one reducer's O(m²) task — must
  * complete with the full C(m,2) pair set distributed across cells. */
class CandidatePairsSpec extends SparkSuite {
  import spark.implicits._

  private def bruteForce(members: Map[(Int, Long), Seq[Long]]): Set[(Long, Long)] =
    members.values.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  private def run(rows: Seq[(Int, Long, Long)], cap: Int): Set[(Long, Long)] =
    CandidatePairs.fromBuckets(rows.toDF("band_no", "band_key", "id"),
      Seq("band_no", "band_key"), "id", "id_a", "id_b", cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pair sets are exact and identical on the grouped and chunked paths") {
    val rnd = new scala.util.Random(7)
    // mixed bucket sizes incl. singletons (no pairs) and overlap:
    // members shared across buckets must still pair exactly once.
    val buckets: Map[(Int, Long), Seq[Long]] = (0 until 30).map { i =>
      val m = rnd.nextInt(40) + 1
      (i % 3, i.toLong) -> Seq.fill(m)(rnd.nextLong(500).abs).distinct.map(_.toLong)
    }.toMap
    val rows = buckets.toSeq.flatMap { case ((bn, bk), ids) =>
      ids.map(id => (bn, bk, id))
    }
    val want = bruteForce(buckets)
    val grouped = run(rows, cap = 10000) // every bucket under the cap
    val chunked = run(rows, cap = 2)     // every multi-member bucket chunked
    val mixed = run(rows, cap = 16)      // both paths live in one plan
    assert(grouped == want, s"grouped path: ${grouped.size} vs ${want.size}")
    assert(chunked == want, s"chunked path: ${chunked.size} vs ${want.size}")
    assert(mixed == want, s"mixed paths: ${mixed.size} vs ${want.size}")
  }

  test("a planted 5k-member hot bucket completes distributed with all C(m,2) pairs") {
    val m = 5000L
    // one hot bucket + surrounding normal buckets, default cap
    val hot = (0L until m).map(id => (0, 42L, id))
    val normal = (0 until 50).flatMap(b =>
      (0 until 5).map(j => (1, b.toLong, 100000L + b * 10 + j)))
    val df = (hot ++ normal).toDF("band_no", "band_key", "id")
    val pairs = CandidatePairs.fromBuckets(df, Seq("band_no", "band_key"),
      "id", "id_a", "id_b", Pipeline.DefaultBucketCap)
    val expected = m * (m - 1) / 2 + 50L * (5 * 4 / 2)
    assert(pairs.count() == expected)
    // spot-check membership: extremes of the hot bucket pair up, and
    // no cross-bucket contamination
    val sample = pairs.filter($"id_a" === 0L && $"id_b" === m - 1).count()
    assert(sample == 1L)
    assert(pairs.filter($"id_a" < 100000L && $"id_b" >= 100000L).count() == 0L)
    // the plan really split the bucket: the chunked branch is live
    // (ceil(5000/1024) = 5 chunks → 15 cells), visible as the
    // role-join in the physical plan next to the grouped branch.
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("__cl") && plan.contains("__cr"),
      s"expected the chunked role-join branch in the plan:\n$plan")
  }

  test("fromBucketsMinTagged: fromBuckets' pair set, tag = the " +
      "globally smallest shared bucket, on both paths") {
    val rnd = new scala.util.Random(11)
    val buckets: Map[(Int, Long), Seq[Long]] = (0 until 30).map { i =>
      val m = rnd.nextInt(40) + 1
      (i % 3, i.toLong) -> Seq.fill(m)(rnd.nextLong(500).abs).distinct.map(_.toLong)
    }.toMap
    // bucket-level order value + per-member side value, both
    // deterministic so the expected min-tag is computable brute-force
    def ord(bk: Long): Long = bk * 7 % 13
    def rnOf(bk: Long, id: Long): Long = (id + bk) % 9
    val rows = buckets.toSeq.flatMap { case ((bn, bk), ids) =>
      ids.map(id => (bn, bk, id, ord(bk), rnOf(bk, id)))
    }
    val df = rows.toDF("band_no", "band_key", "id", "ordv", "rn")
    val want = bruteForce(buckets)
    val wantTag: Map[(Long, Long), (Long, Long, Long)] = want.toSeq.map {
      case (a, b) =>
        val shared = buckets.collect {
          case ((bn, bk), ids) if ids.contains(a) && ids.contains(b) =>
            (ord(bk), bn.toLong, bk)
        }.toSeq.min
        (a, b) -> (shared._1, rnOf(shared._3, a), rnOf(shared._3, b))
    }.toMap
    for (cap <- Seq(10000, 2, 16)) { // grouped / chunked / mixed
      val got = CandidatePairs.fromBucketsMinTagged(df,
          Seq("band_no", "band_key"), "id", Seq("ordv"), Seq("rn"),
          "id_a", "id_b", cap)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          (r.getAs[Long]("ordv"), r.getAs[Long]("rn_a"), r.getAs[Long]("rn_b")))
        .toMap
      assert(got.keySet == want, s"cap=$cap: pair set diverged " +
        s"(${got.size} vs ${want.size})")
      assert(got == wantTag.map { case (k, v) => k -> v },
        s"cap=$cap: min tags diverged")
    }
  }

  test("null-id membership rows never pair and use ONE size measure") {
    // 5 real members + 500 null-id rows in one bucket, cap 16: the
    // non-null count (5) keeps this a small bucket on BOTH the
    // grouped-path predicate and the hot-key predicate — with
    // mismatched measures (count(*) = 505 > cap) the same bucket
    // would also run the chunk path and regenerate every pair.
    val real = (1L to 5L).map(id => (0, 7L, Some(id)))
    val nulls = Seq.fill(500)((0, 7L, Option.empty[Long]))
    val df = (real ++ nulls).toDF("band_no", "band_key", "id")
    val pairs = CandidatePairs.fromBuckets(df, Seq("band_no", "band_key"),
      "id", "id_a", "id_b", bucketCap = 16)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toSet
    assert(got == want, s"null ids leaked or pairs lost: $got")
    // and the hot-key relation is empty for this bucket: no chunk work
    import org.apache.spark.sql.functions.count
    val hot = df.repartition($"band_no", $"band_key")
      .groupBy($"band_no", $"band_key")
      .agg(count($"id").as("m")).filter($"m" > 16).count()
    assert(hot == 0L)
  }

  test("null bucket keys never pair, on the grouped and chunked paths " +
      "alike") {
    // bucket (0, null) holds 11..15, bucket (0, 7) holds 1..5: only
    // the keyed bucket's pairs come out, whichever path each takes
    val ids = 1L to 5L
    val rows = ids.map(id => (0, Option.empty[Long], id + 10)) ++
      ids.map(id => (0, Option(7L), id))
    val df = rows.toDF("band_no", "band_key", "id")
    val want = (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    Seq(16, 2).foreach { cap =>
      val got = CandidatePairs.fromBuckets(df, Seq("band_no", "band_key"),
        "id", "id_a", "id_b", cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tagged = CandidatePairs.fromBucketsMinTagged(
        df.withColumn("ord", $"band_no"), Seq("band_no", "band_key"), "id",
        Seq("ord"), Seq.empty, "id_a", "id_b", cap)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
        .toSet
      assert(got == want && tagged == want,
        s"cap=$cap: null-key pairs leaked or keyed pairs lost: $got")
    }
    // one key column null is enough to name no bucket
    val halfNull = Seq((Option.empty[Int], 7L, 1L), (Option.empty[Int], 7L, 2L))
      .toDF("band_no", "band_key", "id")
    assert(CandidatePairs.fromBuckets(halfNull, Seq("band_no", "band_key"),
      "id", "id_a", "id_b", 16).isEmpty)
  }

  test("pair budget caps output deterministically with an exact drop ledger") {
    // bucket A: 6 members → C(6,2)=15 pairs; bucket B: 3 → 3; C: 2 → 1.
    val rows =
      (0L until 6L).map(id => (0, 1L, id * 10)) ++
        Seq((0, 2L, 100L), (0, 2L, 101L), (0, 2L, 102L)) ++
        Seq((1, 1L, 200L), (1, 1L, 201L))
    val k = 4L
    val got = CandidatePairs.fromBucketsBudgeted(
      rows.toDF("band_no", "band_key", "id"), Seq("band_no", "band_key"),
      "id", "id_a", "id_b", bucketCap = 16, maxPairsPerBucket = k)
    // k=4 → n*=4: bucket A keeps its 4 smallest members (0,10,20,30)
    // and emits their first 4 index-lex pairs; B and C fit whole.
    val wantPairs = Set((0L, 10L), (0L, 20L), (0L, 30L), (10L, 20L),
      (100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L))
    val gotPairs = got.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == wantPairs)
    // only bucket A drops: 15 - 4 = 11, and the log helper totals it.
    val ledger = got.droppedPerBucket.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ledger.toSeq == Seq((0, 1L, 6L, 11L)))
    assert(got.loggedDropTotal() == 11L)
  }

  test("pair budget needs no hot path: a planted hot bucket stays capped") {
    val m = 5000L
    val cap = 64
    val k = 100L // n* = 15 <= cap
    val hot = (0L until m).map(id => (0, 7L, id))
    val got = CandidatePairs.fromBucketsBudgeted(
      hot.toDF("band_no", "band_key", "id"), Seq("band_no", "band_key"),
      "id", "id_a", "id_b", bucketCap = cap, maxPairsPerBucket = k)
    val pairs = got.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected: the first 100 lexicographic pairs over ids 0..14
    val wantPairs = (for (a <- 0L until 15L; b <- a + 1 until 15L)
      yield (a, b)).sortBy(identity).take(k.toInt).toSet
    assert(pairs == wantPairs)
    assert(got.loggedDropTotal() == m * (m - 1) / 2 - k)
    // and the budgeted plan has NO chunk-cell join branch
    val plan = got.pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("__cl"), "budget mode must not plan the hot-path join")
  }

  test("budget path never emits self-pairs from duplicate membership rows") {
    // the same id twice in one bucket sits at adjacent sorted positions:
    // the index pair passes j > i but must be dropped by the value filter
    val rows = Seq((0, 1L, 5L), (0, 1L, 5L), (0, 1L, 9L))
    val got = CandidatePairs.fromBucketsBudgeted(
      rows.toDF("band_no", "band_key", "id"), Seq("band_no", "band_key"),
      "id", "id_a", "id_b", bucketCap = 8, maxPairsPerBucket = 10L)
    val pairs = got.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((5L, 9L)), s"self-pair leaked: $pairs")
    // unbudgeted path agrees
    val plain = CandidatePairs.fromBuckets(
      rows.toDF("band_no", "band_key", "id"), Seq("band_no", "band_key"),
      "id", "id_a", "id_b", bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == Set((5L, 9L)))
  }

  test("budget tighter than the bucket cap is rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      CandidatePairs.fromBucketsBudgeted(
        Seq((0, 1L, 1L)).toDF("band_no", "band_key", "id"),
        Seq("band_no", "band_key"), "id", "a", "b",
        bucketCap = 4, maxPairsPerBucket = 1000L)
    }
    assert(e.getMessage.contains("raise bucketCap"))
  }

  test("minhash near-dup pairs are cap-invariant through the full pipeline") {
    // forcing a tiny cap routes the real fixture through the chunked
    // path end-to-end; results must match the default-cap run exactly.
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    def pairs(cap: Int) =
      Pipeline.minhashNearDupPairs(docs, 0.5, bucketCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dflt = pairs(Pipeline.DefaultBucketCap)
    assert(dflt.nonEmpty)
    assert(pairs(2) == dflt)
  }

  test("embed near-dup pairs are cap-invariant through the full pipeline") {
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val planted = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"v", x => x * lit(1.01)).as("v"))
    val all = emb.unionAll(planted)
    def pairs(cap: Int) =
      Pipeline.embedNearDupPairs(all, 0.99, bucketCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dflt = pairs(Pipeline.DefaultBucketCap)
    assert(dflt.size >= 10, s"planted dups must be detected: $dflt")
    assert(pairs(2) == dflt)
  }

  test("a planted hot IVF cell pairs completely through the chunk path " +
      "— the semdedup within-cell shape never hands a cell to one task") {
    // SemDeDup's pair domain is Σ|cell|² by contract, but with k fixed
    // the enumeration of a dense cell must chunk: 1500 near-identical
    // vectors (one cluster) all land in one learned cell. The shape
    // under test is semDedupPairs': assignCells → CandidatePairs(cell)
    // → vectors joined back for the exact cosine verify.
    val m = 1500
    val rnd = new scala.util.Random(11)
    val hot = (0 until m).map { i =>
      (i.toLong, Array(1.0 + rnd.nextDouble() * 1e-4, 0.0, 0.0))
    }
    val cold = (0 until 20).map { i =>
      (100000L + i, Array(0.0, 1.0 + rnd.nextDouble() * 1e-4, 0.0))
    }
    val emb = (hot ++ cold).toDF("vec_id", "v")
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val cells = graft.operators.IvfIndex.assignCells(emb, cents)
      .select($"cell", $"vec_id", $"v")
    val pairs = CandidatePairs.fromBuckets(
      cells.select($"cell", $"vec_id"), Seq("cell"), "vec_id",
      "vec_a", "vec_b", Pipeline.DefaultBucketCap)
      .join(cells.select($"cell", $"vec_id".as("vec_a"), $"v".as("va")),
        Seq("vec_a"))
      .join(cells.select($"vec_id".as("vec_b"), $"v".as("vb")),
        Seq("vec_b"))
    // every within-cell pair is present exactly once; none cross cells
    val want = m.toLong * (m - 1) / 2 + 20L * 19 / 2
    assert(pairs.count() == want)
    assert(pairs.filter($"vec_a" < 100000L && $"vec_b" >= 100000L)
      .count() == 0L)
    // the hot cell (1500 > cap = 1024) ran the chunk branch
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("__cl") && plan.contains("__cr"),
      s"expected the chunk branch:\n${plan.take(2000)}")
  }
}
