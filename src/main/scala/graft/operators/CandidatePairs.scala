package graft.operators

import graft.functions.{GraftFunctions => F}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-proof candidate-pair generation from LSH band buckets — the
  * shared back end of the MinHash and sign-LSH near-dedup operators.
  *
  * Input: one row per (bucket, member); output: every unordered member
  * pair that shares at least one bucket, exactly once, ordered
  * `outA < outB`. Same contract as the one-pass
  * `collect_list → explode²` spelling it hardens, with one difference
  * that only shows at scale: NO single task ever owns a whole hot
  * bucket.
  *
  * Why: a hot template cluster (thousands of near-identical-but-not-
  * identical docs — routine in web crawl even after exact dedup)
  * lands one band bucket with m members, and pair generation is
  * O(m²). Grouped into one array that is one reducer's task — the one
  * plan shape that would not survive a 100-TB corpus.
  *
  * How (one exchange, one real aggregation — r4's separate per-row
  * window sort, measurably ~25% of the operator, is gone; note the
  * bounded aggregate itself runs as ObjectHashAggregate, which past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` keys
  * per task degrades to ONE sort-based pass — still strictly less
  * work than the old sort-then-aggregate double, and that conf is the
  * tuning knob if the fallback ever shows up in profiles):
  *
  *  1. the membership rows with non-null bucket keys shuffle ONCE
  *     (`repartition(bucketCols)`); every pass below reads that same
  *     exchange via Spark's exchange reuse, so the expensive upstream
  *     (shingle hashing, signatures, layout scans) computes exactly
  *     once — provided the input's leaves canonicalize equal across
  *     plan arms (a DSv2 source's leaf does so only through its
  *     `Scan`'s equality, see [[graft.sources.LayoutScan]]);
  *  2. a single `bounded_min_set` pass ([[graft.functions.BoundedMinSetAgg]])
  *     returns each bucket's EXACT size plus its `bucketCap` smallest
  *     members — per-group aggregation memory is capped at `bucketCap`
  *     longs, so a degenerate bucket cannot OOM its reducer (the
  *     guarantee the windowed spelling bought with its sort);
  *  3. buckets with m ≤ `bucketCap` have their complete membership in
  *     that array and take the proven pair-explode path (O(cap²)
  *     worst-case per task);
  *  4. hot buckets (rare by construction — LSH banding is sized so
  *     expected bucket sizes are tiny) are re-keyed from the SAME
  *     exchange via a broadcast of the hot keys, then hash-chunked
  *     into `ceil(m/cap)` chunks; each member joins the chunk-pair
  *     CELLS it participates in, and cells shuffle independently —
  *     per-task work is ≤ cap² pair checks regardless of bucket size,
  *     and the replication factor is ≈ m/cap per member, proportional
  *     to that bucket's own pair count / cap, never to corpus size.
  *
  * Every pair is produced exactly once pre-dedup: a cross cell
  * (c < c') holds chunk-c members only on the left and chunk-c'
  * members only on the right, so each cross-chunk pair meets in
  * exactly one cell with one orientation; diagonal cells (c, c) see
  * both orientations and keep `a < b`. A final distinct collapses the
  * per-band multiplicity (a pair sharing k bands appears k times),
  * exactly as the original spelling did.
  *
  * A hot bucket's pair OUTPUT is still O(m²) by contract — correctly
  * distributed, never silently truncated. When the output itself is
  * the problem (a degenerate crawl corpus), [[fromBucketsBudgeted]]
  * caps emitted pairs per bucket deterministically WITH an exact,
  * queryable and logged drop count.
  */
object CandidatePairs extends Logging {

  /** All unordered same-bucket member pairs of `bucketed`.
    *
    * @param bucketed  one row per bucket membership
    * @param bucketCols columns identifying a bucket (e.g. band_no, band_hash)
    * @param idCol     member id column (BIGINT; pairs come out a < b)
    * @param outA      output name of the smaller pair member
    * @param outB      output name of the larger pair member
    * @param bucketCap largest bucket handled as a single array/task;
    *                  also the hash-chunk width above it (≈ cap² pair
    *                  checks per task ceiling)
    */
  def fromBuckets(bucketed: DataFrame, bucketCols: Seq[String], idCol: String,
      outA: String, outB: String, bucketCap: Int = 1024): DataFrame = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    val bCols: Seq[Column] = bucketCols.map(col)
    val id = col(idCol)

    // The one exchange. Everything below reads it through exchange
    // reuse, which holds only if every arm's copy of this subtree
    // canonicalizes equal — down to the leaves (a DSv2 source's leaf is
    // equal only through its Scan's equality). The join arms of the hot
    // path infer `isnotnull` on the bucket columns and Spark pushes it
    // under the repartition; spelled here, it is the same in every arm.
    // So a null bucket key never pairs, on either path: it names no
    // bucket, as in the hot path's joins and in fromBucketsMinTagged.
    val shuffled = bucketed.filter(bCols.map(_.isNotNull).reduce(_ && _))
      .repartition(bCols: _*)

    // Exact size + complete-if-bounded membership in ONE bounded pass.
    val agg = shuffled
      .groupBy(bCols: _*)
      .agg(F.bounded_min_set(id, bucketCap).as("__s"))
      .select(bCols :+ col("__s.cnt").as("__m") :+ col("__s.ids").as("__ids"): _*)
      .filter(col("__m") > 1)

    // Common path: the kept array IS the whole bucket.
    val small = agg.filter(col("__m") <= bucketCap)
      .select(explode(col("__ids")).as(outA), col("__ids"))
      .select(col(outA), explode(col("__ids")).as(outB))
      .filter(col(outA) < col(outB))
      .select(outA, outB)

    // Hot path: recover full membership by re-keying the SAME exchange
    // against the hot keys. Both join children already satisfy the
    // bucket-key distribution (the reused exchange, and the size
    // aggregate above it), so the SHUFFLE_HASH hint plans a
    // zero-exchange shuffled-hash join with the hot keys as the local
    // build side: no broadcast collect (the hot-key count may itself
    // be unbounded under pervasive skew — up to N/cap keys), no sort
    // of the membership side, and the common no-hot-bucket case pays
    // one cap-1 size aggregate plus an empty per-partition hash map.
    // The size is bounded_min_set's own cnt, the non-null-id measure of
    // `agg` above, so a bucket is EITHER small or hot, never both
    // (null-id membership rows can't pair and must not inflate one
    // predicate but not the other — with mismatched measures a
    // null-heavy bucket would run down both paths and regenerate every
    // pair twice before the distinct). It also keeps this arm reading
    // the id column like every other arm: count(id) over a non-nullable
    // id folds to count(1), the id is pruned below the repartition, and
    // this arm's exchange would no longer be the one the others reuse.
    val hotKeys = shuffled.groupBy(bCols: _*)
      .agg(F.bounded_min_set(id, 1).as("__s"))
      .select(bCols :+ col("__s.cnt").as("__m"): _*)
      .filter(col("__m") > bucketCap)
    val chunked = shuffled.join(hotKeys.hint("shuffle_hash"), bucketCols)
      .withColumn("__nc", ceil(col("__m") / lit(bucketCap.toLong)).cast("int"))
      .withColumn("__c", pmod(F.fnv1a(id), col("__nc")).cast("int"))
    val lefts = chunked.select(
      bCols ++ Seq(id.as("__ida"), col("__c").as("__cl"),
        explode(sequence(col("__c"), col("__nc") - 1)).as("__cr")): _*)
    val rights = chunked.select(
      bCols ++ Seq(id.as("__idb"), col("__c").as("__cr"),
        explode(sequence(lit(0), col("__c"))).as("__cl")): _*)
    val large = lefts
      .join(rights, bucketCols ++ Seq("__cl", "__cr"))
      // diagonal cells see both orientations (and self-rows): keep one;
      // cross cells hold each pair once, in arbitrary id order.
      .filter(col("__cl") =!= col("__cr") || col("__ida") < col("__idb"))
      .select(least(col("__ida"), col("__idb")).as(outA),
        greatest(col("__ida"), col("__idb")).as(outB))

    small.unionAll(large).distinct()
  }

  /** [[fromBuckets]] that additionally returns, for every pair, the
    * tag of the LEXICOGRAPHICALLY-SMALLEST shared bucket — the hook a
    * positional filter (PPJoin) needs: the caller orders buckets by a
    * global element order (`orderCols`, constant within a bucket) and
    * rides per-member columns (`sideCols`, e.g. the member's rank of
    * that element and its set size); the output carries `orderCols`
    * plus `<side>_a` / `<side>_b` taken from the minimal shared
    * bucket, with sides matching the `outA < outB` orientation.
    *
    * Same pair SET as [[fromBuckets]] (pinned in CandidatePairsSpec);
    * same single-exchange shape — the per-pair min-tag aggregation
    * replaces the final distinct. Skew contract: small buckets pair
    * via a bucket-keyed sort-merge self-join over the one exchange
    * (per-bucket work ≤ cap², spill-safe); hot buckets hash-chunk
    * exactly like [[fromBuckets]], with the tags riding the chunk
    * rows.
    */
  def fromBucketsMinTagged(bucketed: DataFrame, bucketCols: Seq[String],
      idCol: String, orderCols: Seq[String], sideCols: Seq[String],
      outA: String, outB: String, bucketCap: Int = 1024): DataFrame = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    val bCols: Seq[Column] = bucketCols.map(col)
    val id = col(idCol)

    // The one exchange, null bucket keys dropped as in fromBuckets so
    // the join arms' inferred `isnotnull` does not set them apart (no
    // change in pairs: every arm below inner-joins on the bucket keys).
    val shuffled = bucketed.filter(bCols.map(_.isNotNull).reduce(_ && _))
      .repartition(bCols: _*)
    val sizes = shuffled.groupBy(bCols: _*)
      .agg(count(id).as("__m"))
      .filter(col("__m") > 1)

    // Small path: bucket-keyed self-join over the shared exchange —
    // both arms read the same clustered layout, pair orientation is
    // fixed by the ida < idb filter so side tags attach directly.
    val smallRows = shuffled
      .join(sizes.filter(col("__m") <= bucketCap).hint("shuffle_hash"),
        bucketCols)
    val aArm = smallRows.select(
      bCols ++ orderCols.map(col) ++ Seq(id.as("__ida"))
        ++ sideCols.map(c => col(c).as(s"__${c}_a")): _*)
    val bArm = smallRows.select(
      bCols ++ Seq(id.as("__idb"))
        ++ sideCols.map(c => col(c).as(s"__${c}_b")): _*)
    val small = aArm.join(bArm, bucketCols)
      .filter(col("__ida") < col("__idb"))

    // Hot path: the fromBuckets hash-chunk cells, tags riding along;
    // cross cells hold arbitrary orientation, so side tags swap with
    // the least/greatest normalization.
    val hotKeys = sizes.filter(col("__m") > bucketCap)
    val chunked = shuffled.join(hotKeys.hint("shuffle_hash"), bucketCols)
      .withColumn("__nc", ceil(col("__m") / lit(bucketCap.toLong)).cast("int"))
      .withColumn("__c", pmod(F.fnv1a(id), col("__nc")).cast("int"))
    val lefts = chunked.select(
      bCols ++ orderCols.map(col) ++ Seq(id.as("__idl"), col("__c").as("__cl"),
        explode(sequence(col("__c"), col("__nc") - 1)).as("__cr"))
        ++ sideCols.map(c => col(c).as(s"__${c}_l")): _*)
    val rights = chunked.select(
      bCols ++ Seq(id.as("__idr"), col("__c").as("__cr"),
        explode(sequence(lit(0), col("__c"))).as("__cl"))
        ++ sideCols.map(c => col(c).as(s"__${c}_r")): _*)
    val flip = col("__idl") > col("__idr")
    val large = lefts
      .join(rights, bucketCols ++ Seq("__cl", "__cr"))
      .filter(col("__cl") =!= col("__cr") || col("__idl") < col("__idr"))
      .select(
        (bCols ++ orderCols.map(col) ++ Seq(
          least(col("__idl"), col("__idr")).as("__ida"),
          greatest(col("__idl"), col("__idr")).as("__idb"))
          ++ sideCols.map(c => when(flip, col(s"__${c}_r"))
            .otherwise(col(s"__${c}_l")).as(s"__${c}_a"))
          ++ sideCols.map(c => when(flip, col(s"__${c}_l"))
            .otherwise(col(s"__${c}_r")).as(s"__${c}_b"))): _*)

    // One pair row per unordered pair: the min-tag aggregation over
    // shared buckets replaces fromBuckets' distinct. orderCols lead
    // the struct, so "min" = the globally-smallest shared bucket
    // (bucket keys break order ties deterministically).
    val tagFields = (orderCols ++ bucketCols).map(col) ++
      sideCols.flatMap(c => Seq(col(s"__${c}_a"), col(s"__${c}_b")))
    val cols = Seq(col("__ida"), col("__idb"), struct(tagFields: _*).as("__tag"))
    small.select(cols: _*).unionAll(large.select(cols: _*))
      .groupBy(col("__ida").as(outA), col("__idb").as(outB))
      .agg(min(col("__tag")).as("__tag"))
      .select(col(outA) +: col(outB) +:
        (orderCols.map(c => col(s"__tag.$c").as(c)) ++
          sideCols.flatMap(c => Seq(col(s"__tag.__${c}_a").as(s"${c}_a"),
            col(s"__tag.__${c}_b").as(s"${c}_b")))): _*)
  }

  /** [[fromBuckets]] under a per-bucket pair budget, for corpora where
    * a degenerate bucket's O(m²) pair OUTPUT is itself the problem.
    * Deterministic truncation contract: each bucket keeps only its
    * n* = min{n : C(n,2) ≥ K} SMALLEST members (so the kept set can
    * always afford the budget), and emits the first K of their pairs
    * in index-lexicographic order — a budget re-run emits the same
    * set. `droppedPerBucket` is the exact audit trail: one row per
    * bucket that lost pairs, with its pre-dedup drop count. Nothing is
    * silently truncated — call [[BudgetedPairs.loggedDropTotal]] for
    * the one-line log + total.
    *
    * Because pairs come only from each bucket's n*-member prefix and
    * n* ≤ bucketCap is required, the budgeted operator needs NO hot
    * path at all: one bounded aggregation covers every bucket, so both
    * the per-task work AND the output are capped — the fully
    * skew-proof mode.
    */
  def fromBucketsBudgeted(bucketed: DataFrame, bucketCols: Seq[String],
      idCol: String, outA: String, outB: String, bucketCap: Int = 1024,
      maxPairsPerBucket: Long): BudgetedPairs = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    require(maxPairsPerBucket >= 1,
      s"maxPairsPerBucket must be >= 1, got $maxPairsPerBucket")
    // smallest n with C(n,2) >= budget — the kept-prefix width
    var nStar = math.max(2L,
      math.ceil((1.0 + math.sqrt(1.0 + 8.0 * maxPairsPerBucket)) / 2.0).toLong - 1L)
    while (nStar * (nStar - 1) / 2 < maxPairsPerBucket) nStar += 1
    require(nStar <= bucketCap,
      s"maxPairsPerBucket=$maxPairsPerBucket needs the $nStar smallest " +
        s"members per bucket; raise bucketCap (= $bucketCap) to >= $nStar")
    logWarning(s"candidate-pair budget active: <= $maxPairsPerBucket " +
      s"pairs per bucket (first-$nStar-member prefix); drops are " +
      "recorded in droppedPerBucket")

    val bCols: Seq[Column] = bucketCols.map(col)
    val id = col(idCol)
    val agg = bucketed.repartition(bCols: _*)
      .groupBy(bCols: _*)
      .agg(F.bounded_min_set(id, bucketCap).as("__s"))
      .select(bCols :+ col("__s.cnt").as("__m") :+ col("__s.ids").as("__ids"): _*)
      .filter(col("__m") > 1)

    val kept = agg
      .withColumn("__k", slice(col("__ids"), lit(1),
        least(col("__m"), lit(nStar)).cast("int")))
      .withColumn("__sz", size(col("__k")).cast("bigint"))

    // lexicographic pair rank of (i, j), i < j, within a sorted array
    // of size sz: rank = i*(2*sz - i - 1)/2 + (j - i - 1). The product
    // is always even (i and 2*sz-i-1 have opposite parity).
    val pairs = kept
      .select(col("__k"), col("__sz"),
        posexplode(col("__k")).as(Seq("__i", outA)))
      .select(col("__sz"), col("__i"), col(outA),
        posexplode(col("__k")).as(Seq("__j", outB)))
      .filter(col("__j") > col("__i"))
      .withColumn("__rank",
        expr("CAST(__i AS BIGINT) * (2L * __sz - __i - 1L) DIV 2L") +
          col("__j") - col("__i") - 1L)
      .filter(col("__rank") < maxPairsPerBucket)
      // value filter, like fromBuckets: duplicate membership rows put
      // equal ids at adjacent sorted positions — the index pair passes
      // __j > __i but a self-pair (a == b) must never be emitted. The
      // degenerate index pair still consumes its budget slot and is
      // counted by the drop ledger's row-combinatorics.
      .filter(col(outA) < col(outB))
      .select(outA, outB)
      .distinct()

    // exact C(x,2) in long arithmetic: x*(x-1) is even, shift not /
    // (Column `/` is double division and loses exactness past 2^53).
    val c2 = (x: Column) => shiftright(x * (x - 1L), 1)
    val droppedPerBucket = kept
      .withColumn("dropped_pairs",
        c2(col("__m")) - least(c2(col("__sz")), lit(maxPairsPerBucket)))
      .filter(col("dropped_pairs") > 0)
      .select(bCols :+ col("__m").as("bucket_rows") :+ col("dropped_pairs"): _*)

    BudgetedPairs(pairs, droppedPerBucket)
  }

  private[operators] def logDrops(total: Long, buckets: Long): Unit =
    logWarning(s"candidate-pair budget dropped $total pre-dedup pairs " +
      s"across $buckets buckets")

  /** Result of [[fromBucketsBudgeted]]: the capped pair set plus the
    * exact per-bucket drop ledger. */
  final case class BudgetedPairs(pairs: DataFrame, droppedPerBucket: DataFrame) {
    /** Total pre-dedup pairs dropped by the budget, logged (the
      * "never truncate silently" contract) and returned. */
    def loggedDropTotal(): Long = {
      val row = droppedPerBucket
        .agg(coalesce(sum(col("dropped_pairs")), lit(0L)),
          count(lit(1)))
        .head()
      CandidatePairs.logDrops(row.getLong(0), row.getLong(1))
      row.getLong(0)
    }
  }
}
