package graft

import graft.operators.{BandIndex, InvertedIndex, IvfIndex, TxBatch}
import graft.sources.CellsSource
import graft.streaming.{BandStreams, CellStreams}
import org.apache.spark.sql.functions._

/** The round-16 hardening of compaction × live-consumer coexistence:
  *
  *  1. the fold/trigger TOCTOU hit DETERMINISTICALLY (the r15
  *     independent-run failure): a [[CellsSource.listingFailpoint]]
  *     fold lands between a scan's commit-unit resolution and its
  *     per-unit listing, on all three connectors — the fold-tolerant
  *     retry must re-resolve and return the full content, or surface
  *     the allowlist translation refusal, never the raw
  *     FileNotFoundException;
  *  2. the replayed-stale-end-offset hole: BOTH offsets predating a
  *     fold pass the fast-path subset check on equally-stale names —
  *     the verified fast path must refuse with the documented
  *     recovery;
  *  3. a 20-repetition load soak of the exact r15 failing pattern
  *     (append → caught-up trigger → external fold, live consumer
  *     polling throughout) on the BANDS lane — the lane that failed;
  *  4. a seeded RANDOMIZED interleaving soak (append / trigger /
  *     fold / relearn ordered by the keyed-md5 house recipe, never
  *     rand()) on the CELLS lane: every schedule must end in pairs ≡
  *     the never-compacted twin replaying the same append/trigger
  *     schedule, or a loud documented refusal — never a crash, never
  *     a duplicate, never a lost pair.
  */
class CoexistenceSoakSpec extends SparkSuite {
  import spark.implicits._

  private def clean(base: String, dirs: Seq[String]): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(s"$base/$d")))

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else t.toString +: chain(t.getCause)

  /** One-shot failpoint body: runs `body` on the first listing only. */
  private def withOneShotFold(body: => Unit)(run: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    CellsSource.listingFailpoint =
      () => if (fired.compareAndSet(false, true)) body
    try run
    finally CellsSource.listingFailpoint = () => ()
  }

  test("a fold landing between unit resolution and per-unit listing " +
      "(the exact r15 TOCTOU window) is retried, not crashed: BANDS") {
    val base = "/tmp/graft_toctou_bands"
    clean(base, Seq("layout"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    BandIndex.writeBandLayout(
      BandIndex.buildBands(docs.filter($"doc_id" % 2 === 0), 0.5, 8),
      s"$base/layout", 0.5, 8)
    assert(BandIndex.appendBandsIdempotent(
      docs.filter($"doc_id" % 2 === 1), s"$base/layout", 0.5, 8, 1L))
    val want = spark.read.format("graft.sources.BandsSource")
      .option("path", s"$base/layout").load().count()
    assert(want > 0L)
    withOneShotFold {
      assert(TxBatch.compact(spark, s"$base/layout"))
    } {
      val got = spark.read.format("graft.sources.BandsSource")
        .option("path", s"$base/layout").load().count()
      assert(got == want, s"fold-tolerant retry lost rows: $got vs $want")
    }
    // the fold really did land mid-listing (gen advanced)
    assert(TxBatch.compactedBaseDir(spark, s"$base/layout").isDefined)
  }

  test("the raw-local IOException shape of the sweep race ('Invalid " +
      "directory or I/O error') is retried like the FNF shape: BANDS") {
    // Hadoop's RawLocalFileSystem raises a PLAIN IOException (not FNF)
    // when File.list() returns null because a fold swept the directory
    // between the existence probe and the listing — the shape that
    // leaked through the matcher in a 20-rep soak run. Pin it
    // deterministically: one-shot inject the exact message shape at
    // the listing failpoint and require the scan to survive via the
    // same bounded retry.
    val base = "/tmp/graft_toctou_bands_rawio"
    clean(base, Seq("layout"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    BandIndex.writeBandLayout(
      BandIndex.buildBands(docs, 0.5, 8), s"$base/layout", 0.5, 8)
    val want = spark.read.format("graft.sources.BandsSource")
      .option("path", s"$base/layout").load().count()
    assert(want > 0L)
    withOneShotFold {
      throw new java.io.IOException(
        s"Invalid directory or I/O error occurred for dir: " +
          s"$base/layout/bucket=4")
    } {
      val got = spark.read.format("graft.sources.BandsSource")
        .option("path", s"$base/layout").load().count()
      assert(got == want,
        s"raw-local IOException shape not retried: $got vs $want")
    }
  }

  test("the TOCTOU retry holds on the CELLS lane") {
    val base = "/tmp/graft_toctou_cells"
    clean(base, Seq("layout"))
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents = IvfIndex.learnCentroids(emb, 8, 1)
    IvfIndex.writeCellLayout(
      IvfIndex.assignCells(emb.filter($"vec_id" % 2 === 0), cents),
      s"$base/layout", 8, cents.head.length)
    assert(IvfIndex.appendCellsIdempotent(
      IvfIndex.assignCells(emb.filter($"vec_id" % 2 === 1), cents),
      s"$base/layout", 1L))
    val want = spark.read.format("graft.sources.CellsSource")
      .option("path", s"$base/layout").load().count()
    withOneShotFold {
      assert(IvfIndex.compact(spark, s"$base/layout"))
    } {
      val got = spark.read.format("graft.sources.CellsSource")
        .option("path", s"$base/layout").load().count()
      assert(got == want, s"fold-tolerant retry lost rows: $got vs $want")
    }
    assert(TxBatch.compactedBaseDir(spark, s"$base/layout").isDefined)
  }

  test("the TOCTOU retry holds on the POSTINGS lane") {
    val base = "/tmp/graft_toctou_postings"
    clean(base, Seq("layout", "layout.stats"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    val half = docs.filter($"doc_id" % 2 === 0)
    val dl = half.select(size(split($"text", " ")).cast("long").as("dl"))
    InvertedIndex.writeTermLayout(
      InvertedIndex.buildPostings(half, 8),
      dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl")),
      s"$base/layout")
    assert(InvertedIndex.appendPostingsIdempotent(
      docs.filter($"doc_id" % 2 === 1), s"$base/layout", 8, 1L))
    val want = spark.read.format("graft.sources.PostingsSource")
      .option("path", s"$base/layout").option("nBuckets", "8")
      .load().count()
    withOneShotFold {
      assert(InvertedIndex.compact(spark, s"$base/layout"))
    } {
      val got = spark.read.format("graft.sources.PostingsSource")
        .option("path", s"$base/layout").option("nBuckets", "8")
        .load().count()
      assert(got == want, s"fold-tolerant retry lost rows: $got vs $want")
    }
    assert(TxBatch.compactedBaseDir(spark, s"$base/layout").isDefined)
  }

  test("a mid-listing fold under a roots allowlist that did NOT cover " +
      "the folded batch surfaces the TRANSLATION refusal (the " +
      "documented recovery), never the raw FileNotFoundException — " +
      "and never a silently emptied corpus") {
    val base = "/tmp/graft_toctou_refuse"
    clean(base, Seq("layout"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    BandIndex.writeBandLayout(
      BandIndex.buildBands(docs.filter($"doc_id" % 2 === 0), 0.5, 8),
      s"$base/layout", 0.5, 8)
    assert(BandIndex.appendBandsIdempotent(
      docs.filter($"doc_id" % 2 === 1), s"$base/layout", 0.5, 8, 1L))
    // allowlist = the base only: this consumer never saw batch 1, so
    // a fold of batch 1 into the base makes its corpus bound
    // untranslatable — the RETRY after the TOCTOU FNF must surface
    // exactly that refusal (pre-fix it returned an EMPTY listing:
    // the gen-0 root lists fine with its bucket dirs swept)
    val e = intercept[Exception] {
      withOneShotFold {
        assert(TxBatch.compact(spark, s"$base/layout"))
      } {
        spark.read.format("graft.sources.BandsSource")
          .option("path", s"$base/layout")
          .option("roots", ".").load().count()
      }
    }
    assert(chain(e).exists(m => m.contains("never processed") ||
      m.contains("cannot translate")), chain(e).mkString("\n"))
    assert(!chain(e).exists(_.contains("FileNotFoundException")),
      chain(e).mkString("\n"))
  }

  test("a replayed trigger whose START and END offsets BOTH predate " +
      "a fold refuses on the verified fast path with the documented " +
      "recovery (pre-fix: equally-stale names passed the subset " +
      "check and the read died with a raw FileNotFoundException)") {
    val base = "/tmp/graft_staleboth"
    clean(base, Seq("layout"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 120)
    BandIndex.writeBandLayout(
      BandIndex.buildBands(docs.filter($"doc_id" % 2 === 0), 0.5, 8),
      s"$base/layout", 0.5, 8)
    val root = new org.apache.hadoop.fs.Path(s"$base/layout")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Set[String] = {
      val (b, live) = TxBatch.layoutUnitsFs(fs, root)
      (b +: live).flatMap(u => fs.listStatus(u).toSeq
        .filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath).toSeq)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)).toSet
    }
    val seen = listing() // the committed start offset: base files
    assert(BandIndex.appendBandsIdempotent(
      docs.filter($"doc_id" % 2 === 1), s"$base/layout", 0.5, 8, 1L))
    val now = listing() // the logged end offset: base + batch 1
    assert((now -- seen).nonEmpty)
    // the fold interrupts before the trigger commits; the restart
    // replays (seen, now) verbatim from the offsets log
    assert(TxBatch.compact(spark, s"$base/layout"))
    val e = intercept[IllegalStateException] {
      TxBatch.translateOffsetFiles(fs, root, seen, now, "soak replay")
    }
    assert(e.getMessage.contains("cannot translate") &&
      e.getMessage.contains("FRESH checkpoint"), e.getMessage)
    // a caught-up replay (now == seen) stays a free no-op
    assert(TxBatch.translateOffsetFiles(fs, root, Set.empty[String],
      Set.empty[String], "soak empty") == Set.empty[String])
  }

  test("20-repetition load soak of the r15 failing pattern: a live " +
      "BANDS consumer polls while each rep appends, catches up, and " +
      "folds externally — never a crash, and the final pairs equal " +
      "the never-compacted twin's") {
    val base = "/tmp/graft_soak_bands"
    clean(base, Seq("layout", "layout_twin", "pairs", "pairs_twin",
      "ckpt", "ckpt_twin"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 260)
    val corpus = docs.filter($"doc_id" % 8 === 0)
    // 20 append slices with batch-unique doc ids (the pairs sink is
    // append-forever: a doc id recurring across batches would publish
    // its corpus pairs once per recurrence in BOTH lanes and trip the
    // no-dup pin on layout semantics, not on the fold); near-dup mass
    // comes from re-keyed corpus docs
    def slice(i: Int) = docs.filter($"doc_id" % 24 === (i % 12) + 1)
      .select(($"doc_id" + 1000000L + 100000L * i).as("doc_id"), $"text")
      .unionAll(corpus.filter($"doc_id" % 40 === (i * 8) % 40)
        .select(($"doc_id" + 50000000L + 100000L * i).as("doc_id"),
          $"text"))
    for (lay <- Seq("layout", "layout_twin"))
      BandIndex.writeBandLayout(
        BandIndex.buildBands(corpus, 0.5, 8), s"$base/$lay", 0.5, 8)
    val reps = 20
    // the exact verify reads text BY ID for batch and corpus sides
    // alike — the at-rest text table must cover the re-keyed ids too
    val texts = (1 to reps).map(slice)
      .foldLeft(docs)(_ unionAll _)
    var restarts = 0
    def run(lay: String, pairs: String, ckpt: String,
        fold: Boolean): Unit = {
      def start() = BandStreams.liveNearDup(spark, s"$base/$lay",
        texts, s"$base/$pairs", s"$base/$ckpt")
      var q = start()
      // under this bombardment (a fold per rep) an overlapping
      // trigger's re-planned probe can exhaust its fold-tolerant
      // replans and die with the DOCUMENTED refusal — the contract's
      // loud branch. The documented recovery is a plain restart
      // (offset translation resumes a caught-up consumer), which
      // must land the identical pairs: exercise it instead of
      // failing, and pin that it never happens silently
      def catchUp(): Unit =
        try q.processAllAvailable()
        catch {
          case e: org.apache.spark.sql.streaming
              .StreamingQueryException =>
            assert(chain(e).exists(m =>
              m.contains("external compaction kept sweeping") ||
                m.contains("Recovery")), chain(e).mkString("\n"))
            restarts += 1
            q.stop()
            q = start()
            q.processAllAvailable()
        }
      try {
        catchUp()
        (1 to reps).foreach { i =>
          assert(BandIndex.appendBandsIdempotent(slice(i),
            s"$base/$lay", 0.5, 8, i.toLong))
          catchUp()
          // the caught-up maintenance window — with the poll loop
          // LIVE: exactly the window the r15 independent run caught
          if (fold) TxBatch.compact(spark, s"$base/$lay")
        }
        catchUp()
      } finally q.stop()
    }
    run("layout_twin", "pairs_twin", "ckpt_twin", fold = false)
    run("layout", "pairs", "ckpt", fold = true)
    info(s"consumer restarts: $restarts")
    def pairsOf(p: String) = BandStreams.readPairs(spark, s"$base/$p")
      .select($"batch_doc", $"corpus_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = pairsOf("pairs")
    val want = pairsOf("pairs_twin")
    assert(got.length == got.toSet.size,
      s"duplicate pairs under the soak: ${got.length} vs ${got.toSet.size}")
    assert(got.toSet == want.toSet && want.nonEmpty,
      s"pairs lost or invented across ${reps} folds: got ${got.length}, " +
        s"want ${want.length}")
  }

  test("seeded randomized interleaving soak on the CELLS lane: " +
      "append/trigger/fold/relearn schedules drawn from the keyed-md5 " +
      "house recipe must each end in pairs == the never-compacted " +
      "twin (same append/trigger schedule) or a loud documented " +
      "refusal — never a crash, never a dup, never a lost pair") {
    val K = 8
    val Tau = 0.40
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents0 = IvfIndex.learnCentroids(emb, K, 1)
    val corpus = emb.filter($"vec_id" % 4 === 0)
    def batchRows(i: Int) = emb.filter($"vec_id" % 16 === (i % 8) + 1)
      .unionAll(corpus.filter($"vec_id" % 20 === (i * 4) % 20)
        .select(($"vec_id" + 10000000L * (i + 1)).as("vec_id"), $"v"))
    def opOf(seed: String, step: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"soak:$seed:$step".getBytes("UTF-8"))
      (java.lang.Byte.toUnsignedInt(h(0)) % 8) match {
        case 0 | 1 | 2 => "append"
        case 3 | 4 | 5 => "trigger"
        case 6 => "fold"
        case _ => "relearn"
      }
    }
    val documented = Seq("never processed", "cannot translate",
      "REWRITE", "outside the compaction protocol", "FRESH checkpoint")
    // seed set chosen to pin BOTH contract branches deterministically:
    // r16s45's schedule (append,append,trigger,append,trigger,trigger,
    // fold,fold,trigger) COMPLETES with two caught-up folds → pairs ==
    // twin; r16a ends in the relearn (content REWRITE) refusal; r16b
    // ends in the fold-outran-the-consumer refusal. The hooked rerun
    // of r16s45 layers the post-trigger maintenance hook ON TOP of
    // the schedule's external folds — the combined production mode
    // (hook folds delivered ids in-trigger, external folds race from
    // outside) must satisfy the same invariant.
    for ((seed, hooked) <- Seq(("r16s45", false), ("r16a", false),
        ("r16b", false), ("r16s45", true))) {
      val base =
        s"/tmp/graft_soak_ivf_$seed${if (hooked) "_hooked" else ""}"
      clean(base, Seq("layout", "layout_twin", "pairs", "pairs_twin",
        "ckpt", "ckpt_twin"))
      for (lay <- Seq("layout", "layout_twin"))
        IvfIndex.writeCellLayout(IvfIndex.assignCells(corpus, cents0),
          s"$base/$lay", K, cents0.head.length)
      val schedule = (0 until 9).map(opOf(seed, _))
      // the stream runs only inside trigger ops (start → catch up →
      // stop), so micro-batch bundling of accumulated appends is
      // DETERMINISTIC and the twin can replay it exactly
      def trigger(lay: String, pairs: String,
          ckpt: String): Option[Throwable] = {
        val q = CellStreams.liveSemDedup(spark, s"$base/$lay", Tau,
          s"$base/$pairs", s"$base/$ckpt",
          maintainLayoutEvery =
            if (hooked && lay == "layout") 2 else 0,
          maintainPairsEvery =
            if (hooked && lay == "layout") 2 else 0)
        try { q.processAllAvailable(); None }
        catch { case e: org.apache.spark.sql.streaming
            .StreamingQueryException => Some(e) }
        finally q.stop()
      }
      var mainCents = cents0
      var nextBatch = 1
      var refused: Option[Throwable] = None
      val twinOps = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      schedule.foreach { op =>
        if (refused.isEmpty) op match {
          case "append" =>
            IvfIndex.appendCellsIdempotent(
              IvfIndex.assignCells(batchRows(nextBatch), mainCents),
              s"$base/layout", nextBatch.toLong)
            twinOps += (("append", nextBatch))
            nextBatch += 1
          case "trigger" =>
            refused = trigger("layout", "pairs", "ckpt")
            twinOps += (("trigger", 0))
          case "fold" =>
            TxBatch.compact(spark, s"$base/layout",
              partitionCol = "cell")
            ()
          case "relearn" =>
            mainCents = IvfIndex.relearn(spark, s"$base/layout",
              iters = 1)
        }
      }
      if (refused.isEmpty) {
        refused = trigger("layout", "pairs", "ckpt") // final catch-up
        if (refused.isEmpty) twinOps += (("trigger", 0))
      }
      // twin replay: the SAME appends bundled into the SAME triggers,
      // never folded, never relearned
      twinOps.foreach {
        case ("append", i) =>
          IvfIndex.appendCellsIdempotent(
            IvfIndex.assignCells(batchRows(i), cents0),
            s"$base/layout_twin", i.toLong)
          ()
        case _ =>
          assert(trigger("layout_twin", "pairs_twin", "ckpt_twin")
            .isEmpty, "the never-compacted twin must never refuse")
      }
      def pairsOf(p: String) = CellStreams.readPairs(spark, s"$base/$p")
        .select($"batch_vec", $"corpus_vec")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val got = pairsOf("pairs")
      val want = pairsOf("pairs_twin")
      assert(got.length == got.toSet.size,
        s"seed $seed: duplicate pairs: ${got.length} vs ${got.toSet.size}")
      refused match {
        case None =>
          assert(got.toSet == want.toSet,
            s"seed $seed (${schedule.mkString(",")}): pairs diverged " +
              s"from the twin: got ${got.length}, want ${want.length}")
        case Some(e) =>
          assert(chain(e).exists(m =>
            documented.exists(m.contains)),
            s"seed $seed: refusal was not the documented recovery:\n" +
              chain(e).mkString("\n"))
          assert(!chain(e).exists(_.contains("FileNotFoundException")),
            s"seed $seed: raw FNF leaked:\n" + chain(e).mkString("\n"))
          assert(got.toSet.subsetOf(want.toSet),
            s"seed $seed: refused run invented pairs the twin never " +
              s"published: ${got.length} vs ${want.length}")
      }
    }
  }
}
