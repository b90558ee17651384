package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Manifest-commit protocol for batch-maintained layouts — the atomic
  * publish that closes the crash window every marker-after-append
  * sink shares (commit the data, crash, never write the marker → the
  * retry re-appends a half-visible batch).
  *
  * Protocol: the batch's data (bucket-partitioned parquet) and any
  * side relations (stats) are staged under ONE hidden unique
  * directory `_staging-<id>-<uuid>`; publishing is a single atomic
  * `rename(staging, _batch-<id>)`. The committed directory is
  * simultaneously the data and the idempotence marker:
  *
  *  - crash before the rename → nothing visible anywhere (underscore
  *    paths are hidden from parquet listings); the retry restages
  *    under a fresh uuid and publishes — exactly-once;
  *  - crash after the rename → the retry sees `_batch-<id>` and is a
  *    no-op — exactly-once;
  *  - there is NO intermediate state: a reader either sees the whole
  *    batch (directory present) or none of it.
  *
  * Concurrent publishers of the same batch id race on the rename; the
  * loser (rename refused, or rename landed NESTED inside the winner's
  * directory — Hadoop rename-into-existing-dir semantics, the
  * [[ArtifactStore]] sweep) deletes its staging and reports
  * not-applied. Stale stagings of a settled id are swept.
  *
  * Read surface: committed batches are `_batch-<id>` directories,
  * hidden from plain `spark.read.parquet(root)` BY DESIGN — layout
  * owners expose a reader that unions the base with
  * [[liveBatchDirs]] (InvertedIndex.readLayout, BandIndex.readLayout)
  * and the DSv2 connectors list them inside the scan.
  *
  * Maintenance: [[compact]] folds the base and every committed batch
  * into ONE new base generation (`_base-<gen>`), published by a single
  * atomic rename. The new base carries the folded batch-id set
  * (`_applied.json`, staged inside it so it rides the same rename), so
  * a replayed micro-batch of a pre-compaction id stays a no-op after
  * its `_batch-<id>` directory is swept. Readers resolve the effective
  * base as the HIGHEST `_base-<gen>` present (falling back to the
  * legacy root itself), so at every instant — before the rename, after
  * it but before cleanup, after cleanup — they see exactly one
  * complete layout.
  *
  * Live tailing STREAM consumers survive a compaction through OFFSET
  * TRANSLATION: compaction rewrites file identity, so a micro-batch
  * stream's committed offset (a file set) names units that no longer
  * exist. Each generation records WHICH batch ids it folded
  * (`_folded.json`, cumulative, riding the same atomic rename), and
  * the connectors translate a stale offset through it
  * ([[translateUnits]]): if the consumer had processed every folded
  * batch — the quiescent-instant maintenance window — the old base
  * plus those batches ARE the new base, so its files mark as
  * delivered and nothing re-delivers; otherwise translation REFUSES
  * loudly with a documented recovery (a half-processed fold is
  * inseparable at file granularity — silently translating would lose
  * rows, silently re-reading would duplicate them). Content REWRITES
  * ([[graft.operators.IvfIndex.relearn]]) mark their generation and
  * always refuse translation.
  *
  * Connector PLANNING is fold-tolerant
  * ([[graft.sources.LayoutSource.foldTolerant]]): a fold sweeping a
  * commit unit between a scan's root listing and its per-unit listing
  * retries against a fresh listing (surfacing the translation refusal
  * where one applies) instead of crashing on the TOCTOU. The residual
  * window is an in-flight EXECUTION racing the fold's cleanup —
  * already-planned file handles can still fail; the re-planned retry
  * succeeds or refuses per the translation rules. In-trigger
  * maintenance ([[graft.streaming.StreamMaintenance]]) avoids even
  * that window for the stream's own query.
  */
object TxBatch {

  /** Name of the staged stats subdirectory inside a batch directory
    * (underscore-hidden from the batch dir's own parquet listing;
    * read explicitly by the layout's stats reader). */
  val StatsDir = "_stats"

  /** Name of the folded-batch-id manifest inside a `_base-<gen>`
    * directory (one line of compact JSON — a sorted array of ids). */
  val AppliedFile = "_applied.json"

  /** Name of the fold-history manifest inside a `_base-<gen>`
    * directory: `{"history": {"<gen>": [ids folded AT that
    * generation]}, "rewrites": [gens whose fold REWROTE content]}`.
    * Cumulative (each compaction carries the full map forward), so
    * the CURRENT base can answer "which batches did generation g
    * fold" for every g — the input of [[translateUnits]], which is
    * what lets a live tailing consumer survive a compaction instead
    * of re-delivering the world. */
  val FoldedFile = "_folded.json"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Committed transactional batch directories under `root`, sorted —
    * ALL of them, folded or not (the publish no-op check needs every
    * marker; readers want [[liveBatchDirs]]). Legacy marker FILES
    * `_batch-<id>` (the pre-manifest protocol) are not directories
    * and are excluded — their data already lives in the root bucket
    * directories. */
  def committedDirs(s: SparkSession, root: String): Seq[String] = {
    val r = new Path(root)
    val fs = fsOf(s, r)
    if (!fs.exists(r)) Seq.empty
    else committedDirsFs(fs, r).map(_.toString)
  }

  private[graft] def committedDirsFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Path] =
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_batch-"))
      .map(_.getPath).sortBy(_.getName)

  /** Highest base generation present under `root`: 0 = the legacy
    * root-as-base shape (no compaction has run). */
  private[graft] def baseGenFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Long =
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_base-"))
      .map(_.getPath.getName.stripPrefix("_base-").toLong)
      .foldLeft(0L)(math.max)

  /** The effective base directory: `_base-<maxGen>` once a compaction
    * has published one, else the layout root itself (partition dirs at
    * top level — the original shape). */
  private[graft] def baseDirFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Path = {
    val gen = baseGenFs(fs, root)
    if (gen == 0L) root else new Path(root, s"_base-$gen")
  }

  def baseDir(s: SparkSession, root: String): String =
    baseDirFs(fsOf(s, new Path(root)), new Path(root)).toString

  /** The compacted base directory if a compaction has published one,
    * None at gen 0 — the Path-safe way to ask "is the base distinct
    * from the root". Comparing [[baseDir]]'s normalized string against
    * the caller's RAW path breaks on a trailing slash or a
    * scheme-qualified spelling (`file:/...`): the gen-0 layout then
    * takes the compacted branch and reads a nonexistent `_stats`. */
  def compactedBaseDir(s: SparkSession, root: String): Option[String] = {
    val r = new Path(root)
    val fs = fsOf(s, r)
    val gen = baseGenFs(fs, r)
    if (gen == 0L) None else Some(new Path(r, s"_base-$gen").toString)
  }

  /** Batch ids already folded into the effective base (empty for the
    * legacy shape). */
  private[graft] def appliedIdsFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Set[Long] = {
    val base = baseDirFs(fs, root)
    if (base == root) return Set.empty
    val f = new Path(base, AppliedFile)
    if (!fs.exists(f)) return Set.empty
    val in = fs.open(f)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    mapper.readValue(text.trim, classOf[Array[Long]]).toSet
  }

  def appliedIds(s: SparkSession, root: String): Set[Long] =
    appliedIdsFs(fsOf(s, new Path(root)), new Path(root))

  private def idOf(dir: Path): Long =
    dir.getName.stripPrefix("_batch-").toLong

  /** Committed batch directories NOT yet folded into the base — what
    * readers union with [[baseDir]]. */
  private[graft] def liveBatchDirsFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Path] = {
    if (!fs.exists(root)) return Seq.empty
    val applied = appliedIdsFs(fs, root)
    committedDirsFs(fs, root).filterNot(d => applied.contains(idOf(d)))
  }

  def liveBatchDirs(s: SparkSession, root: String): Seq[String] =
    liveBatchDirsFs(fsOf(s, new Path(root)), new Path(root)).map(_.toString)

  /** `(effective base, live batch dirs)` from ONE directory listing —
    * the scan-time face ([[baseDirFs]]/[[liveBatchDirsFs]] each list
    * independently; a connector's `files` runs per scan, so the
    * listing count is on the probe's critical path). */
  private[graft] def layoutUnitsFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): (Path, Seq[Path]) = {
    if (!fs.exists(root)) return (root, Seq.empty)
    val dirs = fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath)
    val bases = dirs.filter(_.getName.startsWith("_base-"))
    val base =
      if (bases.isEmpty) root
      else bases.maxBy(_.getName.stripPrefix("_base-").toLong)
    val applied: Set[Long] =
      if (base == root) Set.empty
      else {
        val f = new Path(base, AppliedFile)
        if (!fs.exists(f)) Set.empty
        else {
          val in = fs.open(f)
          val text =
            try new String(org.apache.commons.io.IOUtils.toByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          mapper.readValue(text.trim, classOf[Array[Long]]).toSet
        }
      }
    val live = dirs.filter(_.getName.startsWith("_batch-"))
      .sortBy(_.getName).filterNot(d => applied.contains(idOf(d)))
    (base, live)
  }

  /** The cumulative fold history of the CURRENT base generation:
    * `(gen → ids folded at that gen, generations that were content
    * REWRITES)`. Empty for gen-0 layouts and for bases compacted
    * before fold histories were recorded. */
  private[graft] def foldHistoryFs(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): (Map[Long, Set[Long]], Set[Long]) = {
    val base = baseDirFs(fs, root)
    if (base == root) return (Map.empty, Set.empty)
    val f = new Path(base, FoldedFile)
    if (!fs.exists(f)) return (Map.empty, Set.empty)
    val in = fs.open(f)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val node = mapper.readTree(text.trim)
    val hist = Map.newBuilder[Long, Set[Long]]
    val h = node.get("history")
    if (h != null) {
      val it = h.fieldNames()
      while (it.hasNext) {
        val g = it.next()
        val ids = Set.newBuilder[Long]
        h.get(g).elements().forEachRemaining(e => ids += e.asLong())
        hist += g.toLong -> ids.result()
      }
    }
    val rewrites = Set.newBuilder[Long]
    val rw = node.get("rewrites")
    if (rw != null) rw.elements().forEachRemaining(e =>
      rewrites += e.asLong())
    (hist.result(), rewrites.result())
  }

  /** A file's commit-unit name under the layout shape
    * `<root>[/<unit>]/<key>=<v>/<file>`: the grandparent's name when
    * it is a `_batch-`/`_base-` unit, else the base root `.`. */
  private[graft] def unitNameOfFile(f: String): String = {
    val parent = new Path(f).getParent
    val unit = if (parent == null) null else parent.getParent
    if (unit != null && (unit.getName.startsWith("_batch-") ||
        unit.getName.startsWith("_base-"))) unit.getName
    else "."
  }

  /** Translate a set of commit-unit names captured BEFORE one or more
    * compactions into the CURRENT layout's units — what lets a live
    * tailing consumer (its checkpoint offsets name pre-compaction
    * units) keep running across a compaction with no row re-delivered
    * and none lost:
    *
    *  - units still active pass through unchanged;
    *  - the captured base plus every folded batch the consumer HAD
    *    already processed collapse to the current base (their content
    *    is the new base, exactly — the compaction invariant);
    *  - anything else is REFUSED loudly with a documented recovery,
    *    because translating would silently lose or duplicate rows:
    *    a folded batch the consumer never processed (its rows are
    *    inside the new base, inseparable at file granularity), a
    *    generation that was a content REWRITE (relearn — delivered
    *    rows are not a subset of the new content), a generation with
    *    no recorded history, or units deleted outside the protocol.
    *
    * `translateUnitsPre` takes the caller's already-listed
    * `(base, live)` so scan paths pay no second listing. */
  private[graft] def translateUnits(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, seen: Set[String], context: String): Set[String] = {
    val (base, live) = layoutUnitsFs(fs, root)
    translateUnitsPre(fs, root, base, live, seen, context)
  }

  private[graft] def translateUnitsPre(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, base: Path,
      live: Seq[Path], seen: Set[String], context: String)
      : Set[String] = {
    val baseName = if (base == root) "." else base.getName
    val liveNames = live.map(_.getName).toSet
    val active = liveNames + baseName
    if (seen.subsetOf(active)) return seen // nothing died — fast path
    val curGen =
      if (base == root) 0L
      else base.getName.stripPrefix("_base-").toLong
    val seenGen = seen.collect {
      case BaseRootName => 0L
      case n if n.startsWith("_base-") =>
        n.stripPrefix("_base-").toLong
    }.foldLeft(0L)(math.max)
    val seenIds = seen.collect {
      case n if n.startsWith("_batch-") =>
        n.stripPrefix("_batch-").toLong
    }
    def fail(why: String): Nothing = throw new IllegalStateException(
      s"$context: cannot translate pre-compaction commit units " +
        s"${seen.toSeq.sorted.mkString("{", ",", "}")} to the " +
        s"current layout at $root (base $baseName): $why. Recovery: " +
        "stop the consumer and reprocess the layout once from " +
        "scratch under a FRESH checkpoint (idempotent TxBatch sinks " +
        "dedup replayed work), or restore the pre-compaction layout " +
        "from backup and resume the old checkpoint against it.")
    if (curGen < seenGen)
      fail(s"the captured base generation $seenGen is NEWER than " +
        s"the layout's $curGen — the layout was replaced or restored")
    if (curGen == seenGen)
      fail("the captured generation matches the layout but " +
        (seen -- active).toSeq.sorted.mkString(", ") +
        " no longer exist — deleted outside the compaction protocol")
    val (hist, rewrites) = foldHistoryFs(fs, root)
    val gens = (seenGen + 1L) to curGen
    gens.find(rewrites.contains).foreach(g =>
      fail(s"generation $g was a content REWRITE (relearn), not a " +
        "compaction — the rows this consumer delivered are not a " +
        "subset of the new base"))
    val missingHist = gens.filterNot(hist.contains)
    if (missingHist.nonEmpty)
      fail(s"no fold history for generation(s) " +
        s"${missingHist.mkString(", ")} (compacted before fold " +
        "histories were recorded)")
    val folded = gens.flatMap(g => hist(g)).toSet
    val undelivered = folded -- seenIds
    if (undelivered.nonEmpty)
      fail(s"batch id(s) ${undelivered.toSeq.sorted.mkString(", ")} " +
        "were folded into the base but this consumer never processed " +
        "them — their rows are inside the new base, inseparable at " +
        "file granularity")
    val deadBases = seen.filter(n =>
      n == BaseRootName || n.startsWith("_base-")) - baseName
    val accounted = active ++ deadBases ++
      folded.map(id => s"_batch-$id")
    val unknown = seen -- accounted
    if (unknown.nonEmpty)
      fail(s"unit(s) ${unknown.toSeq.sorted.mkString(", ")} no " +
        "longer exist and appear in no generation's fold history — " +
        "deleted outside the compaction protocol")
    Set(baseName) ++ (seen intersect liveNames)
  }

  private val BaseRootName = "."

  /** Translate a pre-compaction offset FILE set into the current
    * layout: files of still-active units pass through; files of the
    * old base and of folded-and-processed batches are replaced by the
    * current base's files from `now` (the caller's fresh listing, so
    * the caller's own pruning applies consistently). Same refusal
    * rules as [[translateUnits]].
    *
    * The fast path (every seen unit also appears in `now`) must NOT
    * blindly trust `now`: when BOTH offsets predate a compaction —
    * a restart replaying an offset-log entry whose trigger a fold
    * interrupted — the subset check passes on two equally-stale unit
    * sets and the read would die downstream with a raw
    * FileNotFoundException that wedges every retry. So whenever the
    * fast path would actually DELIVER files (`now -- seen` nonempty),
    * their units are verified against one fresh listing and a swept
    * unit refuses loudly with the documented recovery instead — the
    * undelivered rows are inside the new base, inseparable at file
    * granularity. A caught-up replay (`now == seen`) stays free of
    * filesystem calls. */
  private[graft] def translateOffsetFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      seen: Set[String], now: Set[String], context: String)
      : Set[String] = {
    if (seen.isEmpty && now.isEmpty) return seen
    val toDeliver = now -- seen
    val seenUnits = seen.map(unitNameOfFile)
    // append-only invariant: a delivered file still exists unless a
    // compaction swept its unit, so every live seen-unit also appears
    // in the fresh listing — subset means nothing of SEEN died
    if (seenUnits.subsetOf(now.map(unitNameOfFile))) {
      if (toDeliver.isEmpty) return seen
      val (base, live) = layoutUnitsFs(fs, root)
      val baseName = if (base == root) BaseRootName else base.getName
      val active = live.map(_.getName).toSet + baseName
      val missing = toDeliver.map(unitNameOfFile) -- active
      if (missing.isEmpty) return seen
      throw new IllegalStateException(
        s"$context: cannot translate the trigger's end offset — it " +
          s"names commit unit(s) " +
          s"${missing.toSeq.sorted.mkString("{", ",", "}")} that a " +
          s"compaction already folded into the base at $root. Both " +
          "offsets predate the fold (a restart replaying a logged " +
          "trigger the fold interrupted), and the undelivered rows " +
          "are inseparable from the new base at file granularity. " +
          "Recovery: stop the consumer and reprocess the layout once " +
          "from scratch under a FRESH checkpoint (idempotent TxBatch " +
          "sinks dedup replayed work), or restore the pre-compaction " +
          "layout from backup and resume the old checkpoint against " +
          "it.")
    }
    val units = translateUnits(fs, root, seenUnits, context)
    now.filter(f => units.contains(unitNameOfFile(f)))
  }

  /** Stage `data` (+ optional one-row `stats`) for `batchId` under
    * `root` and publish atomically. Returns whether THIS call applied
    * the batch (false = already committed, or lost the publish race).
    *
    * `partitionCol` is the layout's partition key — `bucket` for the
    * term/band layouts, `cell` for the IVF cell layout; the protocol
    * is key-agnostic (the staging/rename dance never looks inside).
    *
    * `crashBeforePublish` is the spec failpoint: staging completes,
    * then the "driver dies" (throws) before the rename — the injected
    * crash the protocol must survive. */
  private[graft] def publish(s: SparkSession, root: String, batchId: Long,
      data: DataFrame, stats: Option[DataFrame],
      crashBeforePublish: Boolean = false,
      partitionCol: String = "bucket"): Boolean = {
    val committed = new Path(root, s"_batch-$batchId")
    val fs = fsOf(s, committed)
    def sweepStaleStagings(exceptName: String): Unit = {
      val r = new Path(root)
      if (fs.exists(r)) fs.listStatus(r).toSeq
        .filter(st => st.getPath.getName.startsWith(s"_staging-$batchId-") &&
          st.getPath.getName != exceptName)
        .foreach(st => fs.delete(st.getPath, true))
      // a race loser that crashed AFTER its rename nested its staging
      // inside the winner's committed directory but BEFORE the nested
      // delete leaves garbage no root-level scan sees (invisible to
      // readers — underscore paths — but persisted forever): sweep
      // _staging-* children of the committed directory too
      if (fs.exists(committed)) fs.listStatus(committed).toSeq
        .filter(_.getPath.getName.startsWith("_staging-"))
        .foreach(st => fs.delete(st.getPath, true))
    }
    // a batch is already applied if its directory is present OR a
    // compaction folded it into the current base — either way the
    // retry is a no-op (exactly-once across compactions)
    if (fs.exists(committed) ||
        appliedIdsFs(fs, new Path(root)).contains(batchId)) {
      sweepStaleStagings(exceptName = "")
      return false
    }
    val staging = new Path(root, s"_staging-$batchId-" +
      java.util.UUID.randomUUID().toString.take(8))
    data.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(staging.toString)
    stats.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(new Path(staging, StatsDir).toString))
    if (crashBeforePublish)
      throw new RuntimeException(
        s"injected crash before publish of batch $batchId (test failpoint)")
    val won = !fs.exists(committed) && fs.rename(staging, committed)
    if (!won) {
      fs.delete(staging, true)
      sweepStaleStagings(exceptName = "")
      return false
    }
    // check-then-act residue: a concurrent publisher landing between
    // the exists check and our rename makes the rename succeed by
    // nesting our staging INSIDE the winner's directory — sweep it
    // and report not-applied (the winner's batch is the batch).
    val nested = new Path(committed, staging.getName)
    val lostNested = fs.exists(nested)
    if (lostNested) fs.delete(nested, true)
    sweepStaleStagings(exceptName = "")
    !lostNested
  }

  /** Publish an ALREADY-STAGED batch directory under the manifest
    * protocol: one atomic `rename(staged, _batch-<id>)`, the same
    * no-op rules as [[publish]] (directory present, folded into the
    * base by a compaction, or the rename race lost — each deletes the
    * staging and reports not-applied). The native STREAMING_WRITE
    * lane stages task files per epoch and commits through here, so
    * epoch id ≡ TxBatch batch id. */
  private[graft] def publishStagedDir(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, batchId: Long,
      staged: Path): Boolean = {
    val committed = new Path(root, s"_batch-$batchId")
    if (fs.exists(committed) ||
        appliedIdsFs(fs, root).contains(batchId)) {
      fs.delete(staged, true)
      return false
    }
    val won = !fs.exists(committed) && fs.rename(staged, committed)
    if (!won) { fs.delete(staged, true); return false }
    val nested = new Path(committed, staged.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); return false }
    true
  }

  /** Name of the layout MAINTENANCE lease directory — the writer
    * lease [[compact]] folds under, so two concurrent maintainers of
    * one layout SERIALIZE instead of racing (each was individually
    * safe — the base rename admits one winner — but the loser paid a
    * full staged fold to learn it, and its listing could be torn by
    * the winner's cleanup). Distinct from the DP ledger's `_lease`
    * ([[graft.operators.Privacy.LeaseFile]]) so a ledger record and a
    * ledger fold never deadlock one another. */
  val MaintenanceLease = "_maintenance-lease"

  /** Name of the pairs-sink EPOCH marker (`_epoch.json`, a single
    * JSON long at the sink root): the id offset a live consumer adds
    * to its trigger ids when publishing. Why it exists: a FRESH
    * checkpoint restarts trigger ids at 0, and the TxBatch
    * idempotence that makes retries safe makes a COLLIDING id a
    * silent no-op — a recovered consumer's first real trigger would
    * "publish" into the old run's settled `_batch-1` and its pairs
    * would be LOST, not deduped. [[graft.streaming.StreamRecovery
    * .reprocessFresh]] advances the epoch past every settled id
    * before restarting, so recovered runs publish into fresh ids and
    * the idempotence protects retries only — its actual contract. */
  val EpochFile = "_epoch.json"

  /** Name of the layout POLICY stamp (`_policy.json` at the layout
    * ROOT — deliberately outside the `_base-<gen>` directories, so a
    * fold never moves it and [[setPolicy]] works on a LIVE layout
    * without a base rename): a flat string→string JSON object of
    * `graft.maintain.*` keys the per-trigger maintenance hooks read
    * ([[graft.streaming.StreamMaintenance.postTrigger]],
    * [[IvfIndex.appendCellsMaintained]]), so an operator tunes a
    * RUNNING consumer's fold cadence with one stamp write and no
    * restart. Surfaced through `Table.properties()` (DESCRIBE
    * EXTENDED) and settable through `ALTER TABLE … SET
    * TBLPROPERTIES` on the graft catalog. */
  val PolicyFile = "_policy.json"

  /** The three maintenance-policy keys. `layout_every` /
    * `pairs_every`: fold the source layout / the pairs sink when its
    * live batch count reaches N (0 disables); `drift_ratio`: the
    * [[IvfIndex.maintain]] relearn trip point. */
  val PolicyLayoutEvery = "graft.maintain.layout_every"
  val PolicyPairsEvery = "graft.maintain.pairs_every"
  val PolicyDriftRatio = "graft.maintain.drift_ratio"

  /** The sink's current epoch (0 when none has been stamped). */
  def readEpoch(s: SparkSession, root: String): Long = {
    val f = new Path(root, EpochFile)
    val fs = fsOf(s, f)
    if (!fs.exists(f)) return 0L
    val in = fs.open(f)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    mapper.readValue(text.trim, classOf[Long])
  }

  /** Stamp the sink's epoch. Monotonic by contract: callers pass
    * max(current, new) — [[graft.streaming.StreamRecovery]] is the
    * one writer. Staged + renamed so a concurrent reader never sees
    * a torn file (a missing file reads as 0, which is only ever
    * wrong DURING a recovery, when no consumer is running). */
  private[graft] def setEpoch(s: SparkSession, root: String,
      epoch: Long): Unit =
    writeSmallFile(s, root, EpochFile, epoch.toString)

  /** The layout's stamped maintenance policy (empty when none). */
  def readPolicy(s: SparkSession, root: String): Map[String, String] = {
    val f = new Path(root, PolicyFile)
    val fs = fsOf(s, f)
    if (!fs.exists(f)) return Map.empty
    val in = fs.open(f)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val node = mapper.readTree(text.trim)
    val b = Map.newBuilder[String, String]
    val it = node.fieldNames()
    while (it.hasNext) {
      val k = it.next(); b += k -> node.get(k).asText()
    }
    b.result()
  }

  /** Stamp (replace) the layout's maintenance policy. Only
    * `graft.maintain.*` keys are accepted — the policy stamp is the
    * operational tuning surface, not a general metadata store (the
    * geometry stamp is `_graft_meta.json` and is the WRITER's
    * contract, never settable here). An empty map clears the stamp
    * (consumers fall back to their start-time defaults). */
  def setPolicy(s: SparkSession, root: String,
      policy: Map[String, String]): Unit = {
    val bad = policy.keys.filterNot(_.startsWith("graft.maintain."))
    require(bad.isEmpty,
      s"setPolicy accepts only graft.maintain.* keys, got " +
        bad.toSeq.sorted.mkString(", "))
    val f = new Path(root, PolicyFile)
    val fs = fsOf(s, f)
    if (policy.isEmpty) { fs.delete(f, false); return }
    val node = mapper.createObjectNode()
    policy.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    writeSmallFile(s, root, PolicyFile, node.toString)
  }

  /** Write a small root-level marker through a stage + delete +
    * rename dance: a plain create-overwrite leaves a window where a
    * reader sees a TORN (half-written) file; the dance's only window
    * is file-absent, which every reader treats as "no stamp". */
  private def writeSmallFile(s: SparkSession, root: String,
      name: String, content: String): Unit = {
    val r = new Path(root)
    val fs = fsOf(s, r)
    fs.mkdirs(r)
    val tmp = new Path(r, s"$name.tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(r, name)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) { fs.delete(tmp, true); () }
  }

  /** A HELD writer lease — what [[withLease]] hands its body. The
    * fencing token is the pair (owner uuid, acquisition generation):
    * the generation is read from `<leaseName>.gen` and bumped on
    * every acquisition, so it increases monotonically across holders
    * of one lease path, and the holder's marker file records both.
    * [[checkFenced]] is the guard a holder runs immediately before
    * its critical mutation: a holder whose lease was STALE-BROKEN
    * while it was paused (GC, slow Spark job, clock-skewed node)
    * finds a different owner/generation — or no marker at all — and
    * REFUSES to mutate, instead of landing its write after a thief
    * already did (the cap-overshoot the lease exists to exclude). */
  final class LeaseHandle private[operators] (
      fs: org.apache.hadoop.fs.FileSystem, root: Path,
      leaseName: String, ownerToken: String, val generation: Long) {
    private val marker =
      new Path(new Path(root, leaseName), "owner")
    private def markerContent(): Option[String] = {
      val in =
        try Some(fs.open(marker))
        catch { case _: java.io.FileNotFoundException => None }
      in.map { i =>
        try new String(org.apache.commons.io.IOUtils.toByteArray(i),
          java.nio.charset.StandardCharsets.UTF_8)
        finally i.close()
      }
    }
    private def expected = s"$ownerToken\n$generation"
    /** Does this handle still own the lease? */
    def held: Boolean = markerContent().contains(expected)
    /** Refuse loudly if the lease was broken out from under us. */
    def checkFenced(context: String): Unit =
      if (!held)
        throw new IllegalStateException(
          s"$context: the writer lease (owner $ownerToken, fencing " +
            s"generation $generation) was BROKEN while this holder " +
            "was paused past the staleness horizon — a contender " +
            "holds (or held) a newer generation, and landing this " +
            "mutation now could interleave with theirs. The work " +
            "was NOT applied; retry it under a fresh acquisition.")
    /** Release, but only if we still own it — deleting
      * unconditionally would take a THIEF's lease down with ours and
      * admit a third writer (the r16 ADVICE finding). */
    private[operators] def releaseIfOwned(): Unit =
      if (held) { fs.delete(new Path(root, leaseName), true); () }
  }

  /** Acquire the named writer lease at `root`, run `body` with the
    * fencing handle, release (if still owned). The rename-based
    * mutual exclusion the DP ledger introduced, generalized:
    * acquisition stages a unique non-empty `<leaseName>-tmp-<uuid>/`
    * (a marker file inside) and `rename(tmp, lease)`s it — a rename
    * that lands NESTED inside an existing lease directory is a loss
    * (Hadoop rename-into-existing-dir semantics; a FILE lease would
    * be silently OVERWRITTEN by a POSIX rename, admitting two
    * holders). Exactly one contender's directory becomes the lease.
    *
    * Staleness: a holder that died without releasing is broken after
    * `staleMs`, measured from the holder's own marker-FILE mtime
    * (the lease DIRECTORY's mtime is refreshed by every losing
    * contender's nested rename+delete — reading it would livelock),
    * and the marker is REWRITTEN immediately after acquisition, so
    * the clock starts at acquisition, not at tmp staging time (a
    * contender that fought for the lease no longer loses that time
    * from its staleness budget). Wall clock is infrastructure only —
    * never content; the fencing generation makes a mistaken break of
    * a LIVE holder safe: the broken holder's [[LeaseHandle
    * .checkFenced]] refuses its mutation instead of landing it.
    *
    * Returns None when the lease cannot be acquired within
    * `acquireAttempts` (a LIVE holder is working) — callers choose
    * loud refusal (the ledger) or a no-op (maintenance). */
  private[graft] def tryWithLease[T](s: SparkSession, root: String,
      leaseName: String, staleMs: Long,
      acquireAttempts: Int = 400)(body: LeaseHandle => T)
      : Option[T] = {
    val r = new Path(root)
    val fs = fsOf(s, r)
    fs.mkdirs(r)
    val lease = new Path(r, leaseName)
    val tmpName = s"$leaseName-tmp-" +
      java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(r, tmpName)
    def stageTmp(): Unit = {
      val out = fs.create(new Path(tmp, "owner"), true)
      try out.write(tmpName.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    stageTmp()
    var acquired = false
    var attempts = 0
    var handle: LeaseHandle = null
    try {
      while (!acquired && attempts < acquireAttempts) {
        val renamed = try fs.rename(tmp, lease)
        catch { case _: java.io.IOException => false }
        if (renamed) {
          // rename-into-existing-dir: landing nested means another
          // pipeline holds the lease — withdraw and retry
          val nested = new Path(lease, tmpName)
          if (fs.exists(nested)) { fs.delete(nested, true); () }
          else acquired = true
        }
        if (!acquired) {
          attempts += 1
          if (!fs.exists(tmp)) stageTmp() // consumed by a lost rename
          // staleness reads the holder's OWN marker file, never the
          // lease directory (see the scaladoc)
          val st =
            try Some(fs.getFileStatus(new Path(lease, "owner")))
            catch { case _: java.io.FileNotFoundException => None }
          val stale = st match {
            case Some(h) => System.currentTimeMillis() -
              h.getModificationTime > staleMs
            // lease dir present but marker missing = a half-staged
            // corpse, breakable
            case None => fs.exists(lease)
          }
          if (stale) {
            // the holder died without releasing: break the lease
            // (best-effort — a concurrent breaker racing us is
            // fine, the rename dance still admits exactly one)
            fs.delete(lease, true); ()
          } else Thread.sleep(25L)
        }
      }
      if (!acquired) return None
      // fencing generation: bump the monotone counter, then rewrite
      // the owner marker with (uuid, generation) — which ALSO resets
      // the marker mtime, so staleness is measured from acquisition
      val genFile = new Path(r, s"$leaseName.gen")
      val prevGen =
        if (!fs.exists(genFile)) 0L
        else {
          val in = fs.open(genFile)
          val text =
            try new String(org.apache.commons.io.IOUtils
              .toByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          text.trim.toLong
        }
      val myGen = prevGen + 1L
      val gOut = fs.create(genFile, true)
      try gOut.write(myGen.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally gOut.close()
      val mOut = fs.create(new Path(lease, "owner"), true)
      try mOut.write(s"$tmpName\n$myGen".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally mOut.close()
      handle = new LeaseHandle(fs, r, leaseName, tmpName, myGen)
      Some(body(handle))
    } finally {
      if (acquired) handle.releaseIfOwned()
      else fs.delete(tmp, true)
      ()
    }
  }

  /** [[compact]] behind a fan-in policy — the S31 maintain shape
    * applied to compaction: fold ONLY when the live committed batch
    * count has reached `maxLiveBatches` (each live batch adds one
    * root to every reader's union and one commit unit to every
    * scan's listing; the policy keeps read fan-in bounded under
    * continuous appends without folding on every tick). Below the
    * threshold the layout is untouched. Returns whether a fold ran.
    * Pass `schema` for BASELESS roots (the pairs sinks / the DP
    * ledger) exactly as with [[compact]]. `onlyIds` restricts BOTH
    * the count and the fold to the named batch ids — the post-trigger
    * maintenance hook passes its stream's delivered set, so a batch a
    * concurrent writer commits mid-trigger stays live instead of
    * being folded undelivered (which would wedge the consumer on the
    * translation refusal). */
  def maintainCompact(s: SparkSession, root: String,
      partitionCol: String = "bucket", maxLiveBatches: Int = 16,
      stats: Option[DataFrame] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      onlyIds: Option[Set[Long]] = None): Boolean = {
    require(maxLiveBatches > 0,
      s"maxLiveBatches must be positive, got $maxLiveBatches")
    val eligible = liveBatchDirs(s, root).map(d =>
      new Path(d).getName.stripPrefix("_batch-").toLong)
      .filter(id => onlyIds.forall(_.contains(id)))
    if (eligible.size < maxLiveBatches) false
    else compact(s, root, partitionCol, stats = stats, schema = schema,
      onlyIds = onlyIds)
  }

  /** Fold the effective base and every committed batch into ONE new
    * base generation, published by a single atomic rename — the
    * maintenance op that keeps read fan-in O(1) under continuous
    * appends (each append adds a root to every reader's union; at
    * 100 TB an uncompacted year of hourly appends is 8760 unions).
    *
    * Protocol: stage the merged relation (+ optional merged `stats`)
    * under `_staging-base-<gen+1>-<uuid>` together with
    * `_applied.json` (the previous applied set ∪ the folded batch
    * ids), then `rename(staging, _base-<gen+1>)`. Readers resolve the
    * effective base as the highest `_base-<gen>`, so:
    *
    *  - crash before the rename → old layout intact (staging hidden);
    *  - after the rename, before cleanup → the new base wins and the
    *    folded `_batch-<id>` dirs are excluded via its applied set —
    *    content correct, storage transiently doubled;
    *  - cleanup deletes the folded batch dirs and the previous base
    *    (partition dirs at the root for gen 0, the `_base-<gen>` dir
    *    otherwise) — the layout lands at base shape;
    *  - a replayed pre-compaction batch id is still a no-op: [[publish]]
    *    consults the applied set, not just directory presence.
    *
    * `crashBeforePublish` is the spec failpoint (staging complete,
    * rename never happens). Returns false when there is nothing to
    * fold (no live batches) or the publish race was lost. A live
    * tailing stream consumer survives the fold via offset
    * translation when it has processed every folded batch; otherwise
    * its next trigger refuses loudly (see the object doc).
    * `contentRewrite` marks the generation as NOT content-preserving
    * (relearn) — translation across it always refuses.
    *
    * `transform` rewrites the merged relation before it lands (the
    * IVF relearn lane re-assigns cells against fresh centroids —
    * identity for a plain compaction); `metaJson` stages a new
    * `_graft_meta.json` INSIDE the base generation so geometry swaps
    * under the SAME atomic rename as content; `force` publishes a
    * new generation even with no live batches (a pure rewrite);
    * `schema` enables BASELESS roots (the live-consumer pairs sinks,
    * where every row arrived through a trigger): the base read takes
    * the explicit schema, so an empty gen-0 base — a root holding
    * only `_batch-*` dirs — reads as the empty relation instead of
    * failing inference. `onlyIds` folds ONLY the named live batch
    * ids (others stay live, to be folded later): the post-trigger
    * maintenance hook restricts the fold to batches its stream has
    * already DELIVERED, so a concurrent writer's fresh batch is
    * never folded undelivered out from under the consumer.
    *
    * The whole fold — listing, staging, rename, cleanup — runs under
    * the layout's [[MaintenanceLease]], so CONCURRENT maintainers of
    * one layout (two cron jobs, a cron racing a consumer's
    * post-trigger hook, compact racing relearn) SERIALIZE instead of
    * racing: the loser waits, then re-lists and finds nothing left to
    * fold (returns false) — never a torn listing, never a wasted
    * staged fold. A contender that cannot acquire within ~60 s — a
    * LIVE holder mid-fold — returns false (maintenance is retryable
    * by nature; refusing loudly is the ledger's contract, not this
    * one's). A holder paused past the 10-minute staleness horizon is
    * broken; its eventual publish is fenced by
    * [[LeaseHandle.checkFenced]] before the rename and refused. */
  def compact(s: SparkSession, root: String,
      partitionCol: String = "bucket",
      stats: Option[DataFrame] = None,
      crashBeforePublish: Boolean = false,
      transform: DataFrame => DataFrame = identity,
      metaJson: Option[String] = None,
      force: Boolean = false,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      contentRewrite: Boolean = false,
      onlyIds: Option[Set[Long]] = None)
      : Boolean =
    tryWithLease(s, root, MaintenanceLease, staleMs = 600000L,
      acquireAttempts = 2400) { h =>
      compactLocked(s, root, partitionCol, stats, crashBeforePublish,
        transform, metaJson, force, schema, contentRewrite, onlyIds, h)
    }.getOrElse(false)

  private def compactLocked(s: SparkSession, root: String,
      partitionCol: String, stats: Option[DataFrame],
      crashBeforePublish: Boolean, transform: DataFrame => DataFrame,
      metaJson: Option[String], force: Boolean,
      schema: Option[org.apache.spark.sql.types.StructType],
      contentRewrite: Boolean, onlyIds: Option[Set[Long]],
      lease: LeaseHandle): Boolean = {
    val r = new Path(root)
    val fs = fsOf(s, r)
    // sweep leftovers of a compact that crashed between rename and
    // cleanup: batch dirs already folded into the current base, bases
    // below the current generation, dead stagings — readers never see
    // any of them (the applied set / max-gen rule), they are storage
    val swept = appliedIdsFs(fs, r)
    if (fs.exists(r)) {
      committedDirsFs(fs, r).filter(d => swept.contains(idOf(d)))
        .foreach(d => fs.delete(d, true))
      val gen = baseGenFs(fs, r)
      fs.listStatus(r).toSeq.filter { st =>
        val n = st.getPath.getName
        (st.isDirectory && n.startsWith("_base-") &&
          n.stripPrefix("_base-").toLong < gen) ||
          n.startsWith("_staging-base-")
      }.foreach(st => fs.delete(st.getPath, true))
    }
    val live = liveBatchDirsFs(fs, r)
      .filter(d => onlyIds.forall(_.contains(idOf(d))))
    if (live.isEmpty && !force) return false
    val oldGen = baseGenFs(fs, r)
    val base = baseDirFs(fs, r)
    val newGen = oldGen + 1L
    val newApplied = (appliedIdsFs(fs, r) ++ live.map(idOf))
      .toSeq.sorted
    // one read per root, unioned: partition inference refuses several
    // partitioned roots in one read (conflicting-structures)
    def readRoot(p: String): DataFrame =
      schema.fold(s.read)(s.read.schema(_)).parquet(p)
    val data = transform(
      live.foldLeft(readRoot(base.toString))((acc, b) =>
        acc.unionByName(readRoot(b.toString))))
    val staging = new Path(root, s"_staging-base-$newGen-" +
      java.util.UUID.randomUUID().toString.take(8))
    data.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(staging.toString)
    stats.foreach(_.write.mode(SaveMode.Overwrite)
      .parquet(new Path(staging, StatsDir).toString))
    metaJson.foreach { json =>
      val m = fs.create(new Path(staging, "_graft_meta.json"), true)
      try m.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally m.close()
    }
    val out = fs.create(new Path(staging, AppliedFile), true)
    try out.write(mapper.writeValueAsString(newApplied.toArray)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // the cumulative fold history rides the same atomic rename: the
    // new base records which ids THIS generation folds (plus every
    // prior generation's), and whether the fold rewrote content —
    // the inputs a live consumer's offset translation needs
    val (prevHist, prevRewrites) = foldHistoryFs(fs, r)
    val hist = prevHist + (newGen -> live.map(idOf).toSet)
    val rewrites =
      if (contentRewrite) prevRewrites + newGen else prevRewrites
    val node = mapper.createObjectNode()
    val hNode = node.putObject("history")
    hist.toSeq.sortBy(_._1).foreach { case (g, ids) =>
      val arr = hNode.putArray(g.toString)
      ids.toSeq.sorted.foreach(arr.add)
    }
    val rwNode = node.putArray("rewrites")
    rewrites.toSeq.sorted.foreach(rwNode.add)
    val fOut = fs.create(new Path(staging, FoldedFile), true)
    try fOut.write(node.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally fOut.close()
    if (crashBeforePublish)
      throw new RuntimeException(
        s"injected crash before compaction publish of gen $newGen " +
          "(test failpoint)")
    // fencing: a holder paused past the staleness horizon (a long
    // staging write counts) must not publish after a contender broke
    // its lease and folded — refuse here, before the rename
    lease.checkFenced(s"compaction of $root to generation $newGen")
    val committed = new Path(root, s"_base-$newGen")
    val won = !fs.exists(committed) && fs.rename(staging, committed)
    if (!won) { fs.delete(staging, true); return false }
    val nested = new Path(committed, staging.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); return false }
    // cleanup — non-atomic, but readers are correct at every instant
    // (the new base excludes the folded batches via its applied set);
    // a crash here leaves garbage a later compact() re-sweeps
    live.foreach(d => fs.delete(d, true))
    if (oldGen == 0L)
      fs.listStatus(r).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$partitionCol="))
        .foreach(st => fs.delete(st.getPath, true))
    else
      fs.listStatus(r).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("_base-") &&
          st.getPath.getName.stripPrefix("_base-").toLong < newGen)
        .foreach(st => fs.delete(st.getPath, true))
    // stale compaction stagings of any generation are dead weight
    fs.listStatus(r).toSeq
      .filter(_.getPath.getName.startsWith("_staging-base-"))
      .foreach(st => fs.delete(st.getPath, true))
    true
  }
}
