package perfbench

import graft.Tables
import graft.operators.{BandIndex, InvertedIndex, TxBatch}
import graft.streaming.BandStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import scala.collection.mutable

/** One timed operation; `round` is the round it ran in, -1 for set-up.
  * `read` marks the operations whose latencies make `query_*`. */
final case class OpRec(round: Int, kind: String, name: String, seconds: Double,
    ok: Boolean, read: Boolean)

/** What a workload shares with the round loop: the session, the span
  * recorder, the operation log and the errors. */
final class Ctx(val tracer: Tracer, val seed: Long, val dir: String, val work: String) {
  var spark: SparkSession = null
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Every job launched from this thread until the next call carries
    * group `g`. */
  def group(g: String): Unit = spark.sparkContext.setJobGroup(g, g)

  /** Run and time one operation; a throw is a failed operation. */
  def op[T](round: Int, kind: String, name: String, read: Boolean = false)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val v = body
      ops += OpRec(round, kind, name, (System.nanoTime() - t0) / 1e9, ok = true, read)
      Some(v)
    } catch {
      case e: Throwable =>
        ops += OpRec(round, kind, name, (System.nanoTime() - t0) / 1e9, ok = false, read)
        errors += s"$kind $name (round $round): " +
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        None
    }
  }
}

/** A benchmark workload. `prepare` is the part of set-up that belongs to
  * the workload; `round(ctx, r)` is round `r` of the run (the warm-up
  * rounds come first); `check` validates every output the run produced
  * and returns the problems found. */
trait Workload {
  /** Set-up phases by per-layer metric name, seconds. */
  def prepare(ctx: Ctx): Seq[(String, Double)]
  def round(ctx: Ctx, r: Int): Unit
  /** The fold state a round starts in: live batches per layout. */
  def foldState(ctx: Ctx): Seq[Int] = Nil
  def check(ctx: Ctx): Seq[String]
  /** Workload-specific per-layer metrics over the rounds `rounds`. */
  def layerMetrics(ctx: Ctx, meter: Meter, rounds: Seq[Main.RoundRec]): Map[String, Double]
  /** Threads whose CPU time belongs to the workload besides the client
    * thread and the tasks (name prefixes). */
  def workerThreads: Seq[String] = Nil
  def close(): Unit = ()
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Open each table: list its file and read its schema. */
  def openAll(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { t =>
      (if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)).schema
    }

  def median(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Every physical node of an executed plan, through adaptive
    * execution's final plan and its query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case n => n +: n.children.flatMap(nodes)
  }

  /** Files the scans of an executed query listed: `numFiles` where the
    * scan reports it, else its input partitions. */
  def filesRead(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).filter(_.children.isEmpty).map { leaf =>
      leaf.metrics.get("numFiles").map(_.value).getOrElse(
        leaf match {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputRDD.partitions.length.toLong
          case _ => 0L
        })
    }.sum
}

/** `olap` and `curation`: each round runs a fixed list of
  * `SparkEntry.queries` rows in a seeded order. Each query is one read,
  * timed from the registry call (construction) through planning to
  * `queryExecution.toRdd`, whose every row is hashed into the result's
  * content digest (the work of `toRdd.count()` plus a hash per row). */
final class QueryWorkload(members: Seq[String], expected: Map[String, Check.Expected],
    tables: Seq[String]) extends Workload {
  private val registry = graft.SparkEntry.queries
  require(members.forall(registry.contains),
    s"unknown queries: ${members.filterNot(registry.contains).mkString(", ")}")
  val digests = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Check.Digest]]
  /** Per round: summed analysis / optimization / planning ms. */
  private val phases = mutable.HashMap.empty[(Int, String), Long]

  def prepare(ctx: Ctx): Seq[(String, Double)] = {
    val (_, tablesS) = Workload.time(Workload.openAll(ctx.spark, ctx.dir, tables))
    val (_, s) = Workload.time {
      members.sorted.foreach { q =>
        ctx.group(s"setup/$q/construct")
        ctx.op(-1, "construct", q)(registry(q)(ctx.spark, ctx.dir))
      }
    }
    Seq("graft.tables_s" -> tablesS, "queries.first_construct_s" -> s)
  }

  def round(ctx: Ctx, r: Int): Unit =
    Plan.order(members, ctx.seed, r).zipWithIndex.foreach { case (q, i) =>
      val op = s"r$r.$i.$q"
      ctx.op(r, "query", q, read = true) {
        ctx.tracer.span(q, "op", op) {
          ctx.group(s"$op/construct")
          val df = ctx.tracer.span("construct", "queries", op)(registry(q)(ctx.spark, ctx.dir))
          ctx.group(s"$op/plan")
          ctx.tracer.span("plan", "plans", op)(df.queryExecution.executedPlan)
          ctx.group(s"$op/exec")
          val d = ctx.tracer.span("exec", "exec", op)(Check.digest(df))
          digests.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += d
          if (ctx.tracer.enabled)
            df.queryExecution.tracker.phases.foreach { case (ph, sum) =>
              phases((r, ph)) = phases.getOrElse((r, ph), 0L) + sum.durationMs
            }
        }
      }
    }

  def check(ctx: Ctx): Seq[String] =
    members.sorted.flatMap { q =>
      val ds = digests.getOrElse(q, mutable.ArrayBuffer.empty)
      val want = expected.get(q)
      val unsteady =
        if (want.forall(_.varies.isEmpty) && ds.distinct.size > 1)
          Some(s"$q: result differs between rounds")
        else None
      if (ds.isEmpty) Seq(s"$q: never returned a result")
      else unsteady.toSeq ++ Check.against(q, ds.head, want)
    }

  def layerMetrics(ctx: Ctx, meter: Meter, rounds: Seq[Main.RoundRec]): Map[String, Double] = {
    def perRound(f: Main.RoundRec => Double) = Workload.median(rounds.map(f))
    def jobsOf(r: Main.RoundRec, suffix: String) =
      meter.agg((g, _) => g.startsWith(s"r${r.r}.") && g.endsWith(suffix))
    Map(
      "queries.construct_jobs" -> perRound(r => jobsOf(r, "/construct").jobs.toDouble),
      "plans.analysis_s" -> perRound(r => phases.getOrElse((r.r, "analysis"), 0L) / 1e3),
      "plans.optimizer_s" -> perRound(r => phases.getOrElse((r.r, "optimization"), 0L) / 1e3),
      "plans.planning_s" -> perRound(r => phases.getOrElse((r.r, "planning"), 0L) / 1e3))
  }
}

/** `ingest`: write beside read. After set-up a bands layout and a
  * postings layout hold the even `documents` ids, and the live near-dup
  * consumer tails the bands layout, folding it (and its pairs sink)
  * itself after every trigger. Round `r` appends batch `r` — `BatchDocs`
  * appended documents plus `PlantsPerBatch` near-duplicate copies of
  * indexed ones — to both layouts, waits for the consumer to publish
  * the batch's pairs, runs the `ReadTerms` BM25 top-k reads and one band
  * probe of the batch, and folds the postings layout, so every round
  * starts in the same fold state. `forceRestartRound` stops the
  * consumer before that round's catch-up (tests). */
final class IngestWorkload(nRounds: Int, forceRestartRound: Option[Int]) extends Workload {
  val Tau = 0.5
  val NBuckets = 8
  val TopK = 10
  val BatchDocs = 24
  val PlantsPerBatch = 4
  /** The BM25 reads of every round, the same on every seed: three
    * two-term queries each, `(query_id, term)`. */
  val ReadTerms: Seq[Seq[(Long, String)]] = Seq(
    Seq("agg batch", "big stream", "table small"),
    Seq("fast group", "data order", "key window"),
    Seq("spark row", "sort value", "column query"),
    Seq("part line", "dup the", "a slow")).map(_.zipWithIndex.flatMap { case (q, i) =>
      q.split(" ").map(i.toLong -> _)
    })
  /** `bm25_search`'s fixed term queries: the final BM25 check compares
    * the postings layout with that row's brute-force spelling. */
  val CheckTerms: Seq[(Long, String)] = Seq((0L, "hash"), (0L, "join"),
    (1L, "scan"), (1L, "filter"), (1L, "vector"),
    (2L, "customer"), (2L, "merge"), (2L, "slow"))
  /** A planted copy's id: its source's id plus this offset. */
  val PlantOffset = 1000000L

  private var texts: Map[Long, String] = Map.empty
  private var baseIds: Seq[Long] = Nil
  private var batches: Seq[Seq[Long]] = Nil
  private var planted: Seq[(Long, Long)] = Nil
  private var root = ""
  private var query: StreamingQuery = null
  private var restarts = 0
  private val appendedBytes = mutable.HashMap.empty[Int, Long]
  private val liveAtProbe = mutable.HashMap.empty[Int, Int]
  private val filesAtProbe = mutable.HashMap.empty[Int, Int]
  private val filesRead = mutable.HashMap.empty[Int, Long]
  private val candidates = mutable.HashMap.empty[Int, Long]
  private val resultRows = mutable.HashMap.empty[Int, Long]
  private val catchupS = mutable.HashMap.empty[Int, Double]
  /** Streaming progress: (end ms, trigger s, input rows). */
  private val progress = mutable.ArrayBuffer.empty[(Long, Double, Long)]
  private var pairsAtEnd: Seq[(Long, Long)] = Nil
  private var spaceAmp = 0.0

  private def bands = s"$root/bands"
  private def posts = s"$root/postings"
  private def pairs = s"$root/pairs"
  private def ckpt = s"$root/consumer"

  override def workerThreads: Seq[String] = Seq("stream execution thread for")

  private def frame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, texts(i))).toDF("doc_id", "text")
  }

  /** A near-duplicate: the source text with one token appended. */
  private def nearCopy(text: String): String = text + " planted"

  private def startConsumer(ctx: Ctx): Unit = {
    query = BandStreams.liveNearDup(ctx.spark, bands, frame(ctx.spark, texts.keys.toSeq.sorted),
      pairs, ckpt, maintainLayoutEvery = 1, maintainPairsEvery = 1)
  }

  def prepare(ctx: Ctx): Seq[(String, Double)] = {
    val spark = ctx.spark
    root = s"${ctx.work}/layouts"
    val (rows, tablesS) = Workload.time(Tables.documents(spark, ctx.dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    baseIds = rows.keys.filter(_ % 2 == 0).toSeq.sorted
    val pool = rows.keys.filter(_ % 2 == 1).toSeq.sorted.take(nRounds * BatchDocs)
    require(pool.size == nRounds * BatchDocs,
      s"$nRounds rounds need ${nRounds * BatchDocs} documents to append, the table has ${pool.size}")
    val plants = Plan.plants(baseIds, ctx.seed, nRounds, PlantsPerBatch)
    batches = Plan.batches(pool, ctx.seed, nRounds).zip(plants).map { case (docs, ps) =>
      docs ++ ps.map(_ + PlantOffset)
    }
    planted = plants.flatten.map(id => (id + PlantOffset, id))
    texts = rows ++ planted.map { case (c, s) => c -> nearCopy(rows(s)) }
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized {
          val p = e.progress
          val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli + d, d / 1e3,
            p.numInputRows))
        }
    })
    val (_, s) = Workload.time {
      ctx.group("setup/base")
      val base = frame(spark, baseIds)
      BandIndex.writeBandLayout(BandIndex.buildBands(base, Tau, NBuckets), bands, Tau, NBuckets)
      InvertedIndex.writeTermLayout(InvertedIndex.buildPostings(base, NBuckets),
        base.select(size(split(col("text"), " ")).cast("long").as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")), posts)
      startConsumer(ctx)
      query.processAllAvailable()
    }
    Seq("graft.tables_s" -> tablesS, "operators.base_build_s" -> s)
  }

  override def foldState(ctx: Ctx): Seq[Int] =
    Seq(bands, posts, pairs).map(TxBatch.liveBatchDirs(ctx.spark, _).size)

  /** Wait until the consumer has published everything committed. A
    * consumer that died or threw is a failed operation; it is restarted
    * (offset translation resumes it) and the wait retried. */
  private def catchUp(ctx: Ctx, r: Int): Unit = {
    if (forceRestartRound.contains(r)) query.stop()
    val ok = ctx.op(r, "catchup", "liveNearDup") {
      if (!query.isActive) throw new IllegalStateException("the live consumer is not running")
      query.processAllAvailable()
    }
    if (ok.isEmpty) {
      restarts += 1
      try query.stop() catch { case _: Throwable => () }
      startConsumer(ctx)
      ctx.op(r, "catchup", "liveNearDup")(query.processAllAvailable())
    }
  }

  private def layoutFiles(path: String, spark: SparkSession): Int = {
    def parquet(f: java.io.File, top: Boolean): Int =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else Option(f.listFiles).toSeq.flatten
        .filterNot(c => top && c.isDirectory && c.getName.startsWith("_"))
        .map(parquet(_, top = false)).sum
    def local(p: String) = new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath)
    parquet(local(TxBatch.baseDir(spark, path)), top = true) +
      TxBatch.liveBatchDirs(spark, path).map(d => parquet(local(d), top = false)).sum
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val op = s"r$r"
    val ids = batches(r)
    val batch = frame(spark, ids)
    val batchId = r + 1L
    appendedBytes(r) = ids.map(i => texts(i).getBytes("UTF-8").length.toLong).sum
    ctx.group(s"$op/append")
    ctx.op(r, "append", "postings")(t.span("append_postings", "operators", op)(
      InvertedIndex.appendPostingsIdempotent(batch, posts, NBuckets, batchId)))
    ctx.op(r, "append", "bands")(t.span("append_bands", "operators", op)(
      BandIndex.appendBandsIdempotent(batch, bands, Tau, NBuckets, batchId)))
    val committed = System.nanoTime()
    ctx.group(s"$op/catchup")
    t.span("catchup", "streaming", op)(catchUp(ctx, r))
    catchupS(r) = (System.nanoTime() - committed) / 1e9
    // layout shape and files read only feed per-layer metrics: untraced
    // rounds skip the listings
    if (t.enabled) {
      liveAtProbe(r) = Seq(bands, posts).map(TxBatch.liveBatchDirs(spark, _).size).sum
      filesAtProbe(r) = Seq(bands, posts).map(layoutFiles(_, spark)).sum
    }
    ReadTerms.foreach { qs =>
      ctx.group(s"$op/bm25")
      ctx.op(r, "read", "bm25", read = true)(t.span("bm25", "operators", op) {
        val df = InvertedIndex.bm25(spark, posts, qs, NBuckets, TopK)
        resultRows(r) = resultRows.getOrElse(r, 0L) + df.collect().length
        if (t.enabled) filesRead(r) = filesRead.getOrElse(r, 0L) + Workload.filesRead(df)
      })
    }
    ctx.group(s"$op/probe")
    ctx.op(r, "read", "probeCandidates", read = true)(t.span("probe", "operators", op) {
      val df = BandIndex.probeCandidates(batch, bands, Tau, NBuckets)
      val n = df.queryExecution.toRdd.count()
      candidates(r) = n
      resultRows(r) = resultRows.getOrElse(r, 0L) + n
      if (t.enabled) filesRead(r) = filesRead.getOrElse(r, 0L) + Workload.filesRead(df)
    })
    ctx.group(s"$op/fold")
    ctx.op(r, "fold", "postings")(t.span("fold", "operators", op)(InvertedIndex.compact(spark, posts)))
  }

  private def dirBytes(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val alive =
      if (query.isActive && query.exception.isEmpty) Nil
      else Seq(s"the live consumer is not running at the end: ${query.exception.map(_.getMessage)}")
    query.processAllAvailable()
    val indexed = baseIds ++ batches.flatten
    val layoutBytes = Seq(bands, posts, s"$posts.stats", pairs)
      .map(p => dirBytes(new java.io.File(p))).sum
    spaceAmp = layoutBytes.toDouble / indexed.map(i => texts(i).getBytes("UTF-8").length).sum
    pairsAtEnd = BandStreams.readPairs(spark, pairs).select("batch_doc", "corpus_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the brute-force spelling: the `bm25_search` row over the indexed
    // documents, written as a table of their own
    val finalDir = s"$root/final"
    frame(spark, indexed).write.mode("overwrite").parquet(s"$finalDir/documents.parquet")
    val brute = graft.SparkEntry.queries("bm25_search")(spark, finalDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = InvertedIndex.bm25(spark, posts, CheckTerms, NBuckets, TopK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val bm25Problem =
      if (got.sorted == brute.sorted && brute.nonEmpty) Nil
      else Seq(s"bm25 top-$TopK differs from bm25_search: ${got.sorted.take(4)} vs ${brute.sorted.take(4)}")
    alive ++ Check.pairProblems(pairsAtEnd, texts, Tau) ++
      Check.plantProblems(pairsAtEnd, planted) ++ bm25Problem
  }

  def layerMetrics(ctx: Ctx, meter: Meter, rounds: Seq[Main.RoundRec]): Map[String, Double] = {
    val ran = rounds.map(_.r).toSet
    val n = math.max(rounds.size, 1)
    def secs(kind: String, name: String) =
      ctx.ops.filter(o => ran(o.round) && o.kind == kind && o.name == name).map(_.seconds)
    def groupAgg(suffix: String) = meter.agg((g, _) => ran.exists(r => g == s"r$r/$suffix"))
    def perRound[V](m: mutable.Map[Int, V]) = m.filter(e => ran(e._1)).values
    val folds = ctx.ops.count(o => ran(o.round) && o.kind == "fold" && o.ok)
    val all = rounds.map(r => meter.agg((_, t) => t >= r.startMs && t <= r.endMs))
    val reads = Seq(groupAgg("bm25"), groupAgg("probe"))
    val readRows = reads.map(_.inputRows).sum.toDouble
    val timed = progress.synchronized(progress.filter { case (end, _, rows) =>
      rows > 0 && rounds.exists(r => end >= r.startMs && end <= r.endMs) }.toSeq)
    val arrived = ran.toSeq.flatMap(batches(_)).toSet
    val published = pairsAtEnd.count(p => arrived(p._1))
    val cands = perRound(candidates).sum
    Map(
      "operators.append_bands_s" -> Workload.median(secs("append", "bands")),
      "operators.append_postings_s" -> Workload.median(secs("append", "postings")),
      "operators.fold_s" -> Workload.median(secs("fold", "postings")),
      "operators.fold_mb" -> (if (folds == 0) 0.0 else groupAgg("fold").outputMb / folds),
      "operators.live_batches" -> Workload.median(perRound(liveAtProbe).map(_.toDouble)),
      "operators.layout_files" -> Workload.median(perRound(filesAtProbe).map(_.toDouble)),
      "operators.bm25_s" -> Workload.median(secs("read", "bm25")),
      "operators.probe_s" -> Workload.median(secs("read", "probeCandidates")),
      "operators.candidates" -> Workload.median(perRound(candidates).map(_.toDouble)),
      "operators.candidate_yield" -> (if (cands == 0) 0.0 else published.toDouble / cands),
      "operators.write_amp" -> {
        val appended = perRound(appendedBytes).sum
        if (appended == 0) 0.0 else all.map(_.outputMb).sum * 1048576.0 / appended
      },
      "operators.space_amp" -> spaceAmp,
      "sources.read_rows" -> readRows / n,
      "sources.read_mb" -> reads.map(_.inputMb).sum / n,
      "sources.files_read" -> perRound(filesRead).sum.toDouble / n,
      "sources.examined_per_result" -> {
        val res = perRound(resultRows).sum
        if (res == 0) 0.0 else readRows / res
      },
      "streaming.catchup_s" -> Workload.median(perRound(catchupS)),
      "streaming.triggers" -> timed.size.toDouble / n,
      "streaming.trigger_s" -> Workload.median(timed.map(_._2)),
      "streaming.restarts" -> restarts.toDouble,
      "streaming.pairs_published" -> pairsAtEnd.size.toDouble)
  }

  override def close(): Unit =
    if (query != null) try query.stop() catch { case _: Throwable => () }
}
