package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: set-up and a fixed number of untimed
  * warm-up rounds (billed to `setup_s`), a fixed number of timed rounds
  * in a closed loop, the output checks, and the metrics.
  * `perfbench/run.py` builds the classes, launches this main, adds each
  * metric's unit from BENCHMARK.json and wraps the result with the run
  * record.
  *
  * Arguments (all `--key value`, each exactly once unless marked):
  * workload (olap | curation | ingest), seed, trace (0 | 1), data
  * (table directory), docs (the kernel probes' documents directory),
  * work (scratch directory), out (detail JSON), warmup and rounds
  * (warm-up and timed rounds), members, tables and expected (query
  * workloads only), spans (traced runs only), force-restart-round
  * (optional, tests), record (optional: write expectations instead).
  */
object Main {

  /** Task threads of the engine (`local[2]`, two shuffle partitions):
    * two of the reference host's four cores, so JIT, GC and the OS have
    * their own and results do not depend on the host's core count. */
  val Threads = 2

  final case class RoundRec(r: Int, startMs: Long, endMs: Long, seconds: Double,
      traced: Boolean, jvm: Jvm.Snap, threadCpuNs: Long)

  val Kernels: Seq[String] = Seq("quality_signals", "token_count", "winnow_fps", "simhash64",
    "char_ngrams", "token_window_hashes", "minhash_sig", "shingle_hashes")

  /** Every per-layer metric a traced run reports, on every workload (0
    * where the workload does not use the layer). */
  val LayerMetrics: Seq[String] = Seq(
    "graft.session_s", "graft.tables_s",
    "queries.first_construct_s", "operators.base_build_s", "queries.warmup_s",
    "queries.construct_s", "queries.construct_jobs",
    "plans.analysis_s", "plans.optimizer_s", "plans.planning_s",
    "plans.codegen_compiles", "plans.codegen_s",
    "exec.exec_s", "exec.task_cpu_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb",
    "exec.task_skew", "exec.storage_mb",
    "jvm.jit_s", "jvm.process_cpu_s", "jvm.gc_s") ++
    Kernels.flatMap(k => Seq(s"functions.${k}_s", s"functions.${k}_vs_builtin")) ++ Seq(
    "operators.append_bands_s", "operators.append_postings_s", "operators.fold_s",
    "operators.fold_mb", "operators.live_batches", "operators.layout_files",
    "operators.bm25_s", "operators.probe_s", "operators.candidates",
    "operators.candidate_yield", "operators.write_amp", "operators.space_amp",
    "sources.read_rows", "sources.read_mb", "sources.files_read",
    "sources.examined_per_result",
    "streaming.catchup_s", "streaming.triggers", "streaming.trigger_s",
    "streaming.restarts", "streaming.pairs_published",
    "trace_overhead")

  private val Optional = Set("force-restart-round", "record", "members", "tables",
    "expected", "spans")

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }.toSeq
    val repeated = kv.map(_._1).diff(kv.map(_._1).distinct)
    require(repeated.isEmpty, s"arguments given twice: ${repeated.mkString(", ")}")
    val known = Set("workload", "seed", "trace", "data", "docs", "work", "out", "warmup",
      "rounds") ++ Optional
    val unknown = kv.map(_._1).filterNot(known)
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")}")
    val missing = (known -- Optional).filterNot(k => kv.exists(_._1 == k))
    require(missing.isEmpty, s"missing arguments: ${missing.mkString(", ")}")
    kv.toMap
  }

  /** `graft.Bench`'s session, with [[Threads]] task threads. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Threads]")
      .config("spark.sql.shuffle.partitions", Threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def lines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val warmup = a("warmup").toInt
    val rounds = a("rounds").toInt
    // a traced run alternates untraced and traced timed rounds
    val timed = if (trace) 2 * rounds else rounds
    val calibStart = Jvm.calibrate()

    val workload: Workload = workloadName match {
      case "ingest" =>
        new IngestWorkload(warmup + timed, a.get("force-restart-round").map(_.toInt))
      case "olap" | "curation" =>
        val expected = a.get("expected").filter(p => Files.exists(Paths.get(p)))
          .map(Check.readExpected).getOrElse(Map.empty)
        new QueryWorkload(lines(a("members")), expected, lines(a("tables")))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val tracer = new Tracer(false)
    val ctx = new Ctx(tracer, seed, a("data"), a("work"))
    val (spark, sessionS) = Workload.time(session())
    ctx.spark = spark
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val setupPhases = workload.prepare(ctx)

    def runRound(r: Int, traced: Boolean): RoundRec = {
      tracer.enabled = traced
      val s0 = Jvm.snap()
      val c0 = Jvm.threadCpuNs() + workload.workerThreads.map(Jvm.threadCpuNs(_)).sum
      val startMs = System.currentTimeMillis()
      val (_, s) = Workload.time(tracer.span(s"round $r", "round", s"r$r")(workload.round(ctx, r)))
      val endMs = System.currentTimeMillis()
      val c1 = Jvm.threadCpuNs() + workload.workerThreads.map(Jvm.threadCpuNs(_)).sum
      tracer.enabled = false
      RoundRec(r, startMs, endMs, s, traced, Jvm.snap() - s0, c1 - c0)
    }

    val (warm, warmupS) = Workload.time((0 until warmup).map(runRound(_, traced = false)))
    val folds = mutable.ArrayBuffer.empty[(Int, Seq[Int])]
    // set-up ends where the first timed operation starts: everything
    // since the JVM started, except the calibration loop
    val setupS = (System.currentTimeMillis() - Jvm.startMs) / 1e3 - calibStart
    val timedRounds = (warmup until warmup + timed).map { r =>
      folds += r -> workload.foldState(ctx)
      runRound(r, traced = trace && (r - warmup) % 2 == 1)
    }
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val memMb = Jvm.liveHeapMb()
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= Check.foldStates(folds.toSeq)
    val (checkProblems, checkS) = Workload.time(try workload.check(ctx) catch {
      case e: Throwable => Seq(s"output check failed to run: $e")
    })
    problems ++= checkProblems
    if (a.contains("record")) {
      record(workload.asInstanceOf[QueryWorkload], ctx, a("record"))
      workload.close()
      spark.stop()
      return
    }
    val kernels = if (trace) perfbench.Kernels.run(spark, a("docs")) else Nil
    problems ++= kernels.filterNot(_.equal).map { k =>
      if (k.failure.nonEmpty) s"kernel probe ${k.name} failed: ${k.failure}"
      else s"kernel ${k.name} differs from its built-in spelling"
    }
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val calibEnd = Jvm.calibrate()

    val untraced = timedRounds.filterNot(_.traced)
    val measured = if (trace) timedRounds.filter(_.traced) else untraced
    val lat = ctx.ops.filter(o => o.ok && o.read && measured.exists(_.r == o.round))
      .map(_.seconds).toSeq
    def roundAgg(rr: RoundRec) = meter.agg((_, t) => t >= rr.startMs && t <= rr.endMs)
    val tail = Stats.tail(if (lat.isEmpty) Seq(0.0) else lat)

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "total_s" -> untraced.map(_.seconds).sum,
        "query_p50_s" -> Workload.median(lat),
        "query_tail_s" -> tail.value,
        "cpu_s" -> untraced.map(rr => rr.threadCpuNs / 1e9 + roundAgg(rr).cpuS).sum,
        "mem_mb" -> memMb)
      else {
        val selfOf = (rr: RoundRec) =>
          tracer.selfByLayer(s => s.op == s"r${rr.r}" || s.op.startsWith(s"r${rr.r}."))
        def perRound(f: RoundRec => Double) = Workload.median(measured.map(f))
        val m = mutable.LinkedHashMap.empty[String, Double]
        LayerMetrics.foreach(m(_) = 0.0)
        m ++= setupPhases
        m ++= Seq(
          "graft.session_s" -> sessionS,
          "queries.warmup_s" -> warmupS,
          "queries.construct_s" -> perRound(selfOf(_).getOrElse("queries", 0.0)),
          "plans.codegen_compiles" -> perRound(_.jvm.compiles.toDouble),
          "plans.codegen_s" -> perRound(_.jvm.codegenMs / 1e3),
          "exec.exec_s" -> perRound(selfOf(_).getOrElse("exec", 0.0)),
          "exec.task_cpu_s" -> perRound(roundAgg(_).cpuS),
          "exec.jobs" -> perRound(roundAgg(_).jobs.toDouble),
          "exec.stages" -> perRound(roundAgg(_).stages.toDouble),
          "exec.tasks" -> perRound(roundAgg(_).tasks.toDouble),
          "exec.shuffle_write_mb" -> perRound(roundAgg(_).shuffleWriteMb),
          "exec.shuffle_read_mb" -> perRound(roundAgg(_).shuffleReadMb),
          "exec.spill_mb" -> perRound(roundAgg(_).spillMb),
          "exec.input_mb" -> perRound(roundAgg(_).inputMb),
          "exec.task_skew" -> perRound(roundAgg(_).taskSkew),
          "exec.storage_mb" -> storageMb,
          "jvm.jit_s" -> perRound(_.jvm.jitMs / 1e3),
          "jvm.process_cpu_s" -> perRound(_.jvm.processCpuNs / 1e9),
          "jvm.gc_s" -> perRound(_.jvm.gcMs / 1e3),
          "trace_overhead" -> measured.map(_.seconds).sum / untraced.map(_.seconds).sum)
        kernels.filter(_.failure.isEmpty).foreach { k =>
          m(s"functions.${k.name}_s") = k.kernelS
          m(s"functions.${k.name}_vs_builtin") = k.kernelS / k.builtinS
        }
        m ++= workload.layerMetrics(ctx, meter, measured)
        m.toSeq
      }

    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok)
    val result = Json(Json.obj(
      "correct" -> problems.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Obj(metrics)))

    val (_, closeS) = Workload.time {
      workload.close()
      spark.stop()
    }
    val allRounds = warm ++ timedRounds
    Files.writeString(Paths.get(a("out")), Json(Json.obj(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "engine_threads" -> Threads, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "calibration_s" -> Json.obj("start" -> calibStart, "end" -> calibEnd),
      "setup_s" -> setupS, "session_s" -> sessionS, "setup" -> Json.Obj(setupPhases),
      "warmup_s" -> warmupS, "check_s" -> checkS, "close_s" -> closeS,
      "rounds" -> allRounds.map(rr => Json.obj("round" -> rr.r,
        "phase" -> (if (rr.r < warmup) "warmup" else if (rr.traced) "traced" else "timed"),
        "seconds" -> rr.seconds, "jit_s" -> rr.jvm.jitMs / 1e3,
        "janino_compiles" -> rr.jvm.compiles, "gc_s" -> rr.jvm.gcMs / 1e3,
        "jobs" -> roundAgg(rr).jobs, "tasks" -> roundAgg(rr).tasks)),
      "fold_states" -> folds.map { case (r, s) => Json.obj("round" -> r, "live_batches" -> s) },
      "query_tail" -> Json.obj("value" -> tail.value, "percentile" -> tail.percentile,
        "samples" -> tail.n),
      "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "problems" -> problems.toSeq,
      "errors" -> ctx.errors.toSeq,
      "ops" -> ctx.ops.map(o => Json.obj("round" -> o.round, "kind" -> o.kind,
        "name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok)),
      "kernels" -> kernels.map(k => Json.obj("name" -> k.name, "kernel_s" -> k.kernelS,
        "builtin_s" -> k.builtinS, "equal" -> k.equal)))) + "\n")
    a.get("spans").filter(_ => trace).foreach { p =>
      val self = Stats.selfTimes(tracer.spans.toSeq)
      Files.writeString(Paths.get(p), tracer.spans.map { s =>
        Json(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_ns" -> self(s.id)))
      }.mkString("", "\n", "\n"))
    }
    println(result)
  }

  /** Write what this commit's queries returned: one line per query with
    * its row count, content hash, and what varied between its
    * executions ("hash" when only the content moved, "rows" when the
    * row count did too). `run.py --record` merges two such runs. */
  private def record(w: QueryWorkload, ctx: Ctx, out: String): Unit = {
    val failed = ctx.ops.filterNot(_.ok).map(_.name).distinct
    require(failed.isEmpty, s"queries failed while recording: ${failed.mkString(", ")}")
    val rows = w.digests.toSeq.sortBy(_._1).map { case (q, ds) =>
      val varies =
        if (ds.map(_.rows).distinct.size > 1) "rows"
        else if (ds.distinct.size > 1) "hash"
        else ""
      Seq(q, ds.head.rows.toString, ds.head.hex, varies).mkString("\t")
    }
    Files.writeString(Paths.get(out), rows.mkString("", "\n", "\n"))
  }
}
