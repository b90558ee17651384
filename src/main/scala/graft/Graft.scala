package graft

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Session policy of the engine: the one session builder, and the
  * one-call setup of a session the library didn't build.
  *
  * Spark keeps every class it generates (whole-stage code, projections,
  * orderings) in one LRU cache per JVM, `CodeGenerator.cache`. That
  * cache is built once, the first time any code is generated, with
  * `SQLConf.get.codegenCacheMaxEntries` entries (the static conf
  * `spark.sql.codegen.cache.maxEntries`, default 100), and is never
  * resized. The engine's working set is larger than 100: one pass of
  * the olap rows generates ~470 distinct classes and one ingest round
  * ~180, so at the default every class is evicted before the next round
  * needs it, and each repeated plan shape compiles again (Janino, then
  * JIT): at the default, a second run of every query row at sf0.01
  * compiled 6,850 classes. [[CodegenCacheEntries]] holds a whole pass.
  *
  * Rule for sessions: [[session]] sets the cap as the static conf, so the
  * session reports it. A session the engine did not build (a notebook, a
  * harness) cannot take a static conf after it starts, but the cache reads
  * the conf only once, from whatever `SQLConf.get` returns at that moment.
  * So the engine's first touch of any session ([[Tables.apply]] or
  * [[enable]]) builds the cache under a copy of that session's conf
  * carrying the larger of [[CodegenCacheEntries]] and the caller's own
  * setting; the caller's conf is not modified, and the engine never lowers
  * the caller's cap. If Spark generated code before that touch, the cache
  * already exists at its old size and the engine logs one WARN.
  */
object Graft extends Logging {

  /** Entries of Spark's generated-class cache: the next power of two
    * above the largest working set measured, one construction and one
    * run of every query row at sf0.01 (4,547 distinct classes; an LRU
    * smaller than a cyclic working set hits nothing). A cached class
    * keeps ~30 KB of heap and ~8 KB of Metaspace, so a full cache holds
    * ~240 MB of heap; a JVM holds only the classes it generated. */
  val CodegenCacheEntries: Int = 8192

  /** A local session with `threads` task threads and as many shuffle
    * partitions, UTC session time, no UI, the codegen cache cap, log
    * level WARN, and [[enable]] applied. Returns the active session if
    * one exists (its static confs then stay as they were built). */
  def session(threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    enable(spark)
    spark
  }

  /** One-call setup for a session the library didn't build: sizes the
    * codegen cache (see the object doc), registers the SQL surface of
    * the custom expressions (`fnv1a`, `fnv1a_seeded`, `dotd`) and the
    * custom-operator planner strategy + optimizer rule (as-of join
    * family). Idempotent; safe to call per query. */
  def enable(spark: SparkSession): Unit = {
    sizeCodegenCache(spark)
    functions.GraftFunctions.registerSql(spark)
    plans.GraftExtensions.ensureRegistered(spark)
  }

  private var cacheSized = false

  /** Builds Spark's codegen cache with the engine's cap, once per JVM;
    * a no-op after the first call. */
  private[graft] def sizeCodegenCache(spark: SparkSession): Unit = synchronized {
    if (!cacheSized) {
      cacheSized = true
      val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
      val cap = math.max(CodegenCacheEntries, spark.conf.get(key).toInt)
      val conf = new SizingConf
      spark.conf.getAll.foreach { case (k, v) => conf.setConfString(k, v) }
      conf.setConfString(key, cap.toString)
      SQLConf.withExistingConf(conf) {
        Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$",
          true, getClass.getClassLoader)
      }
      if (conf.read) logInfo(s"codegen cache holds $cap generated classes")
      else logWarning("Spark generated code before the engine first touched this " +
        s"session, so its codegen cache keeps the size it was built with; set $key to " +
        s"at least $CodegenCacheEntries when building the session, or touch the " +
        "session through graft.Graft.enable before running any query")
    }
  }

  /** A session conf copy that records whether the cache read its cap. */
  private final class SizingConf extends SQLConf {
    @volatile var read = false
    override def codegenCacheMaxEntries: Int = {
      read = true
      super.codegenCacheMaxEntries
    }
  }
}
