package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.StaticSQLConf

import scala.jdk.CollectionConverters._

/** The engine's session policy ([[Graft]]): the builder's confs, and a
  * codegen cache that holds a repeated working set, both on the engine's
  * own session and on a plain session the engine only touches. */
class GraftSessionSpec extends SparkSuite {
  private val capKey = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("Graft.session carries the shared confs and the codegen cache cap") {
    val s = Graft.session(4)
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.conf.get(capKey) == Graft.CodegenCacheEntries.toString)
    assert(s.experimental.extraStrategies.contains(graft.plans.GraftStrategies))
  }

  test("150 distinct projections run twice compile 0 classes the second time") {
    val (first, second) = GraftSessionChild.twoPasses(spark)
    assert(first >= 150)
    assert(second == 0)
  }

  /** Runs [[GraftSessionChild]] in a fresh JVM; its stdout and stderr. */
  private def child(mode: String): (String, String) = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case (a, i) if a == "--add-opens" => Seq(a, jvmArgs(i + 1))
      case _ => Nil
    }
    val dir = Files.createTempDirectory("graft-session-child")
    val out = dir.resolve("stdout.txt").toFile
    val err = dir.resolve("stderr.txt").toFile
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.GraftSessionChild", mode, sf)
    try {
      val p = new ProcessBuilder(cmd: _*).directory(dir.toFile)
        .redirectOutput(out).redirectError(err).start()
      if (!p.waitFor(300, TimeUnit.SECONDS)) {
        p.destroyForcibly()
        fail(s"child JVM ($mode) timed out")
      }
      val result = (Files.readString(out.toPath), Files.readString(err.toPath))
      assert(p.exitValue() == 0, s"child JVM ($mode) failed:\n${result._2.takeRight(4000)}")
      result
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private val warning = "Spark generated code before the engine first touched this session"

  test("a plain session the engine touches first keeps a repeated working set, " +
    "and its own conf is left as the caller built it") {
    val (out, err) = child("engine-first")
    assert(out.contains("second pass compiles: 0\n"), out)
    assert(out.contains("session cap: 100\n"), out)
    assert(!err.contains(warning))
  }

  test("a plain session that generated code before the engine's first touch gets one WARN") {
    val (_, err) = child("spark-first")
    assert(err.split('\n').count(_.contains(warning)) == 1, err.takeRight(4000))
  }
}

/** Child JVM of [[GraftSessionSpec]]: builds a plain local session with
  * Spark's defaults, optionally generates code before the engine touches
  * the session (`spark-first`), and opens a table through [[Tables]].
  * Otherwise (`engine-first`) it then prints the compile counts of two
  * passes over the same projections and the session's own cap. */
object GraftSessionChild {

  /** Compiles of two passes of the same 150 distinct projections, each
    * pass built as fresh DataFrames. */
  def twoPasses(spark: SparkSession): (Long, Long) = {
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach { i =>
        spark.range(4).select((col("id") * lit(i) + lit(i)).as("v")).collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    (first, pass())
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, dir) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    if (mode == "spark-first") spark.range(4).selectExpr("id + 1").collect()
    Tables(spark, dir, "region")
    if (mode == "engine-first") {
      val (first, second) = twoPasses(spark)
      println(s"first pass compiles: $first")
      println(s"second pass compiles: $second")
      println(s"session cap: ${spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key)}")
    }
    spark.stop()
  }
}
