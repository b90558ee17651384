package graft.tools
import graft.{Graft, SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Profiling scratchpad for optimization rounds — NOT part of the
  * driver contract (test scope: never ships in the library artifact;
  * run with `sbt "Test/runMain graft.tools.Scratch"`). Timings via
  * the noop sink (guide §1.4). */
object Scratch {
  def time(label: String)(df: => DataFrame): Unit = {
    val d = df
    d.sparkSession.sparkContext.setJobDescription(label)
    val t0 = System.nanoTime()
    d.write.format("noop").mode("overwrite").save()
    println(f"### $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    d.sparkSession.sparkContext.setJobDescription(null)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    import spark.implicits._

    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text".substr(1, 20).as("k"))
    val probes = base.filter($"doc_id" % 37 === 5)
      .select((-$"doc_id" - 1L).as("doc_id"),
        concat($"k".substr(1, 8), lit("XY"),
          $"k".substr(lit(11), length($"k") - 10)).as("k"))
    val df = base.unionByName(probes)

    (1 to 2).foreach { pass =>
      println(s"--- pass $pass")
      import graft.operators.{Chunking, TextCleanup}
      val boil = TextCleanup.dropBoilerplateLines(base2(spark, sfDir), minDocs = 2)
      time("1 dropBoilerplateLines")(boil)
      val cleaned = boil.select($"doc_id",
        TextCleanup.redactPii(
          regexp_replace($"clean_text", "\n", " ")).as("text"))
      time("2 + redactPii")(cleaned)
      time("3 + chunkDocs (declared)")(
        SparkEntry.queries("training_rows")(spark, sfDir))
    }
    spark.stop()
  }

  private def base2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select($"doc_id", $"text")
  }
}
