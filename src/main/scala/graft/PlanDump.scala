package graft
import java.nio.file.{Files, Paths}

/** Utility: dump `.explain("formatted")` for named queries (or all)
  * to `<outDir>/<query>_<tag>.txt` — the optimization-round evidence
  * trail (plans/r17/). Not part of the driver contract.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keySet.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
        println(s"### dumped $name")
      } catch {
        case e: Throwable =>
          println(s"### FAILED $name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
      }
    }
    spark.stop()
  }
}
