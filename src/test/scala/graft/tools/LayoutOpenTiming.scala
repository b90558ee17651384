package graft.tools

import graft.{Graft, Tables}
import graft.operators.InvertedIndex
import graft.sources.{LayoutPartitionReader, LayoutScan}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Time to open and read one small layout file on the driver thread,
  * two ways: `ParquetReader.builder(readSupport, path).withConf(conf)`
  * (the builder makes and discards a `new Configuration()` per file)
  * and [[LayoutPartitionReader.open]] (a `HadoopInputFile` of the
  * session's conf); and the time of one [[LayoutScan]] listing, which
  * a scan repeats for its description, statistics and partitions.
  * Builds a 24-bucket postings layout of the documents of the
  * scale-factor directory given as the argument (sf0.01 for the
  * numbers in CHANGES.md) in a temporary directory, then reads every
  * file of it once per spelling and round, alternating which spelling
  * goes first. Test scope; run with
  * `sbt "Test/runMain graft.tools.LayoutOpenTiming <sf dir>"`. */
object LayoutOpenTiming {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: LayoutOpenTiming <scale-factor dir>")
    val sfDir = args(0)
    val rounds = 10
    val spark = Graft.session(2)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-open-timing").toFile
    try {
      val path = s"$dir/postings"
      val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
      val stats = docs.select(size(split($"text", " ")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      InvertedIndex.writeTermLayout(InvertedIndex.buildPostings(docs, 24), stats, path, 24)
      val files = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(path), Array("parquet"), true)
        .toArray(Array.empty[java.io.File]).map(_.getPath).sorted.toSeq
      val conf = spark.sparkContext.hadoopConfiguration

      def drain(r: ParquetReader[Group]): Unit =
        try while (r.read() != null) () finally r.close()
      val spellings = Seq[(String, String => Unit)](
        "builder(readSupport, path).withConf" -> (f => drain(ParquetReader
          .builder(new GroupReadSupport(), new Path(f)).withConf(conf).build())),
        "HadoopInputFile (LayoutPartitionReader.open)" ->
          (f => drain(LayoutPartitionReader.open(f, conf))))
      val perFile = spellings.map(_._1 -> Seq.newBuilder[Double]).toMap
      (0 to rounds).foreach { round =>
        val order = if (round % 2 == 0) spellings else spellings.reverse
        order.foreach { case (name, read) =>
          val t0 = System.nanoTime()
          files.foreach(read)
          // round 0 warms both spellings up and is not reported
          if (round > 0) perFile(name) += (System.nanoTime() - t0) / 1e6 / files.size
        }
      }
      println(s"${files.size} files, $rounds rounds, ms per file (min / median / max):")
      spellings.foreach { case (name, _) =>
        val ms = perFile(name).result().sorted
        println(f"  $name%-46s ${ms.head}%.2f / ${ms(ms.size / 2)}%.2f / ${ms.last}%.2f")
      }

      val scan = spark.read.format("graft.sources.PostingsSource").option("path", path)
        .load().queryExecution.executedPlan.collectFirst {
          case b: BatchScanExec => b.scan.asInstanceOf[LayoutScan]
        }.get
      val listing = (0 to rounds).map { _ =>
        val t0 = System.nanoTime()
        scan.files
        (System.nanoTime() - t0) / 1e6
      }.tail.sorted
      println(f"one listing of the layout, ms (min / median / max): ${listing.head}%.2f / " +
        f"${listing(listing.size / 2)}%.2f / ${listing.last}%.2f")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      spark.stop()
    }
  }
}
