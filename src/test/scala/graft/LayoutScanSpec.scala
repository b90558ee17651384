package graft

import graft.operators.{BandIndex, InvertedIndex, IvfIndex}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}

/** The shared layout scan reads runtime filters through the same value
  * extractor as pushdown: EqualTo/In with Int or Long values on the
  * partition column (and the key column) narrow the listing on every
  * layout alike. */
class LayoutScanSpec extends SparkSuite {
  import spark.implicits._

  private val NB = 16
  private val K = 16
  private val Dir = "/tmp/graft_layout_scan"

  private def fresh(paths: String*): Unit = paths.foreach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  private def docs = Tables.documents(spark, sf).select($"doc_id", $"text")

  private lazy val postings = {
    val p = s"$Dir/postings"
    fresh(p, p + ".stats")
    val stats = docs.select(size(split($"text", " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    InvertedIndex.writeTermLayout(InvertedIndex.buildPostings(docs, NB),
      stats, p, NB)
    p
  }

  private lazy val bands = {
    val p = s"$Dir/bands"
    fresh(p)
    BandIndex.writeBandLayout(BandIndex.buildBands(docs, 0.8, NB), p, 0.8,
      NB)
    p
  }

  private lazy val cells = {
    val p = s"$Dir/cells"
    fresh(p)
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val cents = IvfIndex.learnCentroids(emb, K, 1)
    IvfIndex.writeCellLayout(IvfIndex.assignCells(emb, cents), p, K,
      cents.head.length)
    p
  }

  private def scanOf(format: String, path: String) =
    spark.read.format(format).option("path", path).load()
      .queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[graft.sources.LayoutScan]
      }.getOrElse(fail("no BatchScanExec in plan"))

  /** Parquet files under `<path>/<partCol>=<value>`. */
  private def filesIn(path: String, partCol: String, value: Long): Int =
    Option(new java.io.File(s"$path/$partCol=$value").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  private def partitions(path: String, partCol: String): Seq[Long] =
    new java.io.File(path).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith(s"$partCol="))
      .map(_.getName.stripPrefix(s"$partCol=").toLong).sorted

  test("a runtime EqualTo on the partition column narrows files on " +
      "every layout, with an Int or a Long value") {
    Seq(("graft.sources.PostingsSource", postings, "bucket"),
        ("graft.sources.BandsSource", bands, "bucket"),
        ("graft.sources.CellsSource", cells, "cell"))
      .foreach { case (format, path, partCol) =>
        val parts = partitions(path, partCol)
        assert(parts.size >= 2, s"$format: need a spread, got $parts")
        val one = parts.head
        Seq[Any](one, one.toInt).foreach { v =>
          val scan = scanOf(format, path)
          val before = scan.files.size
          scan.filter(Array[Filter](EqualTo(partCol, v)))
          assert(scan.files.size == filesIn(path, partCol, one) &&
            scan.files.size < before,
            s"$format: runtime $partCol = $v kept ${scan.files.size} " +
              s"of $before files")
          assert(scan.description().contains(s"${partCol}s={$one}"),
            scan.description())
        }
        // a filter the extractor does not read leaves the scan as it was
        val scan = scanOf(format, path)
        val before = scan.files.size
        scan.filter(Array[Filter](In(partCol, Array[Any]("x"))))
        assert(scan.files.size == before, s"$format: string on $partCol")
      }
  }

  test("runtime and pushed filters narrow to the same files; a runtime " +
      "key filter prunes to the key's partition") {
    val src = spark.read.format("graft.sources.BandsSource")
      .option("path", bands).load()
    val hash = spark.read.parquet(bands).select($"band_hash")
      .as[Long].head()
    val pushed = src.filter($"band_hash" === hash)
      .queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.asInstanceOf[graft.sources.LayoutScan]
      }.get
    val runtime = scanOf("graft.sources.BandsSource", bands)
    runtime.filter(Array[Filter](EqualTo("band_hash", hash)))
    val bucket = graft.sources.BandsSource.bucketOf(hash, NB)
    assert(runtime.files == pushed.files &&
      runtime.files.map(_._2).toSet == Set(bucket), runtime.description())
  }
}
