package graft

import graft.operators.{BandIndex, InvertedIndex, IvfIndex}
import graft.sources.{LayoutScan, LayoutSource}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}

/** The shared layout scan reads runtime filters through the same value
  * extractor as pushdown: EqualTo/In with Int or Long values on the
  * partition column (and the key column) narrow the listing on every
  * layout alike. Scans that read the same rows are equal, so Spark
  * reuses an exchange over a layout read within one query — and never
  * across queries. */
class LayoutScanSpec extends SparkSuite with AdaptiveSparkPlanHelper {
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

  private def scanOf(format: String, path: String): LayoutScan =
    scanIn(spark.read.format(format).option("path", path).load())

  private def scanIn(df: DataFrame): LayoutScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[LayoutScan]
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

  test("reads with equal options and filters build equal scans with " +
      "equal hash codes; path, roots, partitions, keys, columns or a " +
      "runtime narrowing tell them apart") {
    Seq(("graft.sources.PostingsSource", postings, "bucket", Some("term")),
        ("graft.sources.BandsSource", bands, "bucket", Some("band_hash")),
        ("graft.sources.CellsSource", cells, "cell", None))
      .foreach { case (format, path, partCol, keyCol) =>
        val copy = path + "_copy"
        fresh(copy)
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(path), new java.io.File(copy))
        def read(p: String = path, roots: Option[String] = None) = {
          val r = spark.read.format(format).option("path", p)
          roots.fold(r)(r.option("roots", _)).load()
        }
        val parts = partitions(path, partCol)
        assert(parts.size >= 3, s"$format: need a spread, got $parts")
        val Seq(one, two, three) = parts.take(3)
        def scan(df: DataFrame) = scanIn(df.filter(col(partCol) === one))
        val a = scan(read())
        val b = scan(read())
        assert(a == b && a.hashCode == b.hashCode, s"$format: $a vs $b")
        // the pushed filters count only through the sets they narrow to:
        // not their order, not their spelling
        val inOneTwo = col(partCol).isin(one, two)
        val inOneThree = col(partCol).isin(one, three)
        val ab = scanIn(read().filter(inOneTwo && inOneThree))
        val ba = scanIn(read().filter(inOneThree && inOneTwo))
        assert(ab == ba && ab == a && ab.hashCode == a.hashCode,
          s"$format: filter order or spelling")
        assert(scan(read(p = copy)) != a, s"$format: path")
        assert(scan(read(roots = Some(LayoutSource.BaseRoot))) != a,
          s"$format: roots")
        assert(scanIn(read().filter(col(partCol) === two)) != a,
          s"$format: partitions")
        val cols = read().columns
        assert(scan(read().select(partCol, cols.head)) != a &&
          scan(read().select(partCol, cols.head)) ==
            scan(read().select(partCol, cols.head)), s"$format: columns")
        keyCol.foreach { k =>
          // two keys of one partition: same partition set, other keys
          val ks = read().filter(col(partCol) === one).select(k).distinct()
            .limit(2).collect().map(_.get(0))
          assert(ks.length == 2, s"$format: need two keys in $partCol $one")
          val k0 = scan(read().filter(col(k) === ks(0)))
          val k1 = scan(read().filter(col(k) === ks(1)))
          assert(k0 != k1 && k0 == scan(read().filter(col(k) === ks(0))),
            s"$format: keys")
        }
        // a runtime filter narrows one of two equal scans in place: the
        // scans differ from then on, the hash code stays what it was
        val h = a.hashCode
        a.filter(Array[Filter](EqualTo(partCol, two)))
        assert(a != b && a.hashCode == h, s"$format: runtime narrowing")
        fresh(copy)
      }
  }

  test("probeCandidates reads the band layout once: its final adaptive " +
      "plan reuses the exchange over the layout scan") {
    val batch = docs.filter($"doc_id" % 3 === 0).limit(40)
    // bucketCap 2 keeps the hot path, and with it every arm that reads
    // the shared exchange, in the final plan
    val probe = BandIndex.probeCandidates(batch, bands, 0.8, NB, 2)
    val got = probe.collect().toSet
    assert(got == BandIndex.probeCandidates(batch, bands, 0.8, NB)
      .collect().toSet, "pair set depends on the bucket cap")
    val plan = probe.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val reusedOverScan = collect(plan) {
      case r: ReusedExchangeExec if collect(r.child) {
        case b: BatchScanExec if b.table.name.startsWith("graft_bands") => b
      }.nonEmpty => r
    }
    assert(reusedOverScan.nonEmpty,
      s"no reused exchange over the layout scan:\n$plan")
  }

  test("a cached layout read never answers a fresh read after an append") {
    val p = s"$Dir/bands_cached"
    fresh(p)
    val (base, more) = (docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1))
    BandIndex.writeBandLayout(BandIndex.buildBands(base, 0.8, NB), p, 0.8,
      NB)
    def read() = spark.read.format("graft.sources.BandsSource")
      .option("path", p).load()
    val cached = read().cache()
    val before = cached.count()
    try {
      assert(BandIndex.appendBandsIdempotent(more, p, 0.8, NB, 1L))
      val added = BandIndex.buildBands(more, 0.8, NB).count()
      assert(added > 0)
      assert(read().count() == before + added)
      assert(read().filter($"bucket" >= 0L).count() == before + added)
    } finally cached.unpersist()
  }
}
