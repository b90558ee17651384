package graft

import graft.operators.{BandIndex, InvertedIndex, IvfIndex}
import graft.sources.{BandsSource, LayoutInputPartition, LayoutScan, LayoutSource}
import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * across queries. A scan packs its small files into at most one input
  * partition per core, reads the same rows as Spark's own parquet
  * reader, and ships its Hadoop conf as a broadcast. */
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

  /** `(file, partition value)` of every parquet file under the layout
    * root and its `_batch-*` append units, from the local filesystem. */
  private def layoutFiles(path: String, partCol: String): Seq[(String, Long)] = {
    def dirs(d: java.io.File, prefix: String) =
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .sortBy(_.getName)
    val root = new java.io.File(path)
    for {
      unit <- root +: dirs(root, "_batch-")
      part <- dirs(unit, s"$partCol=")
      f <- part.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".parquet")
    } yield (f.getPath, part.getName.stripPrefix(s"$partCol=").toLong)
  }

  /** The test-scope oracle: every layout file read by Spark's own
    * parquet reader with its directory's partition value, in the
    * layout read's column order. */
  private def plainRead(path: String, partCol: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val payload = org.apache.spark.sql.types.StructType(
      schema.filter(_.name != partCol))
    layoutFiles(path, partCol).map { case (f, v) =>
      spark.read.schema(payload).parquet(f).withColumn(partCol, lit(v))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }.reduce(_ union _)
  }

  /** A frame's rows as a sorted multiset of printable values. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(show).sorted

  private def show(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")

  private def packed(scan: LayoutScan): Seq[Seq[(String, Long)]] =
    scan.planInputPartitions().toSeq
      .map(_.asInstanceOf[LayoutInputPartition].files)

  test("a layout with more files than the default parallelism plans at " +
      "most that many packed partitions; its rows equal a plain parquet " +
      "read's, with and without a pushed key set") {
    val par = spark.sparkContext.defaultParallelism
    Seq(("graft.sources.PostingsSource", postings, "bucket", Some("term")),
        ("graft.sources.BandsSource", bands, "bucket", Some("band_hash")),
        ("graft.sources.CellsSource", cells, "cell", None))
      .foreach { case (format, path, partCol, keyCol) =>
        val read = spark.read.format(format).option("path", path).load()
        val all = scanIn(read)
        val plan = packed(all)
        assert(all.files.size > par && plan.size <= par,
          s"$format: ${all.files.size} files in ${plan.size} partitions")
        assert(plan.flatten.map(_._1) == all.files.map(_._1),
          s"$format: every listed file once, in listing order")
        val oracle = plainRead(path, partCol, read.schema)
        assert(rowsOf(read) == rowsOf(oracle), s"$format: full read")
        val someParts = partitions(path, partCol).take(3)
        val byPart = col(partCol).isin(someParts: _*)
        assert(rowsOf(read.filter(byPart)) == rowsOf(oracle.filter(byPart)),
          s"$format: pushed partition set")
        keyCol.foreach { k =>
          // a packed partition's middle file holds no pushed key: one
          // present key of every other partition, and for that file's
          // partition a key it hashes to but the layout does not hold
          val group = plan.find(_.size >= 3)
            .getOrElse(fail(s"$format: no partition of 3 files: $plan"))
          val mid = group(1)._2
          val present = read.groupBy(col(partCol)).agg(first(col(k)).as("k"))
            .collect().toSeq.collect { case r if r.getLong(0) != mid => r.get(1) }
          val absent: Any = k match {
            case "term" => Iterator.from(0).map(i => s"absent-$i")
              .find(t => InvertedIndex.bucketOf(t, NB) == mid).get
            case _ =>
              val held = read.select(k).as[Long].collect().toSet
              Iterator.iterate(0L)(_ + 1).find(h =>
                BandsSource.bucketOf(h, NB) == mid && !held(h)).get
          }
          val keys = present :+ absent
          val keyed = read.filter(col(k).isin(keys: _*))
          val keyedPlan = packed(scanIn(keyed))
          assert(keyedPlan.exists(fs => fs.size >= 3 &&
            fs.slice(1, fs.size - 1).exists(_._2 == mid)),
            s"$format: no packed partition with a keyless middle file: $keyedPlan")
          val want = rowsOf(oracle.filter(col(k).isin(keys: _*)))
          assert(want.size >= present.size)
          assert(rowsOf(keyed) == want, s"$format: pushed key set")
        }
      }
  }

  test("the micro-batch stream delivers each appended file's rows exactly " +
      "once across two triggers, in packed partitions") {
    val p = s"$Dir/bands_stream"
    val ckpt = s"$Dir/bands_stream_ckpt"
    fresh(p, ckpt)
    val (base, more) = (docs.filter($"doc_id" % 2 === 0),
      docs.filter($"doc_id" % 2 === 1))
    BandIndex.writeBandLayout(BandIndex.buildBands(base, 0.8, NB), p, 0.8,
      NB)
    val schema = spark.read.format("graft.sources.BandsSource")
      .option("path", p).load().schema
    val baseFiles = layoutFiles(p, "bucket").size
    val baseRows = rowsOf(plainRead(p, "bucket", schema))
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Int, Seq[String])]
    val q = spark.readStream.format("graft.sources.BandsSource")
      .option("path", p).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
        got.put(id.longValue, (df.rdd.getNumPartitions, rowsOf(df)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(BandIndex.appendBandsIdempotent(more, p, 0.8, NB, 1L))
      q.processAllAvailable()
    } finally q.stop()
    val batchFiles = layoutFiles(p, "bucket").size - baseFiles
    val par = spark.sparkContext.defaultParallelism
    val triggers = got.toSeq.sortBy(_._1).map(_._2).filter(_._2.nonEmpty)
    assert(triggers.size == 2, got.keys)
    val Seq((parts0, rows0), (parts1, rows1)) = triggers
    assert(rows0 == baseRows, "first trigger: the base")
    assert((rows0 ++ rows1).sorted ==
      rowsOf(plainRead(p, "bucket", schema)), "second trigger: the append")
    assert(baseFiles > par && parts0 <= par,
      s"$baseFiles base files in $parts0 partitions")
    assert(batchFiles > par && parts1 <= par,
      s"$batchFiles appended files in $parts1 partitions")
    fresh(p, ckpt)
  }

  test("a serialized reader factory is small: the scan broadcasts its " +
      "Hadoop conf instead of carrying it") {
    Seq(("graft.sources.PostingsSource", postings),
        ("graft.sources.BandsSource", bands),
        ("graft.sources.CellsSource", cells))
      .foreach { case (format, path) =>
        val bytes = new java.io.ByteArrayOutputStream()
        val out = new java.io.ObjectOutputStream(bytes)
        out.writeObject(scanOf(format, path).createReaderFactory())
        out.close()
        assert(bytes.size < 16 * 1024, s"$format: ${bytes.size} bytes")
      }
  }

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
