package graft

import graft.operators.{BandIndex, InvertedIndex, IvfIndex}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The on-disk format the three layout connectors write, pinned: the
  * parquet message type of a file a DSv2 append publishes (field
  * names, physical types, `required`/`optional` repetition, list
  * shape), and the streaming offset a checkpoint's offset log holds
  * (one line, a sorted JSON array of file paths — the shape existing
  * checkpoints resume from). Row-parity specs compare values only, so
  * a `required` → `optional` drift would pass them unnoticed. */
class LayoutFormatSpec extends SparkSuite {
  import spark.implicits._

  private val NB = 16
  private val Tau = 0.8
  private val K = 16
  private val Dir = "/tmp/graft_layout_format"

  private def fresh(paths: String*): Unit = paths.foreach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))

  private def parquetFiles(root: String): Set[String] =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(root),
      Array("parquet"), true).toArray.map(_.toString).toSet

  private def footer(file: String): MessageType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getSchema
    finally r.close()
  }

  /** Append `rows` through the connector; return the message type of
    * every file the append published (asserting there is at least
    * one and that they all agree). */
  private def writtenTypes(format: String, path: String,
      rows: org.apache.spark.sql.DataFrame,
      opts: (String, String)*): MessageType = {
    val before = parquetFiles(path)
    rows.write.format(format).option("path", path).options(opts.toMap)
      .mode(SaveMode.Append).save()
    val added = parquetFiles(path) -- before
    assert(added.nonEmpty, s"$format append published no file")
    val types = added.map(footer)
    assert(types.size == 1, s"$format files disagree: $types")
    types.head
  }

  private def docs = Tables.documents(spark, sf).select($"doc_id", $"text")
  private lazy val emb = Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding".cast("array<double>").as("v"))
  private lazy val cents = IvfIndex.learnCentroids(emb, K, 1)

  private def postingsLayout(p: String): Unit = {
    fresh(p, p + ".stats")
    val base = docs.filter($"doc_id" % 2 === 0)
    val stats = base.select(size(split($"text", " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    InvertedIndex.writeTermLayout(InvertedIndex.buildPostings(base, NB),
      stats, p, NB)
  }

  private def bandsLayout(p: String): Unit = {
    fresh(p)
    BandIndex.writeBandLayout(
      BandIndex.buildBands(docs.filter($"doc_id" % 2 === 0), Tau, NB),
      p, Tau, NB)
  }

  private def cellsLayout(p: String): Unit = {
    fresh(p)
    IvfIndex.writeCellLayout(
      IvfIndex.assignCells(emb.filter($"vec_id" % 2 === 0), cents), p, K,
      cents.head.length)
  }

  test("postings files written through the connector keep their " +
      "required message type") {
    val p = s"$Dir/postings"
    postingsLayout(p)
    val rows = InvertedIndex.buildPostings(docs.filter($"doc_id" % 2 === 1),
      NB).select($"term", $"doc_id", $"dl", $"tf",
      $"bucket".cast("long").as("bucket"))
    val got = writtenTypes("graft.sources.PostingsSource", p, rows,
      "nBuckets" -> NB.toString)
    assert(got == MessageTypeParser.parseMessageType(
      """message postings {
        |  required binary term (UTF8);
        |  required int64 doc_id;
        |  required int64 dl;
        |  required int64 tf;
        |}""".stripMargin), got.toString)
  }

  test("bands files written through the connector keep their required " +
      "message type; an int64 band_no input is narrowed to int32") {
    val p = s"$Dir/bands"
    bandsLayout(p)
    val rows = BandIndex.buildBands(docs.filter($"doc_id" % 2 === 1), Tau,
      NB).select($"doc_id", $"band_no".cast("long").as("band_no"),
      $"band_hash", $"bucket".cast("long").as("bucket"))
    val got = writtenTypes("graft.sources.BandsSource", p, rows)
    assert(got == MessageTypeParser.parseMessageType(
      """message bands {
        |  required int64 doc_id;
        |  required int32 band_no;
        |  required int64 band_hash;
        |}""".stripMargin), got.toString)
  }

  test("cells files written through the connector carry optional " +
      "payload fields in the three-level list shape") {
    val p = s"$Dir/cells"
    cellsLayout(p)
    val rows = IvfIndex.assignCells(emb.filter($"vec_id" % 2 === 1), cents)
    val got = writtenTypes("graft.sources.CellsSource", p, rows)
    assert(got == MessageTypeParser.parseMessageType(
      """message cells {
        |  optional int64 vec_id;
        |  optional group v (LIST) {
        |    repeated group list { optional double element; }
        |  }
        |}""".stripMargin), got.toString)
  }

  test("each layout's streaming checkpoint offset log holds a one-line " +
      "sorted JSON array of the delivered files") {
    val layouts = Seq(
      ("graft.sources.PostingsSource", s"$Dir/s_postings",
        () => postingsLayout(s"$Dir/s_postings")),
      ("graft.sources.BandsSource", s"$Dir/s_bands",
        () => bandsLayout(s"$Dir/s_bands")),
      ("graft.sources.CellsSource", s"$Dir/s_cells",
        () => cellsLayout(s"$Dir/s_cells")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    layouts.foreach { case (format, p, build) =>
      build()
      val ckpt = p + "_ckpt"
      val out = p + "_out"
      fresh(ckpt, out)
      val q = spark.readStream.format(format).option("path", p).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      // OffsetSeqLog: a version line, a metadata line, then ONE line
      // per source offset
      val lines = scala.io.Source.fromFile(s"$ckpt/offsets/0", "UTF-8")
        .getLines().toList
      assert(lines.size == 3, s"$format offset log: $lines")
      val offset = lines(2)
      val node = mapper.readTree(offset)
      assert(node.isArray, s"$format offset is not a JSON array: $offset")
      val files = (0 until node.size).map(node.get(_).asText)
      assert(files.size >= 2 && files == files.sorted,
        s"$format offset must list >= 2 files, sorted: $offset")
      assert(files.map(f => new Path(f).toUri.getPath).toSet ==
        parquetFiles(p),
        s"$format offset must name exactly the layout's files")
      assert(offset == mapper.writeValueAsString(files.toArray),
        s"$format offset must be compact Jackson JSON: $offset")
    }
  }
}
