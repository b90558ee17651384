package graft.sources

import scala.jdk.CollectionConverters._

import graft.operators.IvfIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** DataSource V2 connector for the [[IvfIndex.writeCellLayout]] IVF
  * cell layout: a `cell` predicate against this source is pushed INTO
  * the scan and prunes unprobed cell directories at file-listing time,
  * runtime (DPP-style) filters from a probe-derived join narrow the
  * listing further at execution time, and the scan reports statistics
  * over the PRUNED listing so a probe-sized read broadcasts without a
  * manual hint. At 100 TB this is the nprobe/k contract made visible
  * on the scan node itself — "the probe touches 4/16 of the vectors"
  * is the description string, not a helper's claim.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.CellsSource")
  *     .option("path", layoutPath).load()
  *     .filter($"cell".isin(probedCells: _*))
  * }}}
  *
  * Unlike the term/band layouts (fixed schemas), a cell layout carries
  * whatever payload its builder assigned alongside the partition key —
  * raw vectors (`vec_id, v`), PQ codes (`vec_id, code_1..code_m`) — so
  * the connector infers the DATA schema from the layout's own parquet
  * footer and appends the `cell` partition column. Geometry (`k`,
  * `dim`) comes from the layout's `_graft_meta.json` stamp
  * ([[IvfIndex.writeCellLayout]]); a geometry-less layout is refused.
  * This file holds only the cell layout's definition ([[CellsLayout]]);
  * the scan, stream and write path are the shared [[LayoutSource]]
  * stack. */
class CellsSource extends LayoutSource(CellsSource)

object CellsSource extends LayoutFormat {

  /** Data schema from the first data file's parquet footer, plus the
    * `cell` partition column (LongType — partition-directory values).
    * One footer read at plan time; the layout writer (ONE relation,
    * `partitionBy("cell")`) guarantees schema uniformity. */
  def layoutSchema(s: SparkSession, path: String): StructType = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // fold-tolerant like the scans: a fold can sweep the first-listed
    // file between the listing and the footer open
    LayoutSource.foldTolerant(root, s"CellsSource schema at $path") {
      val first = LayoutSource.listPartDirs(fs, root, "cell", None)
        .iterator.flatMap { case (dir, _) =>
          fs.listStatus(dir).iterator
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(_.getPath)
        }.take(1).toSeq.headOption.getOrElse(
          throw new IllegalArgumentException(
            s"cell layout at $path has no data files"))
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first, conf))
      val mt =
        try reader.getFooter.getFileMetaData.getSchema
        finally reader.close()
      StructType(mt.getFields.asScala.toSeq.map(f =>
        StructField(f.getName, ParquetRowCodec.catalystType(f),
          nullable = true)) :+
        StructField("cell", LongType, nullable = false))
    }
  }

  private[sources] def schemaAt(spark: SparkSession,
      path: String): StructType = layoutSchema(spark, path)

  /** Geometry-less layouts are refused at open time; explicit k/dim
    * options (the append-side declaration of what the caller THINKS it
    * is writing into) must match the stamp — the
    * BandIndex.requireGeometry rule. */
  private[sources] def open(spark: SparkSession, path: String,
      opt: String => Option[String], schema: StructType): Layout = {
    val (k, dim) = IvfIndex.readCellMeta(spark, path)
    opt("k").foreach(v => require(v.toInt == k,
      s"cell-layout geometry mismatch at $path: layout has k=$k, " +
        s"option asked for k=$v"))
    opt("dim").foreach(v => require(v.toInt == dim,
      s"cell-layout geometry mismatch at $path: layout has dim=$dim, " +
        s"option asked for dim=$v"))
    CellsLayout(k, dim, schema)
  }

  /** The layout listing's test failpoint, under the name the specs
    * install it by (see [[LayoutSource.listingFailpoint]]). */
  private[graft] def listingFailpoint: () => Unit =
    LayoutSource.listingFailpoint
  private[graft] def listingFailpoint_=(f: () => Unit): Unit =
    LayoutSource.listingFailpoint = f
}

/** The IVF cell layout: partitions are cells `1..k`, no key column.
  * Per-row write enforcement: `cell` must lie in [1, k] (a row assigned
  * against different centroids silently vanishes from every pruned
  * probe), `vec_id` must be non-negative (the live probe's sign-flip
  * encoding reserves negatives for batch ids) and a raw-vector payload
  * `v` must carry exactly `dim` elements. */
private[sources] case class CellsLayout(k: Int, dim: Int,
    schema: StructType) extends Layout {
  def name: String = "cells"
  def partCol: String = "cell"
  def describe: String = s"k=$k"
  /** Geometry plus the centroid version ANN probes must match. */
  def properties(path: String): Seq[(String, String)] =
    Seq("k" -> k.toString, "dim" -> dim.toString) ++
      SparkSession.getActiveSession
        .flatMap(IvfIndex.readCentroidVersion(_, path))
        .map("centroid_version" -> _).toSeq

  def rowCheck(input: StructType): (InternalRow, Long) => Unit = {
    val iVecId = input.fieldNames.indexOf("vec_id")
    val iV = if (schema.fieldNames.contains("v") &&
      schema("v").dataType.isInstanceOf[ArrayType]) input.fieldIndex("v")
      else -1
    (r, cell) => {
      if (cell < 1 || cell > k) throw new IllegalArgumentException(
        s"CellsSource write: cell $cell is outside [1, $k] — the row " +
          "was assigned against different centroids (geometry mismatch)")
      if (iVecId >= 0 && !r.isNullAt(iVecId) && r.getLong(iVecId) < 0)
        throw new IllegalArgumentException(
          s"CellsSource write: vec_id ${r.getLong(iVecId)} is negative — " +
            "the probe sign-flip encoding reserves negatives for batch ids")
      if (iV >= 0 && !r.isNullAt(iV) && r.getArray(iV).numElements() != dim)
        throw new IllegalArgumentException(
          s"CellsSource write: vector of ${r.getArray(iV).numElements()} " +
            s"elements does not match the layout dim=$dim — a " +
            "wrong-dimension vector corrupts every cosine it enters")
    }
  }
}
