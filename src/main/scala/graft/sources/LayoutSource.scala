package graft.sources

import java.util
import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Serializable carrier for the session's Hadoop configuration so the
  * per-file readers see the same filesystem settings (object-store
  * credentials, custom schemes) as the driver-side listing — a bare
  * `new Configuration()` works on the local fs only.
  * ([[org.apache.spark.util.SerializableConfiguration]] is
  * `private[spark]`, hence this local twin.) */
private[sources] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] object SerializableHadoopConf {
  def active(): SerializableHadoopConf = new SerializableHadoopConf(
    SparkSession.active.sparkContext.hadoopConfiguration)
}

/** What one index layout defines. Everything else — pushdown, runtime
  * narrowing, the pruned listing, statistics, the micro-batch stream,
  * the staged append write — is the one stack in this file. A layout
  * is a directory of commit units (the base plus `_batch-<id>`
  * appends, see [[graft.operators.TxBatch]]), each holding
  * `<partCol>=<n>/` directories of parquet files. */
private[sources] trait Layout extends Serializable {
  /** `postings` | `bands` | `cells`: the `graft.layout_type`, the table
    * and scan names, and the parquet message name of written files. */
  def name: String
  /** The partition directory column (`bucket` or `cell`). */
  def partCol: String
  /** The data columns plus `partCol` (LongType, the directory value). */
  def schema: StructType
  /** A column whose values hash to their partition, if any: a pushed
    * value set on it prunes partitions and is re-checked per row. */
  def keyCol: Option[String] = None
  /** The partition of a `keyCol` value. */
  def partitionOf(key: Any): Long =
    throw new UnsupportedOperationException(s"$name layout has no key")
  /** The geometry shown in the scan description (`nBuckets=16`). */
  def describe: String
  /** The geometry stamp fields, exposed as `graft.<key>` properties. */
  def properties(path: String): Seq[(String, String)]
  /** The per-row write check for rows of `input`; gets the row and its
    * partition value and throws on a row the layout must refuse. */
  def rowCheck(input: StructType): (InternalRow, Long) => Unit

  final def source: String = s"${name.capitalize}Source"
}

/** One layout format's entry points, implemented by the providers'
  * companion objects and shared with [[GraftCatalog]]'s stamp
  * dispatch. */
private[sources] trait LayoutFormat {
  /** The table schema of the layout at `path`. */
  private[sources] def schemaAt(spark: SparkSession, path: String): StructType
  /** Read the layout's geometry stamp, check the caller's options
    * against it (`opt` looks an option up by exact name) and return
    * the layout definition. */
  private[sources] def open(spark: SparkSession, path: String,
      opt: String => Option[String], schema: StructType): Layout
}

/** The DataSource V2 provider behind `graft.sources.PostingsSource`,
  * `BandsSource` and `CellsSource`: option `path` names the layout,
  * the format reads its geometry from the layout's own stamp. */
abstract class LayoutSource private[sources] (format: LayoutFormat)
    extends TableProvider {
  private def pathOf(p: String): String = {
    require(p != null && p.nonEmpty,
      s"graft.sources.${getClass.getSimpleName} needs option 'path'")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schemaAt(SparkSession.active, pathOf(options.get("path")))

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = pathOf(properties.get("path"))
    new LayoutTable(path, format.open(SparkSession.active, path,
      n => Option(properties.get(n)), schema))
  }
}

/** The commit-unit listing every layout read shares. */
object LayoutSource {

  /** Name of the base root in a `roots` allowlist (the layout root
    * itself, as opposed to a `_batch-<id>` append directory). */
  val BaseRoot = "."

  /** Parse a `roots` read option — a comma-separated allowlist of
    * commit-unit names (`.` = the base, `_batch-<id>` = an append).
    * An EMPTY string is an empty allowlist (read nothing), distinct
    * from the option being absent (read everything): the live
    * consumers bound a trigger's corpus to the files of its START
    * offset, and the first trigger's start offset is empty. */
  private[sources] def parseRoots(opt: String): Option[Set[String]] =
    Option(opt).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** `(dir, value)` of every `<partCol>=<value>` directory under the
    * layout's effective commit units: the base (the root
    * pre-compaction, the newest `_base-<gen>` after — the
    * [[graft.operators.TxBatch]] compaction rule) plus the LIVE
    * committed `_batch-*` append roots. `allow` restricts to named
    * commit units (the TxBatch protocol publishes whole unit
    * directories atomically, so a commit-unit allowlist is an exact
    * file-set bound — the offset-threading contract the live
    * consumers rely on). */
  private[sources] def listPartDirs(fs: FileSystem, root: Path,
      partCol: String, allow: Option[Set[String]]): Seq[(Path, Long)] = {
    val units = allowedUnits(fs, root, allow)
    listingFailpoint()
    val prefix = s"$partCol="
    units.flatMap { r =>
      val sts = fs.listStatus(r).toSeq
      requireUnitFresh(root, r, sts)
      sts.filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(s => (s.getPath, s.getPath.getName.stripPrefix(prefix).toLong))
    }
  }

  /** The layout's commit units restricted to an allowlist, with the
    * allowlist TRANSLATED across compactions first
    * ([[graft.operators.TxBatch.translateUnitsPre]]): a live
    * consumer's corpus bound (the trigger's start-offset units)
    * stays exact when a compaction folds units between offset
    * capture and execution — delivered units map onto the new base,
    * a half-processed fold refuses loudly (reading the new base then
    * would over-widen the corpus and reintroduce the duplicate-pair
    * race the bound exists to close). */
  private[sources] def allowedUnits(fs: FileSystem, root: Path,
      allow: Option[Set[String]]): Seq[Path] = {
    val (base, live) = graft.operators.TxBatch.layoutUnitsFs(fs, root)
    val units = base +: live
    allow match {
      case None => units
      case Some(a) =>
        val a2 = graft.operators.TxBatch.translateUnitsPre(fs, root,
          base, live, a, s"roots allowlist at $root")
        units.filter(u => a2.contains(unitName(root, u)))
    }
  }

  /** A commit unit's allowlist name: `.` for the legacy root base,
    * the directory name (`_base-<gen>` / `_batch-<id>`) otherwise. */
  private[sources] def unitName(root: Path, unit: Path): String =
    if (unit == root) BaseRoot else unit.getName

  /** The gen-0 half of the fold/listing TOCTOU detector: a swept
    * `_batch-*`/`_base-*` unit FNFs on its own, but the legacy
    * ROOT-as-base unit never does — a fold's cleanup just deletes its
    * partition directories, so a stale resolution would return a
    * silently EMPTY base instead of crashing. The same `listStatus`
    * result betrays the race for free: a `_base-<gen>` child under a
    * unit that was resolved AS the gen-0 base means a compaction
    * published between resolution and listing — throw the FNF the
    * fold-tolerant retry expects (the retry re-resolves to the new
    * base, or surfaces the allowlist translation refusal). */
  private[sources] def requireUnitFresh(root: Path, unit: Path,
      statuses: Seq[FileStatus]): Unit =
    if (unit == root && statuses.exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("_base-")))
      throw new java.io.FileNotFoundException(
        s"$root: a base generation appeared under the gen-0 root " +
          "mid-listing (concurrent compaction)")

  /** Test failpoint for the fold/listing TOCTOU: invoked by every
    * listing AFTER the commit units are resolved and BEFORE their
    * contents are listed — exactly the window in which a concurrent
    * [[graft.operators.TxBatch.compact]] can sweep a unit the root
    * listing just returned. Specs install a one-shot fold here to hit
    * the race deterministically; production leaves the no-op. */
  @volatile private[graft] var listingFailpoint: () => Unit = () => ()

  /** Is `t` the fold-sweep race's signature? Usually a
    * FileNotFoundException — but Hadoop's RawLocalFileSystem raises a
    * PLAIN IOException ("Invalid directory or I/O error occurred for
    * dir: …") when `File.list()` returns null because the directory
    * vanished between the existence probe and the listing, i.e. the
    * SAME race on a local filesystem (observed: a live BANDS consumer
    * racing an external fold of `_batch-N/bucket=M`). Matched by that
    * Hadoop message shape so the fold-tolerant retry / documented
    * refusal applies instead of leaking the raw IOException; a genuine
    * persistent I/O error still surfaces — wrapped in the loud refusal
    * with the original as cause — after the bounded retries. */
  private[graft] def foldSweepRace(t: Throwable): Boolean = t match {
    case _: java.io.FileNotFoundException => true
    case e: java.io.IOException =>
      // message shape observed on Hadoop 3.4.2's RawLocalFileSystem
      // (listStatus); version-coupled by design — if an upgrade
      // rewords it, this arm stops matching and behavior degrades to
      // the FNF-only handling above (the pre-r17 shape), never to a
      // wrong classification. CoexistenceSoakSpec pins today's shape.
      val m = e.getMessage
      m != null && m.startsWith("Invalid directory or I/O error")
    case _ => false
  }

  /** Run one layout listing fold-tolerantly — the fix for the
    * fold/trigger TOCTOU race: a [[graft.operators.TxBatch.compact]]
    * sweeping a commit unit between the root listing and the per-unit
    * `listStatus` throws FileNotFoundException from inside `body`.
    * The fold is content-preserving and publishes atomically, so ONE
    * fresh attempt sees a complete layout again (and, for allowlisted
    * scans, re-resolves the allowlist through
    * [[graft.operators.TxBatch.translateUnitsPre]], whose own refusal
    * — the documented recovery — surfaces instead of the raw FNF). A
    * second miss inside the retry means the layout is being deleted
    * OUTSIDE the protocol: refuse loudly, never leak the raw FNF. */
  private[sources] def foldTolerant[T](root: Path, context: String)(
      body: => T): T = {
    // a bounded handful of retries, not one: rapid successive folds
    // (a maintenance hook catching up a backlog) can legitimately
    // sweep a unit during the retry's own listing window
    var attempt = 0
    while (attempt < 3) {
      try return body
      catch { case e: java.io.IOException if foldSweepRace(e) =>
        attempt += 1 }
    }
    try body
    catch {
      case e: java.io.IOException if foldSweepRace(e) =>
        throw new IllegalStateException(
          s"$context: commit units at $root keep disappearing " +
            "mid-listing after fold-tolerant retries — the " +
            "layout is being deleted outside the compaction " +
            "protocol. Recovery: stop the consumer and reprocess " +
            "the layout once from scratch under a FRESH " +
            "checkpoint (idempotent TxBatch sinks dedup replayed " +
            "work), or restore the layout from backup.", e)
    }
  }

  /** A fresh hidden staging directory under the layout root. */
  private[sources] def stagingDir(path: String, prefix: String): String =
    new Path(path,
      prefix + java.util.UUID.randomUUID().toString.take(12)).toString
}

private[sources] class LayoutTable(path: String, layout: Layout)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_${layout.name}($path)"
  override def schema(): StructType = layout.schema

  /** The operational TBLPROPERTIES — what makes `DESCRIBE EXTENDED
    * graft.ns.layout` answer the questions an operator actually asks
    * of a maintained index: which layout type and geometry (the
    * `_graft_meta.json` stamp fields, plus the centroid version for
    * cell layouts), which base generation is current (how many folds
    * have run) and how many LIVE committed batches a reader's union
    * currently fans into (the maintenance-pressure signal —
    * [[graft.operators.TxBatch.maintainCompact]]'s input). Computed at
    * call time from ONE root listing, so the answer reflects the
    * layout NOW, not at table-resolution time. */
  override def properties(): util.Map[String, String] = {
    val m = new util.LinkedHashMap[String, String]()
    m.put("graft.layout_type", layout.name)
    layout.properties(path).foreach { case (k, v) => m.put(s"graft.$k", v) }
    // Spark invokes Table.properties() in metadata paths where no
    // active session is guaranteed — degrade to the geometry-only map
    // there instead of throwing; the listing-derived fields need a
    // session only for the hadoopConfiguration.
    SparkSession.getActiveSession.foreach { s =>
      val root = new Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      LayoutSource.foldTolerant(root, s"layout properties at $path") {
        val (base, live) = graft.operators.TxBatch.layoutUnitsFs(fs, root)
        val gen =
          if (base == root) 0L
          else base.getName.stripPrefix("_base-").toLong
        m.put("graft.base_generation", gen.toString)
        m.put("graft.live_batches", live.size.toString)
      }
    }
    m
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LayoutScanBuilder(path, layout,
      LayoutSource.parseRoots(options.get("roots")))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LayoutWriteBuilder(path, layout, info.schema(),
      SerializableHadoopConf.active())
}

/** Supported pushdown: EqualTo/In on the partition column (direct
  * pruning) and on the layout's key column (each value maps to its
  * partition; the key set is ALSO re-checked by the reader, so the
  * pushed filters are accepted, not merely advisory). Everything else
  * is returned to Spark as a post-scan filter. Column pruning is
  * honored. */
private[graft] class LayoutScanBuilder(path: String, layout: Layout,
    roots: Option[Set[String]])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = layout.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) =
      filters.partition(LayoutScan.values(layout, _).isDefined)
    pushed = supported
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new LayoutScan(path, layout, required,
    pushed, SerializableHadoopConf.active(), roots)
}

/** The layout scan: a pruned file listing (one InputPartition per
  * data file), statistics over it, runtime narrowing and the
  * micro-batch stream of the layout's own appends.
  *
  * Value equality: Spark's `BatchScanExec.equals` compares the scans'
  * `Batch` objects, and this scan is its own batch, so two reads of
  * one layout canonicalize equal — and `ReuseExchange` and AQE's
  * stage cache share their exchange — only if the scans are equal, so
  * an operator that reads one DataFrame in several plan arms
  * ([[graft.operators.CandidatePairs.fromBuckets]]) scans the layout
  * once, not once per arm. Two scans are equal when they
  * read the same rows: the same `path`, [[Layout]] (a case class:
  * geometry and schema), pruned `required` schema, `roots` allowlist
  * and narrowed partition and key sets — the pushed filters are
  * captured exactly by those sets, so their order is not compared, and
  * `hconf` is not compared. `hashCode` leaves the two sets out: a
  * runtime [[filter]] narrows them in place after the scan may already
  * sit in a hash map, and a hash must not change under it. Reuse never
  * crosses queries: each query plans its own scans and lists the
  * layout when it runs. */
private[graft] class LayoutScan(private val path: String,
    private val layout: Layout, private val required: StructType,
    pushed: Array[Filter], hconf: SerializableHadoopConf,
    private val roots: Option[Set[String]])
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics {

  /** None = no predicate on that column → every partition / key. */
  @volatile private var parts: Option[Set[Long]] = None
  @volatile private var keys: Option[Set[Any]] = None
  narrow(pushed)

  /** The filter array is a CONJUNCTION: each filter's value set is a
    * constraint of its own, so the sets INTERSECT (term = 'a' AND
    * term = 'b' matches nothing). Unioning would return rows matching
    * EITHER value — and since pushed filters are reported as accepted,
    * Spark adds no post-scan filter to catch it. Runtime filters
    * narrow the same sets: dropping rows absent from a join's build
    * side is always safe, the join would drop them anyway. */
  private def narrow(filters: Array[Filter]): Unit = {
    filters.foreach(f => LayoutScan.values(layout, f).foreach {
      case (c, vs) if c == layout.partCol =>
        val ps = vs.map(_.asInstanceOf[Long])
        parts = Some(parts.fold(ps)(_ intersect ps))
      case (_, vs) => keys = Some(keys.fold(vs)(_ intersect vs))
    })
    keys.foreach { ks =>
      val ps = ks.map(layout.partitionOf)
      parts = Some(parts.fold(ps)(_ intersect ps))
    }
  }

  /** Only attributes surviving column pruning may be offered — Spark
    * resolves these against the scan OUTPUT when it wires the
    * runtime-filter subquery. */
  override def filterAttributes(): Array[NamedReference] =
    (layout.keyCol.toSeq :+ layout.partCol)
      .filter(required.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = narrow(filters)

  override def equals(other: Any): Boolean = other match {
    case o: LayoutScan => path == o.path && layout == o.layout &&
      required == o.required && roots == o.roots &&
      parts == o.parts && keys == o.keys
    case _ => false
  }

  override def hashCode(): Int = (path, layout, required, roots).##

  /** Driver-side pruned listing `(file, partition, bytes)`: only the
    * kept partitions' directories are listed at all. Computed per call
    * so runtime filters applied between planning and execution take
    * effect. Fold-tolerant: a concurrent TxBatch.compact sweeping a
    * unit between the root listing and the per-unit listing retries
    * against a fresh listing instead of crashing the scan. */
  private[graft] def files: Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hconf.value)
    val kept = parts
    LayoutSource.foldTolerant(root, s"${layout.source} scan at $path") {
      LayoutSource.listPartDirs(fs, root, layout.partCol, roots)
        .filter { case (_, p) => kept.forall(_.contains(p)) }
        .flatMap { case (dir, p) =>
          fs.listStatus(dir).toSeq
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath.toString, p, f.getLen))
        }
    }
  }

  /** Statistics over the PRUNED listing — a probe touching a few
    * partition files reports their byte size, so Catalyst's own
    * autoBroadcastJoinThreshold can elect to broadcast it without a
    * manual hint. Row count is left unknown (compressed parquet bytes
    * under-estimate rows; size is the broadcast decision input). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(_._3).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  override def readSchema(): StructType = required

  private def show[T: Ordering](s: Option[Set[T]]): String =
    s.map(_.toSeq.sorted.mkString("{", ",", "}")).getOrElse("ALL")

  override def description(): String =
    s"Graft${layout.name.capitalize}Scan path=$path ${layout.describe} " +
      s"${layout.partCol}s=${show(parts)} roots=${show(roots)} " +
      s"files=${files.size} PushedFilters: [${pushed.mkString(", ")}]"

  override def toBatch: Batch = this

  /** The layout as a micro-batch STREAM of its own appends: each
    * trigger delivers exactly the parquet files that appeared since
    * the last committed offset (the append / DSv2-write / TxBatch
    * maintenance contract adds files, never rewrites) — the live feed
    * an incremental consumer tails instead of re-scanning the layout.
    * Offsets are the set of files seen; compile-time pruning applies
    * to the discovery listing exactly as to a batch scan. The offset
    * set stays proportional to FILE count (appends are batch-grained),
    * not rows. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LayoutMicroBatchStream(this)

  override def planInputPartitions(): Array[InputPartition] =
    files.map { case (f, p, _) => LayoutInputPartition(f, p): InputPartition }
      .toArray

  /** The partitions of the files in `now` not yet delivered by `seen`.
    * A compaction between triggers rewrote file identity: the
    * committed offset is translated through the fold history
    * (delivered units map onto the new base) instead of re-delivering
    * the world — refusing loudly if the fold outran the consumer. */
  private[sources] def newPartitions(seen: Set[String],
      now: Set[String]): Array[InputPartition] = {
    val root = new Path(path)
    val delivered = graft.operators.TxBatch.translateOffsetFiles(
      root.getFileSystem(hconf.value), root, seen, now,
      s"${layout.source} stream at $path")
    val prefix = s"${layout.partCol}="
    (now -- delivered).toSeq.sorted.map { f =>
      val p = new Path(f).getParent.getName.stripPrefix(prefix).toLong
      LayoutInputPartition(f, p): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LayoutReaderFactory(layout, required, keys, hconf)
}

private[sources] object LayoutScan {
  /** The value set an EqualTo/In filter pins a partition or key column
    * to — Int or Long values as Long on integral columns, Strings on
    * string columns; None for any other filter. Pushdown and runtime
    * filtering both read filters through this one extractor. */
  def values(layout: Layout, f: Filter): Option[(String, Set[Any])] = {
    val (col, vs) = f match {
      case EqualTo(c, v) => (c, Seq(v))
      case In(c, vs) => (c, vs.toSeq)
      case _ => return None
    }
    if (col != layout.partCol && !layout.keyCol.contains(col)) None
    else {
      val norm: PartialFunction[Any, Any] = layout.schema(col).dataType match {
        case StringType => { case s: String => s }
        case _ => {
          case i: Int => i.toLong
          case l: Long => l
        }
      }
      if (vs.forall(norm.isDefinedAt)) Some(col -> vs.map(norm).toSet)
      else None
    }
  }
}

/** Offset = the set of layout files already delivered, serialized as
  * ONE LINE of compact JSON (a sorted array of paths). Spark's
  * OffsetSeqLog stores one offset per line of the checkpoint offset
  * log, so a multi-line `json()` corrupts the log the moment an offset
  * covers ≥ 2 files (the first micro-batch delivers the whole layout)
  * — restart-from-checkpoint would then fail or replay. Jackson does
  * the quoting, so arbitrary path characters round-trip. (A production
  * source would log manifests instead of enumerating, the
  * FileStreamSource trade.) */
private[sources] case class LayoutOffset(files: Set[String]) extends Offset {
  override def json(): String =
    LayoutOffset.mapper.writeValueAsString(files.toSeq.sorted.toArray)
}

private[sources] object LayoutOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def fromJson(json: String): LayoutOffset = {
    val t = json.trim
    if (t.startsWith("["))
      LayoutOffset(mapper.readValue(t, classOf[Array[String]]).toSet)
    else
      // legacy newline format: only ever valid when the committed
      // offset held ≤ 1 file (multi-file offsets never round-tripped)
      LayoutOffset(t.split("\n").filter(_.nonEmpty).toSet)
  }
}

private[sources] class LayoutMicroBatchStream(scan: LayoutScan)
    extends MicroBatchStream {
  override def initialOffset(): Offset = LayoutOffset(Set.empty)
  override def latestOffset(): Offset =
    LayoutOffset(scan.files.map(_._1).toSet)
  override def deserializeOffset(json: String): Offset =
    LayoutOffset.fromJson(json)
  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    scan.newPartitions(start.asInstanceOf[LayoutOffset].files,
      end.asInstanceOf[LayoutOffset].files)
  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class LayoutInputPartition(file: String, part: Long)
    extends InputPartition

private[sources] class LayoutReaderFactory(layout: Layout,
    required: StructType, keys: Option[Set[Any]],
    hconf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LayoutInputPartition]
    new LayoutPartitionReader(p.file, p.part, layout, required, keys, hconf)
  }
}

/** Row-group reader over one data file: parquet-hadoop Group API (a
  * probe reads a few small files of the pruned partitions, where scan
  * setup, not decode vectorization, dominates), the pushed key set
  * re-checked per row, required columns only, the partition column
  * filled from the directory value. */
private[sources] class LayoutPartitionReader(file: String, part: Long,
    layout: Layout, required: StructType, keys: Option[Set[Any]],
    hconf: SerializableHadoopConf) extends PartitionReader[InternalRow] {

  private val reader = ParquetReader
    .builder(new GroupReadSupport(), new Path(file))
    .withConf(hconf.value).build()

  /** Key values in their Catalyst form, as the codec reads them. */
  private val keySet: Option[Set[Any]] = keys.map(_.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  })

  private var current: Group = _
  /** Field readers, resolved against the file's message type on the
    * first row (every row group of one file shares it). */
  private var columns: Array[Group => Any] = _
  private var key: Group => Any = _

  private def resolve(g: Group): Unit = {
    def field(name: String): Group => Any =
      ParquetRowCodec.reader(name, g.getType.getFieldIndex(name),
        layout.schema(name).dataType)
    columns = required.fieldNames.map(n =>
      if (n == layout.partCol) (_: Group) => part else field(n))
    key = layout.keyCol.map(field).orNull
  }

  override def next(): Boolean = {
    var g = reader.read()
    if (g != null && columns == null) resolve(g)
    while (g != null && keySet.exists(ks => !ks(key(g)))) g = reader.read()
    current = g
    g != null
  }

  override def get(): InternalRow =
    new GenericInternalRow(columns.map(_(current)))

  override def close(): Unit = reader.close()
}

/** DSv2 APPEND write path — the layout's index-maintenance contract
  * through the connector: partition directories gain files, nothing is
  * rewritten. Each task keeps one open parquet writer per partition it
  * sees, writes uniquely-named files under a hidden staging root and
  * reports them in its commit message; the job commit publishes them
  * ([[LayoutBatchWrite]], or [[LayoutStreamingWrite]] per epoch), an
  * abort deletes the staged files. Every row passes the layout's
  * [[Layout.rowCheck]] first — a mis-partitioned row would silently
  * vanish from every pruned probe, so it is an error, not a trust. */
private[graft] class LayoutWriteBuilder(path: String, layout: Layout,
    input: StructType, hconf: SerializableHadoopConf) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new LayoutBatchWrite(path, layout, input, hconf)
    override def toStreaming: StreamingWrite = {
      val streamRoot = LayoutSource.stagingDir(path, ".staging-stream-")
      new LayoutStreamingWrite(path, hconf,
        new LayoutWriterFactory(streamRoot, layout, input, hconf),
        streamRoot)
    }
  }
}

/** Per-task commit message: partition-relative staged file names
  * (`bucket=N/part-...`), resolved against the staging root. */
private[sources] case class LayoutCommit(files: Seq[String])
    extends WriterCommitMessage

/** Staged-rename batch write: every task writes its files under a
  * job-unique hidden staging root (`.staging-<id>/bucket=N/…`), which
  * readers never list (the scan lists only partition dirs of commit
  * units; parquet listings skip dot-paths). [[commit]] moves the
  * committed tasks' files into the partition directories — so a
  * driver failure BEFORE commit leaves nothing visible, closing the
  * window a write-in-place scheme has (some tasks committed, job abort
  * never ran ⇒ a half batch permanently visible). The residual
  * envelope is a crash MID-commit (some renames applied): strictly
  * smaller, and repairable — the leftover `.staging-*` directory is
  * the detection marker, and re-running the append restores the
  * intent. */
private[sources] class LayoutBatchWrite(path: String, layout: Layout,
    input: StructType, hconf: SerializableHadoopConf) extends BatchWrite {

  private val stagingRoot = LayoutSource.stagingDir(path, ".staging-")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new LayoutWriterFactory(stagingRoot, layout, input, hconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(hconf.value)
    messages.foreach {
      case LayoutCommit(rels) => rels.foreach { rel =>
        val dst = new Path(path, rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(new Path(stagingRoot, rel), dst))
          throw new java.io.IOException(
            s"${layout.source} commit: rename of staged $rel failed")
      }
      case _ => ()
    }
    fs.delete(new Path(stagingRoot), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    new Path(path).getFileSystem(hconf.value)
      .delete(new Path(stagingRoot), true)
}

/** Writers for the batch lane (staged under `root`) and the streaming
  * lane (staged under the epoch's own `root/<epoch>` subdirectory,
  * epoch id ≡ the TxBatch batch id the commit publishes). */
private[sources] class LayoutWriterFactory(root: String, layout: Layout,
    input: StructType, hconf: SerializableHadoopConf)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LayoutDataWriter(root, layout, input, hconf, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LayoutDataWriter(s"$root/$epochId", layout, input, hconf,
      partitionId, taskId)
}

private[sources] class LayoutDataWriter(stagingRoot: String,
    layout: Layout, input: StructType, hconf: SerializableHadoopConf,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  /** Payload = the layout schema minus the partition directory value. */
  private val payload = layout.schema.filter(_.name != layout.partCol)
  private val fileType = ParquetRowCodec.messageType(layout.name, payload)
  private val factory = new SimpleGroupFactory(fileType)
  private val appenders = payload.map(ParquetRowCodec.appender(input, _))
  private val partOf = ParquetRowCodec.longAt(input, layout.partCol)
  private val check = layout.rowCheck(input)

  private val open =
    scala.collection.mutable.Map.empty[Long, ParquetWriter[Group]]
  /** partition-relative staged names, echoed in the commit message */
  private val files = scala.collection.mutable.ArrayBuffer.empty[String]

  private def writerFor(part: Long): ParquetWriter[Group] =
    open.getOrElseUpdate(part, {
      val rel = s"${layout.partCol}=$part/part-$partitionId-$taskId-" +
        java.util.UUID.randomUUID().toString.take(8) + ".parquet"
      files += rel
      ExampleParquetWriter.builder(new Path(stagingRoot, rel))
        .withType(fileType).withConf(hconf.value).build()
    })

  override def write(r: InternalRow): Unit = {
    val part = partOf(r)
    check(r, part)
    val g = factory.newGroup()
    appenders.foreach(_(g, r))
    writerFor(part).write(g)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.close())
    LayoutCommit(files.toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach(w => scala.util.Try(w.close()))
    val fs = new Path(stagingRoot).getFileSystem(hconf.value)
    files.foreach(f => fs.delete(new Path(stagingRoot, f), false))
  }

  override def close(): Unit = ()
}
