package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Threads a micro-batch's START offset out of the stream's own
  * checkpoint so the live consumers can bound their corpus read to the
  * layout state their trigger was PLANNED against.
  *
  * Why this exists: the index-layout streams define a trigger's corpus
  * as "everything committed before the arriving batch". A consumer
  * that re-lists the layout at trigger-EXECUTION time races the
  * writer — a batch committed between offset capture and foreachBatch
  * execution lands on the corpus side of trigger N and then arrives as
  * trigger N+1, publishing the same pair twice in reversed
  * orientation. The start offset (the file set already delivered
  * before this trigger) IS the pre-state, exactly.
  *
  * Where it comes from: Spark 4's foreachBatch frame is a LogicalRDD —
  * the planned scan (and its offsets) is not in the frame — but the
  * stream's OffsetSeqLog is: `<checkpoint>/offsets/<batchId>` records
  * the END offset trigger `batchId` reads up to, written BEFORE the
  * trigger executes, so trigger N's start offset is the entry at
  * N − 1 (empty for N = 0). Reading it is replay-stable: a retried
  * trigger re-reads the identical committed entry.
  *
  * The offsets of all three layout connectors serialize as one JSON
  * array of file paths, and the TxBatch append protocol publishes
  * whole `_batch-<id>` directories atomically — so the file set
  * collapses losslessly to a set of commit-unit names (`.` = base,
  * `_batch-<id>`), which is what the connectors' `roots` read option
  * accepts. The name set is append-count-sized, not file-count-sized:
  * the option string stays small at 100 TB.
  */
object StreamOffsets {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The file set of trigger `batchId`'s start offset, from the
    * stream's own checkpoint (see the object doc). The checkpoint must
    * belong to a single-source stream over one graft layout connector
    * (the live-consumer shape); a missing log entry is refused —
    * silently returning "everything" would reintroduce the race this
    * helper exists to close. */
  private[streaming] def startFiles(spark: SparkSession,
      checkpoint: String, batchId: Long): Set[String] = {
    if (batchId == 0L) return Set.empty
    val f = new Path(checkpoint, s"offsets/${batchId - 1}")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(f),
      s"StreamOffsets.startFiles: no offsets log entry at $f — the " +
        s"checkpoint does not cover trigger ${batchId - 1}")
    val in = fs.open(f)
    val text =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    // OffsetSeqLog format: line 0 = version, line 1 = metadata JSON,
    // line 2.. = one serialized offset per source
    val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    require(lines.length == 3,
      s"StreamOffsets.startFiles: expected a single-source offsets " +
        s"entry (version, metadata, one offset), got ${lines.length} " +
        s"lines at $f")
    mapper.readValue(lines(2), classOf[Array[String]]).toSet
  }

  /** The commit-unit names (`.` for the base, `_batch-<id>`) of
    * trigger `batchId`'s start-offset file set — the value for the
    * connectors' `roots` read option. Layout shape is
    * `<root>/<key>=<v>/<file>` for the base and
    * `<root>/_batch-<id>/<key>=<v>/<file>` for appends, so a file's
    * commit unit is its grandparent directory. */
  def startRoots(spark: SparkSession, checkpoint: String,
      batchId: Long): Set[String] =
    startFiles(spark, checkpoint, batchId).map { f =>
      val p = new Path(f)
      val parent = p.getParent
      val unit = if (parent == null) null else parent.getParent
      // the layout shape is load-bearing: an offset file at an
      // unexpected depth silently mapping to the base root '.' would
      // over-widen the corpus bound and quietly reintroduce the
      // duplicate-pair race this helper exists to close — refuse
      // unknown shapes loudly instead
      require(parent != null && unit != null &&
        parent.getName.contains("="),
        s"StreamOffsets.startRoots: offset file $f does not match " +
          "the layout shape <root>/<key>=<v>/<file> or " +
          "<root>/<_batch-|_base- unit>/<key>=<v>/<file> — refusing " +
          "to guess its commit unit")
      val n = unit.getName
      if (n.startsWith("_batch-") || n.startsWith("_base-")) n
      else {
        require(!n.startsWith("_") && !n.startsWith("."),
          s"StreamOffsets.startRoots: offset file $f sits under " +
            s"hidden directory $n, which is not a commit unit " +
            "(_batch-/_base-) nor a plain layout root — refusing " +
            "to guess")
        graft.sources.LayoutSource.BaseRoot
      }
    }

  /** Render a root set as the `roots` option value (sorted, comma
    * separated; empty set → empty string → the connector reads
    * nothing — the first trigger's corpus). */
  def rootsOption(roots: Set[String]): String =
    roots.toSeq.sorted.mkString(",")
}
