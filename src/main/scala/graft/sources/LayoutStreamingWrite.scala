package graft.sources

import graft.operators.TxBatch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}

/** Native `STREAMING_WRITE` for the index-layout connectors —
  * `writeStream.format("graft.sources.PostingsSource")` (or Bands /
  * Cells) commits each micro-batch through the [[TxBatch]] manifest
  * protocol, epoch id ≡ batch id:
  *
  *  - tasks stage files under `<path>/.staging-stream-<uuid>/<epoch>/`
  *    (dot-hidden — readers never list it) using the SAME per-row
  *    enforcing DataWriters as the batch lane;
  *  - [[commit]] collects the COMMITTED tasks' files (the commit
  *    messages — residue from failed/speculative task attempts never
  *    publishes), moves them into a `_staging-<epoch>-<uuid>` root and
  *    publishes with one atomic rename to `_batch-<epoch>`
  *    ([[TxBatch.publishStagedDir]]);
  *  - epoch RE-delivery (restart replaying a committed epoch) finds
  *    `_batch-<epoch>` present (or folded into a compacted base) and
  *    is a no-op; [[abort]] deletes the epoch's staging — no residue;
  *  - an EMPTY epoch publishes nothing (vacuously idempotent — an
  *    empty `_batch-` directory would break plain-parquet readers).
  *
  * The foreachBatch + appendIdempotent path remains available; both
  * lanes speak the same protocol, so they compose on one layout. */
private[sources] class LayoutStreamingWrite(path: String,
    hconf: SerializableHadoopConf,
    factory: StreamingDataWriterFactory, streamRoot: String)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : StreamingDataWriterFactory = factory

  private def epochDir(epochId: Long) =
    new Path(streamRoot, epochId.toString)

  /** One-shot per query run: sweep crash residue a pure-streaming
    * layout never otherwise clears (the batch lane's publish sweeps
    * its own stagings; TxBatch.compact sweeps only `_staging-base-*`).
    * Residue classes: a `_staging-<id>-<uuid>` left by a driver crash
    * between the rename and [[TxBatch.publishStagedDir]], and
    * abandoned dot-hidden `.staging-stream-<uuid>` roots from prior
    * query restarts. Stream roots other than OURS are dead runs'
    * under the single-STREAM-writer contract; root-level stagings
    * are swept ONLY for SETTLED ids (`_batch-<id>` present, or the
    * id folded into the base) — a settled id's staging is provably
    * residue, whereas sweeping by epoch ordering alone could race a
    * composed batch-lane publish mid-flight (the foreachBatch +
    * appendIdempotent lane shares the layout and the id space; its
    * publish would then silently report not-applied). A staging of a
    * permanently-abandoned unsettled epoch survives until the epoch
    * settles — bounded, and the conservative side of a silent loss. */
  @volatile private var sweptResidue = false
  private def sweepResidue(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Unit = {
    if (sweptResidue || !fs.exists(root)) return
    sweptResidue = true
    val ourStream = new Path(streamRoot).getName
    val settledBatch = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_batch-"))
      .map(_.stripPrefix("_batch-").toLong).toSet
    val applied = TxBatch.appliedIdsFs(fs, root)
    val epochStaging = "_staging-(\\d+)-[0-9a-f]+".r
    fs.listStatus(root).toSeq.map(_.getPath).foreach { p =>
      p.getName match {
        case n if n.startsWith(".staging-stream-") && n != ourStream =>
          fs.delete(p, true)
        case epochStaging(e) if settledBatch.contains(e.toLong) ||
            applied.contains(e.toLong) =>
          fs.delete(p, true)
        case _ => ()
      }
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(hconf.value)
    val epoch = epochDir(epochId)
    val rels = messages.toSeq.flatMap {
      case LayoutCommit(files) => files
      case _ => Seq.empty
    }
    if (rels.isEmpty) { fs.delete(epoch, true); return }
    // re-delivered epoch: the batch is already published (directory
    // present, or folded into a compacted base) — drop the staging
    if (fs.exists(new Path(root, s"_batch-$epochId"))) {
      fs.delete(epoch, true)
      return
    }
    // move only the committed tasks' files into a fresh publish
    // staging — uncommitted attempt residue inside the epoch dir is
    // deleted with it, never published
    val staging = new Path(root, s"_staging-$epochId-" +
      java.util.UUID.randomUUID().toString.take(8))
    var staged = true
    rels.foreach { rel =>
      val src = new Path(epoch, rel)
      val dst = new Path(staging, rel)
      fs.mkdirs(dst.getParent)
      if (!fs.exists(src) || !fs.rename(src, dst)) staged = false
    }
    if (!staged) {
      // a prior delivery of this epoch already consumed the staged
      // files (its publish won); drop everything and let the no-op
      // rules decide
      fs.delete(staging, true)
      fs.delete(epoch, true)
      return
    }
    TxBatch.publishStagedDir(fs, root, epochId, staging)
    fs.delete(epoch, true)
    // after the publish, so a crashed prior attempt of THIS epoch is
    // already settled and its staging provably residue
    sweepResidue(fs, root)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(hconf.value)
    fs.delete(epochDir(epochId), true)
  }
}
