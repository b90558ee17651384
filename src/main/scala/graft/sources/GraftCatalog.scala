package graft.sources

import java.util

import graft.operators.TxBatch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `TableCatalog` plugin over a directory tree of graft index
  * layouts — the SQL-native face of the three connectors:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/indexes")
  *   spark.sql("SELECT * FROM graft.search.postings WHERE term = 'x'")
  * }}}
  *
  * Identifier resolution: `graft.<namespace...>.<name>` maps to the
  * directory `<root>/<namespace...>/<name>`; the layout TYPE comes
  * from the directory's own geometry stamp (`_graft_meta.json`,
  * base-generation-aware — the same stamp every connector trusts):
  * `k`+`dim` = an IVF cell layout, `tau`+`nBuckets` = a band layout,
  * `nBuckets` alone = a term layout. A stamp-less directory is
  * refused — the stamp IS the registration (write layouts through
  * writeCellLayout / writeBandLayout / writeTermLayout(nBuckets)).
  * Everything downstream — pushdown, pruned-listing statistics,
  * runtime narrowing, streaming read/write — is the connector table,
  * so `SELECT ... FROM graft.db.layout` plans identically to the
  * `format(...).load()` spelling.
  *
  * Read-focused BY DESIGN: layouts are built by their writers (the
  * geometry stamp and partition layout are the writer's contract), so
  * DDL through the catalog — CREATE/ALTER/DROP/RENAME — is refused
  * rather than half-supported. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name needs option 'root' " +
        s"(spark.sql.catalog.$name.root=<layout tree>)")
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirOf(parts: Seq[String]): Path =
    parts.foldLeft(new Path(root))((p, seg) => new Path(p, seg))

  /** The effective geometry stamp of a layout dir, if any (base
    * generation wins — the connectors' rule). */
  private def stampOf(dir: Path): Option[String] = {
    val f = fs(dir)
    val inBase = new Path(
      TxBatch.baseDir(spark, dir.toString), "_graft_meta.json")
    val p = if (f.exists(inBase)) inBase
      else new Path(dir, "_graft_meta.json")
    if (!f.exists(p)) return None
    val in = f.open(p)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** The stamp's exact top-level key set — the dispatch input.
    * Substring sniffing (`meta.contains("\"k\"")`) routed correctly
    * for the three current stamps but would silently misroute a
    * future stamp that happens to embed a same-named field; parsing
    * makes extra/unknown keys harmless and genuine ambiguity LOUD. */
  private def stampKeys(dir: Path, meta: String): Set[String] = {
    val node =
      try GraftCatalog.mapper.readTree(meta)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"unparseable _graft_meta.json at $dir: $meta", e)
      }
    require(node != null && node.isObject,
      s"_graft_meta.json at $dir is not a JSON object: $meta")
    val it = node.fieldNames()
    val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident.namespace().toSeq :+ ident.name())
    if (!fs(dir).exists(dir)) throw new NoSuchTableException(ident)
    val path = dir.toString
    stampOf(dir) match {
      case Some(meta) =>
        val keys = stampKeys(dir, meta)
        val isCells = keys("k") && keys("dim")
        val isBands = keys("tau") && keys("nBuckets")
        if (isCells && isBands)
          throw new IllegalArgumentException(
            s"ambiguous geometry stamp at $dir: carries both the " +
              s"cell-layout keys (k, dim) and the band-layout keys " +
              s"(tau, nBuckets) — refusing to guess the layout type " +
              s"($meta)")
        val format: LayoutFormat =
          if (isCells) CellsSource
          else if (isBands) BandsSource
          else if (keys("nBuckets")) PostingsSource
          else throw new NoSuchTableException(ident)
        new LayoutTable(path, format.open(spark, path, _ => None,
          format.schemaAt(spark, path)))
      case _ => throw new NoSuchTableException(ident)
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toSeq)
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        stampOf(st.getPath).isDefined)
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .sortBy(_.name()).toArray
  }

  private def refuse(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is read-focused: $op is the layout " +
        "writers' job (writeTermLayout / writeBandLayout / " +
        "writeCellLayout stamp the geometry the catalog resolves)")

  override def createTable(ident: Identifier, info: TableInfo): Table =
    refuse(s"CREATE TABLE $ident")
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = refuse(s"ALTER TABLE $ident")
  override def dropTable(ident: Identifier): Boolean =
    refuse(s"DROP TABLE $ident")
  override def renameTable(from: Identifier, to: Identifier): Unit =
    refuse(s"RENAME TABLE $from")

  // namespaces = subdirectories that are not layouts themselves
  private def isNamespaceDir(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".") && stampOf(p).isEmpty
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace.toSeq)
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).toSeq
      .filter(st => st.isDirectory && isNamespaceDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
      .sortBy(_.mkString("/")).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = dirOf(namespace.toSeq)
      fs(dir).exists(dir) && isNamespaceDir(dir)
    }

  /** Namespace metadata for `DESCRIBE NAMESPACE EXTENDED`: the backing
    * directory, how many stamped layouts it holds directly, and how
    * many child namespaces — the U10 operational-introspection rule
    * applied at the namespace level (one directory listing; layouts
    * answer their own deeper questions through TBLPROPERTIES). */
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val dir = dirOf(namespace.toSeq)
    val kids = fs(dir).listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val (layouts, namespaces) = kids.partition(st =>
      stampOf(st.getPath).isDefined)
    val m = new util.LinkedHashMap[String, String]()
    m.put("graft.path", dir.toString)
    m.put("graft.tables", layouts.size.toString)
    m.put("graft.namespaces", namespaces.size.toString)
    m
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    refuse(s"CREATE NAMESPACE ${namespace.mkString(".")}")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    refuse(s"ALTER NAMESPACE ${namespace.mkString(".")}")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    refuse(s"DROP NAMESPACE ${namespace.mkString(".")}")
}

private[sources] object GraftCatalog {
  private[sources] val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
}
