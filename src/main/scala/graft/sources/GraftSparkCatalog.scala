package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{
  NamespaceAlreadyExistsException, NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{
  Identifier, NamespaceChange, SupportsNamespaces, Table => ConnectorTable,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{
  Expressions, Transform => SparkTransform}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{
  AlreadyExistsException, Catalog, LocalCatalog, RestCatalog,
  TableIdentifier, NoSuchTableException => GNoSuchTable,
  NoSuchNamespaceException => GNoSuchNamespace}
import graft.io.HadoopFileIO
import graft.spec.{
  PartitionSpec, SchemaConverters, Transform => GTransform}
import graft.table.Table

/** Spark `CatalogPlugin` (SURVEY "missing #2" after round 3: the SQL
  * surface was per-table view registration): register once —
  *
  *   spark.sql.catalog.graft           = graft.sources.GraftSparkCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *   (optional) .uri / .token         → REST catalog instead of local
  *
  * — and every table is addressable as `graft.ns.tbl`: `SELECT` (DSv2
  * read path, with pruning-only filter pushdown), `INSERT INTO` /
  * `INSERT OVERWRITE` (V1Write bridge onto the engine's data writer,
  * [[TaskWrite]], + snapshot commit, so SQL writes make real Iceberg
  * snapshots), `CREATE/DROP/ALTER TABLE`, `SHOW TABLES`,
  * `SHOW NAMESPACES`, `CREATE NAMESPACE`, namespace properties via
  * `ALTER NAMESPACE ... SET PROPERTIES`.
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private[sources] var catalog: Catalog = _
  private var io: HadoopFileIO = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // the session's Hadoop conf (`spark.hadoop.*`, session-set keys), as
    // its data files get from `ParquetShim.buildWriterFactory`
    io = new HadoopFileIO(SparkSession.active.sessionState.newHadoopConf())
    catalog = Option(options.get("uri")) match {
      case Some(uri) =>
        val rest = new RestCatalog(uri, Option(options.get("token")),
          Option(options.get("warehouse")),
          Option(options.get("credential")),
          oauthScope =
            Option(options.get("oauth-scope")).getOrElse("catalog"))
        rest.fetchConfig()
        rest
      case None =>
        val wh = Option(options.get("warehouse")).getOrElse(
          throw new IllegalArgumentException(
            s"catalog $name: option 'warehouse' is required"))
        new LocalCatalog(wh)
    }
  }

  override def name(): String = catalogName

  private def toId(ident: Identifier): TableIdentifier =
    TableIdentifier(ident.namespace.toSeq, ident.name)

  // ------------------------------------------------------------ tables

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!catalog.namespaceExists(ns.toSeq))
      throw new NoSuchNamespaceException(ns)
    catalog.listTables(ns.toSeq)
      .map(id => Identifier.of(id.namespace.toArray, id.name)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    catalog.tableExists(toId(ident))

  override def loadTable(ident: Identifier): ConnectorTable =
    try {
      val t = Table.load(catalog, toId(ident), io)
      new GraftConnectorTable(t,
        SchemaConverters.toSparkSchema(t.schema))
    } catch {
      case _: GNoSuchTable =>
        metadataTable(ident).getOrElse(
          throw new NoSuchTableException(ident))
    }

  /** `graft.ns.tbl.snapshots` etc: the trailing identifier names a
    * metadata table of `graft.ns.tbl` (Iceberg's inspection syntax).
    * Tried only after normal resolution fails, so a real table named
    * "snapshots" always wins. */
  private def metadataTable(ident: Identifier): Option[ConnectorTable] =
    if (ident.namespace.length >= 2 &&
        MetadataTables.Names.contains(ident.name.toLowerCase)) {
      val parent = TableIdentifier(
        ident.namespace.init.toSeq, ident.namespace.last)
      try Some(MetadataTables(
        Table.load(catalog, parent, io), ident.name.toLowerCase))
      catch { case _: GNoSuchTable => None }
    } else None

  /** `VERSION AS OF <v>`: a snapshot id, or a branch/tag name resolved
    * through the table's refs. Reads use the SNAPSHOT's schema
    * (Iceberg's documented time-travel behavior). */
  override def loadTable(ident: Identifier,
      version: String): ConnectorTable =
    try {
      val t = Table.load(catalog, toId(ident), io)
      val sid = version.toLongOption
        .orElse(t.metadata.ref(version).map(_.snapshotId))
        .getOrElse(throw new NoSuchTableException(ident))
      pinned(ident, t, sid)
    } catch {
      case _: GNoSuchTable => throw new NoSuchTableException(ident)
    }

  /** `TIMESTAMP AS OF <ts>`: Spark hands micros since epoch. */
  override def loadTable(ident: Identifier,
      timestampMicros: Long): ConnectorTable =
    try {
      val t = Table.load(catalog, toId(ident), io)
      val sid = t.snapshotAsOf(timestampMicros / 1000L)
        .map(_.snapshotId)
        .getOrElse(throw new NoSuchTableException(ident))
      pinned(ident, t, sid)
    } catch {
      case _: GNoSuchTable => throw new NoSuchTableException(ident)
    }

  private def pinned(ident: Identifier, t: Table,
      sid: Long): ConnectorTable = {
    if (t.snapshotById(sid).isEmpty) throw new NoSuchTableException(ident)
    new GraftConnectorTable(t,
      SchemaConverters.toSparkSchema(t.metadata.schemaForSnapshot(sid)),
      pinnedSnapshot = Some(sid))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[SparkTransform],
      properties: JMap[String, String]): ConnectorTable = {
    val gSchema = SchemaConverters.fromSparkSchema(schema)
    val spec = GraftSparkCatalog.toSpec(partitions, gSchema)
    // strip Spark-managed reserved keys; keep user properties
    val reserved = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_IS_MANAGED_LOCATION)
    val props = properties.asScala.toMap -- reserved
    try Table.create(catalog, toId(ident), gSchema, spec,
      properties = props, io = io)
    catch {
      case _: AlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
    loadTable(ident)
  }

  /** Property changes commit metadata-only transactions; structural
    * changes route to the engine's SchemaUpdate where expressible. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): ConnectorTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = Table.load(catalog, toId(ident), io)
    val setProps = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
    }.toMap
    val rmProps = changes.collect {
      case r: TableChange.RemoveProperty => r.property
    }
    val addCols = changes.collect {
      case a: TableChange.AddColumn => a // nested paths handled below
    }
    val schemaChanges = changes.collect {
      case c: TableChange.RenameColumn => c
      case c: TableChange.DeleteColumn => c
      case c: TableChange.UpdateColumnType => c
      case c: TableChange.UpdateColumnNullability if c.nullable() => c
    }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        addCols.contains(c) || schemaChanges.contains(c))
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft: unsupported ALTER TABLE changes: " +
          unsupported.mkString(", ") +
          " (NOT NULL tightening is not evolvable — pre-evolution " +
          "files would misread)")
    var cur = t
    if (setProps.nonEmpty || rmProps.nonEmpty) {
      var tx = cur.newTransaction()
      if (setProps.nonEmpty) tx = tx.setProperties(setProps)
      if (rmProps.nonEmpty) tx = tx.removeProperties(rmProps)
      cur = tx.commit()
    }
    if (addCols.nonEmpty || schemaChanges.nonEmpty) {
      var up = cur.updateSchema()
      addCols.foreach { a =>
        val leaf = a.fieldNames().last
        val t = SchemaConverters.fromSparkSchema(new StructType()
          .add(leaf, a.dataType(), a.isNullable))
          .fields.head.fieldType
        if (a.fieldNames().length == 1)
          up = up.addColumn(leaf, t, required = !a.isNullable)
        else
          up = up.addNestedColumn(a.fieldNames().toSeq, t,
            required = !a.isNullable)
      }
      schemaChanges.foreach {
        case c: TableChange.RenameColumn if c.fieldNames().length == 1 =>
          up = up.renameColumn(c.fieldNames()(0), c.newName())
        case c: TableChange.RenameColumn =>
          up = up.renameColumnAt(c.fieldNames().toSeq, c.newName())
        case c: TableChange.DeleteColumn if c.fieldNames().length == 1 =>
          up = up.dropColumn(c.fieldNames()(0))
        case c: TableChange.DeleteColumn =>
          up = up.dropColumnAt(c.fieldNames().toSeq)
        case c: TableChange.UpdateColumnType =>
          val t = SchemaConverters.fromSparkSchema(new StructType()
            .add(c.fieldNames().last, c.newDataType())).fields.head.fieldType
          if (c.fieldNames().length == 1)
            up = up.updateColumnType(c.fieldNames()(0), t)
          else up = up.updateColumnTypeAt(c.fieldNames().toSeq, t)
        case c: TableChange.UpdateColumnNullability =>
          if (c.fieldNames().length == 1)
            up = up.makeOptional(c.fieldNames()(0))
          else up = up.makeOptionalAt(c.fieldNames().toSeq)
        case _ => ()
      }
      cur = up.commit()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    try { catalog.dropTable(toId(ident), purge = true); true }
    catch { case _: GNoSuchTable => false }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    try catalog.renameTable(toId(from), toId(to))
    catch {
      case _: GNoSuchTable => throw new NoSuchTableException(from)
      case _: AlreadyExistsException =>
        throw new TableAlreadyExistsException(to)
    }

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    catalog.listNamespaces().map(_.toArray).toArray

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.isEmpty) return listNamespaces()
    if (!catalog.namespaceExists(parent.toSeq))
      throw new NoSuchNamespaceException(parent)
    catalog.listNamespaces()
      .filter(ns => ns.length == parent.length + 1 &&
        ns.startsWith(parent.toSeq))
      .map(_.toArray).toArray
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    catalog.namespaceExists(ns.toSeq)

  override def loadNamespaceMetadata(
      ns: Array[String]): JMap[String, String] =
    try catalog.loadNamespaceProperties(ns.toSeq).asJava
    catch { case _: GNoSuchNamespace =>
      throw new NoSuchNamespaceException(ns)
    }

  override def createNamespace(ns: Array[String],
      metadata: JMap[String, String]): Unit =
    try catalog.createNamespace(ns.toSeq, metadata.asScala.toMap)
    catch { case _: AlreadyExistsException =>
      throw new NamespaceAlreadyExistsException(ns)
    }

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit = {
    val removals = changes.collect {
      case r: NamespaceChange.RemoveProperty => r.property
    }
    val updates = changes.collect {
      case s: NamespaceChange.SetProperty => s.property -> s.value
    }.toMap
    try catalog.updateNamespaceProperties(ns.toSeq, removals, updates)
    catch { case _: GNoSuchNamespace =>
      throw new NoSuchNamespaceException(ns)
    }
  }

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean =
    try {
      if (cascade)
        catalog.listTables(ns.toSeq)
          .foreach(id => catalog.dropTable(id, purge = true))
      catalog.dropNamespace(ns.toSeq)
      true
    } catch { case _: GNoSuchNamespace => false }

  // -------------------------------------------------------- procedures

  /** `CALL <catalog>.system.<proc>(...)` — see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(catalog, io, ident).getOrElse(
      throw new RuntimeException(
        s"graft: no such procedure ${ident.namespace.mkString(".")}" +
          s".${ident.name} (available: system." +
          s"{${GraftProcedures.Names.mkString(",")}})"))

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || ns.sameElements(Array("system")))
      GraftProcedures.list
    else Array.empty

  // --------------------------------------------------------- functions

  /** V2 functions for the Iceberg partition transforms. Besides SQL
    * calls (`SELECT <catalog>.system.bucket(16, id)`), these are what
    * Spark resolves a scan's reported `KeyGroupedPartitioning` keys
    * against — the storage-partitioned-join compatibility check
    * compares both sides by the bound function's `canonicalName`. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")))
      graft.functions.GraftV2Functions.load(ident.name).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listFunctions(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || ns.sameElements(Array("system")))
      graft.functions.GraftV2Functions.names
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def functionExists(ident: Identifier): Boolean =
    (ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))) &&
      graft.functions.GraftV2Functions.load(ident.name).isDefined
}

object GraftSparkCatalog {

  /** Spark partitioning transforms → engine spec (CREATE TABLE ...
    * PARTITIONED BY (days(ts), bucket(16, id), col)). */
  private[sources] def toSpec(transforms: Array[SparkTransform],
      schema: graft.spec.Schema): PartitionSpec = {
    if (transforms.isEmpty) return PartitionSpec.unpartitioned
    val b = PartitionSpec.builder(0)
    transforms.foreach { t =>
      def ref(i: Int = 0): String =
        t.references()(i).fieldNames().mkString(".")
      def fid(name: String): Int = schema.fieldByName(name).getOrElse(
        throw new IllegalArgumentException(
          s"partition source column $name not in schema")).id
      t.name() match {
        case "identity" => b.identity(fid(ref()), ref())
        case "years" | "year" => b.year(fid(ref()), s"${ref()}_year")
        case "months" | "month" => b.month(fid(ref()), s"${ref()}_month")
        case "days" | "day" => b.day(fid(ref()), s"${ref()}_day")
        case "hours" | "hour" => b.hour(fid(ref()), s"${ref()}_hour")
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            "bucket transform needs a width literal"))
          b.bucket(fid(ref()), s"${ref()}_bucket", n)
        case "truncate" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            "truncate transform needs a width literal"))
          b.truncate(fid(ref()), s"${ref()}_trunc", n)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform: $other")
      }
    }
    b.build()
  }

  /** Engine spec → Spark transforms (for `Table.partitioning()`). */
  private[sources] def toTransforms(spec: PartitionSpec,
      schema: graft.spec.Schema): Array[SparkTransform] =
    spec.fields.flatMap { pf =>
      schema.field(pf.sourceId).map { src =>
        pf.transform match {
          case GTransform.Identity => Expressions.identity(src.name)
          case GTransform.Year => Expressions.years(src.name)
          case GTransform.Month => Expressions.months(src.name)
          case GTransform.Day => Expressions.days(src.name)
          case GTransform.Hour => Expressions.hours(src.name)
          case GTransform.Bucket(n) => Expressions.bucket(n, src.name)
          case GTransform.Truncate(w) => Expressions.apply("truncate",
            Expressions.literal(w), Expressions.column(src.name))
          case GTransform.Void => Expressions.apply("void",
            Expressions.column(src.name))
        }
      }
    }.toArray
}

/** SQL over a table handle from any catalog, REST included. */
object GraftSQL {
  /** Expose `table` to `spark.sql` / `spark.table` as `viewName`: a temp
    * view over the DSv2 connector, the relation
    * [[GraftSparkCatalog.loadTable]] serves, so every query re-plans
    * against the table's latest commit. */
  def registerTable(spark: SparkSession, table: Table,
      viewName: String): Unit = {
    val connector = new GraftConnectorTable(table,
      SchemaConverters.toSparkSchema(table.schema))
    Bridge.ofRows(spark, DataSourceV2Relation.create(connector, None, None))
      .createOrReplaceTempView(viewName)
  }
}
