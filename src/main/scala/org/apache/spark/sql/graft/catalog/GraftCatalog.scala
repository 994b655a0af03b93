package org.apache.spark.sql.graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, LiteralValue, NamedReference, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{CommitKernel, PartitionTransforms => PT, VersionedTable}

/** SQL-catalog face for graft versioned tables (the surface Delta's
  * `DeltaCatalog` provides for the reference's SQL jobs — `CREATE TABLE
  * ... USING`, `INSERT INTO`, `SELECT ... VERSION AS OF`, `DELETE FROM`,
  * `TRUNCATE`, `SHOW TABLES`): a filesystem-backed `TableCatalog` whose
  * identifiers map to warehouse directories, each holding one
  * [[graft.sinks.VersionedTable]] transaction log.
  *
  * {{{
  * spark.conf: spark.sql.catalog.graft = ...GraftCatalog
  *             spark.sql.catalog.graft.warehouse = /data/graft
  * CREATE TABLE graft.default.events (id BIGINT, ts TIMESTAMP, v DOUBLE)
  *   PARTITIONED BY (days(ts))
  * INSERT INTO graft.default.events SELECT ...
  * SELECT * FROM graft.default.events TIMESTAMP AS OF '2026-01-01'
  * }}}
  *
  * Metadata model: the transaction log is the source of truth for schema
  * and the hidden-partitioning spec (so they are VERSIONED with the
  * data); identity partition columns and table properties are DDL-level
  * facts the log has no field for — they live in a small
  * `_graft_catalog.json` next to the log. Namespaces are directories.
  *
  * Reads resolve through [[ResolveGraftTableReads]] (injected by
  * `GraftExtensions`) onto the V1 [[org.apache.spark.sql.graft.table.GraftTableRelation]]
  * — filter pushdown reaches the log's stats/bloom/partition pruning.
  * Writes ride the `V1Write` fallback onto the same upsert/overwrite/
  * replaceWhere code paths every other entry point uses, so SQL writers
  * and `DataFrame` writers share one commit protocol.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"catalog $name: set spark.sql.catalog.$name.warehouse to a directory"))
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("default")

  // Path-unsafe or log-colliding segments are rejected up front: a "."
  // or "/" in a name would escape the warehouse tree, and "_"/"." prefixes
  // collide with the log/stage/meta files inside table dirs.
  private def validSegment(s: String): Boolean =
    s.nonEmpty && !s.contains("/") && !s.contains("\\") &&
      !s.startsWith(".") && !s.startsWith("_")

  private def pathOf(segments: Seq[String]): Path = {
    segments.foreach(s => require(validSegment(s),
      s"invalid name segment '$s' (must not be empty, contain '/', or start with '.'/'_')"))
    new Path((warehouse +: segments).mkString("/"))
  }

  private def tablePath(ident: Identifier): Path =
    pathOf(ident.namespace.toIndexedSeq :+ ident.name)

  /** The ident → warehouse-path mapping, for the maintenance SQL
    * commands ([[GraftSqlParser]]) — one source of truth with reads.
    */
  private[catalog] def resolvedTablePath(ident: Identifier): String =
    tablePath(ident).toString

  private def isTable(p: Path): Boolean =
    fs.exists(new Path(p, "_graft_log")) || fs.exists(new Path(p, GraftCatalog.MetaFile))

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    ensureDefault()
    val ns = pathOf(namespace.toIndexedSeq)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(st => st.isDirectory && isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    fs.exists(p) && isTable(p)
  }

  override def loadTable(ident: Identifier): Table = loadAsOf(ident, None)

  /** `VERSION AS OF <v>` time travel. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAsOf(ident, Some(version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"graft table version must be a commit number, got '$version'"))))

  /** `TIMESTAMP AS OF <ts>` time travel (micros since epoch). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = loadAsOf(ident, None)
    t.copy(asOf = Some(
      VersionedTable.versionAt(spark, t.path, timestampMicros / 1000L)))
  }

  private def loadAsOf(ident: Identifier, asOf: Option[Long]): GraftTable = {
    val p = tablePath(ident)
    if (!fs.exists(p) || !isTable(p)) throw new NoSuchTableException(ident)
    val meta = GraftCatalog.readMeta(fs, p)
    GraftTable(spark, (catalogName +: ident.namespace.toIndexedSeq :+ ident.name).mkString("."),
      p.toString, meta.partitionCols, meta.properties, asOf)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident.toString)
    ensureDefault()
    val nsPath = pathOf(ident.namespace.toIndexedSeq)
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(ident.namespace)
    val props = properties.asScala.toMap
    require(!props.contains(TableCatalog.PROP_LOCATION),
      "graft catalog tables are managed — external LOCATION is not supported " +
        "(read external paths via spark.read.format(\"graft-table\"))")
    val (identityCols, transforms) = parsePartitioning(schema, partitions)
    val p = tablePath(ident)
    // log first, meta second: a half-created table is still a readable
    // (empty) versioned table; readMeta defaults cover a missing file
    VersionedTable.createEmpty(spark, p.toString, schema, transforms)
    GraftCatalog.writeMeta(fs, p, GraftCatalog.Meta(identityCols, props))
    loadTable(ident)
  }

  /** Map the SQL `PARTITIONED BY` clause onto the engine's two layouts:
    * plain identity columns (hive dirs) or hidden transforms (Iceberg
    * spec, recorded in the log). The write path requires one or the
    * other, so mixing is rejected with the same message.
    */
  private def parsePartitioning(schema: StructType,
      partitions: Array[Transform]): (Seq[String], Seq[PT.Transform]) = {
    def colOf(t: Transform): String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"partition transform ${t.describe()} must reference one top-level column")
      val c = refs(0).fieldNames()(0)
      // resolve with the session resolver (case-insensitive by default,
      // matching Spark's own analysis) and return the SCHEMA's spelling
      // so meta/log partition names match the data columns everywhere
      schema.fieldNames
        .find(n => spark.sessionState.conf.resolver(n, c))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column '$c' is not in the table schema"))
    }
    def intArg(t: Transform): Long = t.arguments().collectFirst {
      case LiteralValue(v: Integer, _) => v.longValue()
      case LiteralValue(v: java.lang.Long, _) => v.longValue()
    }.getOrElse(throw new IllegalArgumentException(
      s"partition transform ${t.describe()} needs an integer argument"))
    val identity = scala.collection.mutable.ArrayBuffer[String]()
    val hidden = scala.collection.mutable.ArrayBuffer[PT.Transform]()
    partitions.foreach { t =>
      t.name().toLowerCase(java.util.Locale.ROOT) match {
        case "identity" => identity += colOf(t)
        case "days" | "day" => hidden += PT.Day(colOf(t))
        case "hours" | "hour" => hidden += PT.Hour(colOf(t))
        case "months" | "month" => hidden += PT.Month(colOf(t))
        case "years" | "year" => hidden += PT.Year(colOf(t))
        case "bucket" => hidden += PT.Bucket(colOf(t), intArg(t).toInt)
        case "truncate" =>
          val c = colOf(t)
          schema(c).dataType match {
            case org.apache.spark.sql.types.StringType =>
              hidden += PT.TruncateStr(c, intArg(t).toInt)
            case _: org.apache.spark.sql.types.IntegralType =>
              hidden += PT.TruncateNum(c, intArg(t))
            case dt => throw new IllegalArgumentException(
              s"truncate($c) partitioning needs a string or integral column, got $dt")
          }
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other' " +
            "(supported: identity columns, days, hours, months, years, bucket, truncate)")
      }
    }
    require(identity.isEmpty || hidden.isEmpty,
      "pass either plain partition columns or hidden transforms, not both")
    (identity.toSeq, hidden.toSeq)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!fs.exists(p) || !isTable(p)) throw new NoSuchTableException(ident)
    val meta = GraftCatalog.readMeta(fs, p)
    // ADD COLUMNS is a log-level commit (additive evolution, no file
    // rewrites — see VersionedTable.addColumns); all adds in one
    // statement land as ONE commit so concurrent readers never see a
    // partial widening. Property changes stay in the side meta file.
    val added = changes.collect { case c: TableChange.AddColumn =>
      require(c.fieldNames.length == 1,
        s"graft catalog: ADD COLUMNS supports top-level columns only, " +
          s"got ${c.fieldNames.mkString(".")}")
      require(c.position == null,
        "graft catalog: ADD COLUMNS FIRST/AFTER is not supported — new " +
          "columns append at the end (log-level evolution has no column order rewrite)")
      require(c.isNullable,
        s"graft catalog: new column ${c.fieldNames.head} must be nullable " +
          "(existing rows have no value for it)")
      require(c.defaultValue == null,
        s"graft catalog: DEFAULT on new column ${c.fieldNames.head} is not " +
          "supported — pre-existing rows read the column as null")
      org.apache.spark.sql.types.StructField(c.fieldNames.head, c.dataType,
        nullable = true,
        metadata = Option(c.comment).map(cm => new org.apache.spark.sql.types
          .MetadataBuilder().putString("comment", cm).build())
          .getOrElse(org.apache.spark.sql.types.Metadata.empty))
    }
    if (added.nonEmpty)
      VersionedTable.addColumns(spark, p.toString, StructType(added))
    val props = changes.foldLeft(meta.properties) {
      case (m, c: TableChange.SetProperty) => m + (c.property -> c.value)
      case (m, c: TableChange.RemoveProperty) => m - c.property
      case (m, _: TableChange.AddColumn) => m // handled above
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other " +
          "(schema evolves additively through ADD COLUMNS, appends, and merges)")
    }
    if (props != meta.properties)
      GraftCatalog.writeMeta(fs, p, meta.copy(properties = props))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (fs.exists(p) && isTable(p)) fs.delete(p, true) else false
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = tablePath(oldIdent)
    if (!fs.exists(src) || !isTable(src)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent.toString)
    val dst = tablePath(newIdent)
    if (!fs.exists(pathOf(newIdent.namespace.toIndexedSeq)))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(src, dst), s"rename $src -> $dst failed")
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // ---- namespaces (directories; auto-creates the default one) ----

  private def ensureDefault(): Unit = {
    val d = pathOf(Seq("default"))
    if (!fs.exists(d)) fs.mkdirs(d)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    ensureDefault()
    val p = pathOf(namespace.toIndexedSeq)
    fs.exists(p) && !isTable(p)
  }

  override def listNamespaces(): Array[Array[String]] = {
    ensureDefault()
    fs.listStatus(new Path(warehouse))
      .filter(st => st.isDirectory && validSegment(st.getPath.getName) && !isTable(st.getPath))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = pathOf(namespace.toIndexedSeq)
    if (!fs.exists(p) || isTable(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p)
      .filter(st => st.isDirectory && validSegment(st.getPath.getName) && !isTable(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      pathOf(namespace.toIndexedSeq).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = pathOf(namespace.toIndexedSeq)
    if (fs.exists(p)) throw new org.apache.spark.sql.catalyst.analysis
      .NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = pathOf(namespace.toIndexedSeq)
    if (!fs.exists(p) || isTable(p)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    fs.delete(p, true)
  }
}

private[graft] object GraftCatalog {
  val MetaFile = "_graft_catalog.json"

  /** DDL-level facts the versioned log has no field for. */
  final case class Meta(partitionCols: Seq[String], properties: Map[String, String])

  private implicit val formats: Formats = DefaultFormats

  def readMeta(fs: FileSystem, table: Path): Meta = {
    val f = new Path(table, MetaFile)
    if (!fs.exists(f)) return Meta(Nil, Map.empty)
    val in = fs.open(f)
    try JsonMethods.parse(in).extract[Meta] finally in.close()
  }

  /** Replaced whole, never deleted first: a concurrent loadTable must
    * not see an empty Meta (dropping the table's partition columns
    * mid-insert).
    */
  def writeMeta(fs: FileSystem, table: Path, meta: Meta): Unit =
    CommitKernel.replace(fs, new Path(table, MetaFile),
      JsonMethods.compact(JsonMethods.render(org.json4s.Extraction.decompose(meta)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** One graft versioned table as seen through the catalog. Reads are
  * resolved by [[ResolveGraftTableReads]]; writes ride the `V1Write`
  * fallback; `DELETE FROM` / `TRUNCATE` go straight to the table ops.
  */
final case class GraftTable(
    spark: SparkSession,
    fullName: String,
    path: String,
    identityCols: Seq[String],
    props: Map[String, String],
    asOf: Option[Long]) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = fullName

  private lazy val logSchema: StructType = VersionedTable.tableSchema(spark, path, asOf)

  override def schema(): StructType = logSchema

  /** The log-recorded hidden-partitioning spec, read once per statement
    * (each statement loads a fresh GraftTable; the ops re-validate under
    * their own commit-time conflict checks).
    */
  lazy val hiddenSpec: Seq[PT.Transform] = VersionedTable.activePartitionSpec(spark, path)

  override def partitioning(): Array[Transform] = {
    val hidden = hiddenSpec.map {
      case PT.Day(s) => Expressions.days(s)
      case PT.Hour(s) => Expressions.hours(s)
      case PT.Month(s) => Expressions.months(s)
      case PT.Year(s) => Expressions.years(s)
      case PT.Bucket(s, n) => Expressions.bucket(n, s)
      case PT.TruncateStr(s, w) =>
        Expressions.apply("truncate", Expressions.column(s), Expressions.literal(w))
      case PT.TruncateNum(s, w) =>
        Expressions.apply("truncate", Expressions.column(s), Expressions.literal(w))
    }
    (identityCols.map(Expressions.identity) ++ hidden).toArray
  }

  override def properties(): util.Map[String, String] = props.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.TRUNCATE)

  /** Reads are resolved to the V1 relation by [[ResolveGraftTableReads]]
    * BEFORE optimization, so this scan never executes for a SELECT. It
    * exists because `DELETE FROM` planning runs scan pushdown on its
    * target relation (never executing it either — the delete is
    * metadata-only through [[SupportsDelete]]), and because a session
    * missing the graft extensions should fail with an actionable message
    * rather than a capability error.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new org.apache.spark.sql.connector.read.Scan {
      override def readSchema(): StructType = logSchema
      override def toBatch: org.apache.spark.sql.connector.read.Batch =
        throw new UnsupportedOperationException(
          s"reading $fullName requires the graft extensions — set " +
            "spark.sql.extensions=graft.functions.GraftExtensions")
    }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to a time-travel snapshot of $fullName")
    new GraftWriteBuilder(this)
  }

  // ---- DELETE FROM / TRUNCATE TABLE ----

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty &&
      org.apache.spark.sql.graft.FilterColumns.translatesFully(filters.toIndexedSeq)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pred = org.apache.spark.sql.graft.FilterColumns
      .conjunctionExact(filters.toIndexedSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"DELETE predicate not supported: ${filters.mkString(", ")}"))
    VersionedTable.delete(spark, path, pred,
      if (hiddenSpec.nonEmpty) Nil else identityCols)
    GraftDml.refreshCache(spark, this)
  }
}

/** Append / INSERT OVERWRITE / replaceWhere, all through the one V1
  * commit protocol. The builder collapses Spark's three write shapes:
  * plain append, `truncate()` (full snapshot replace, keeping the
  * table's layout), and `overwrite(filters)` (static-partition INSERT
  * OVERWRITE → exact-predicate replaceWhere).
  */
final class GraftWriteBuilder(table: GraftTable)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  import org.apache.spark.sql.connector.write.WriteBuilder

  // None = append; Some(None) = full truncate; Some(Some(pred)) = replaceWhere
  private var overwritePred: Option[Option[org.apache.spark.sql.Column]] = None

  override def truncate(): WriteBuilder = { overwritePred = Some(None); this }

  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    org.apache.spark.sql.graft.FilterColumns.translatesFully(filters.toIndexedSeq)

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val alwaysTrue: org.apache.spark.sql.sources.Filter => Boolean = {
      case org.apache.spark.sql.sources.AlwaysTrue() => true
      case _ => false
    }
    if (filters.isEmpty || filters.forall(alwaysTrue)) return truncate()
    val pred = org.apache.spark.sql.graft.FilterColumns
      .conjunctionExact(filters.toIndexedSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"INSERT OVERWRITE predicate not supported: ${filters.mkString(", ")}"))
    overwritePred = Some(Some(pred))
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              ignoredOverwrite: Boolean): Unit = {
            val spark = data.sparkSession
            overwritePred match {
              case None =>
                // transforms inherit from the table's active spec on append
                VersionedTable.write(spark, table.path, data,
                  table.identityCols, mode = "append")
              case Some(None) =>
                VersionedTable.write(spark, table.path, data,
                  table.identityCols, mode = "overwrite",
                  transforms = table.hiddenSpec)
              case Some(Some(pred)) =>
                VersionedTable.replaceWhere(spark, table.path, data, pred,
                  table.identityCols)
            }
            GraftDml.refreshCache(spark, table)
          }
        }
    }
}
