package graft.sinks

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Delta Lake WIRE-FORMAT interop, from scratch against the public
  * protocol (delta-io `PROTOCOL.md`) — no connector jar: the Delta log
  * is newline-delimited JSON actions plus parquet checkpoints, and the
  * data files are plain parquet, so a table this module writes is
  * openable by any real Delta reader (delta-spark, delta-rs, DuckDB's
  * delta extension) and vice versa for basic tables.
  *
  * This is the reference's actual sink format
  * (`jobs/S3ToDeltaStreamJob.scala` writes `.format("delta")` with
  * `delta-core` on the classpath; `jobs/S3DeltaBatchReader.scala` reads
  * it back) — re-expressed as a standalone implementation of the open
  * format rather than a dependency. [[VersionedTable]] carries the full
  * DML/MOR/time-travel semantics natively; this module carries the
  * INTEROP: a writer emitting spec-shaped `_delta_log` commits +
  * checkpoints, and a reader replaying foreign logs.
  *
  * Honest coverage note (enforced, not assumed): the reader supports
  * protocol v1 tables, v3 tables using DELETION VECTORS (read via
  * [[scanGroup]]'s row-index anti-join, written by [[deleteDv]] —
  * bitmap wire format in [[DeletionVectors]]), and v2/v3 tables that
  * do not actually use column mapping — anything else fails LOUDLY at
  * replay time naming the unsupported feature, never silently
  * misreads.
  *
  * Scale: replay reads the latest checkpoint + at most
  * [[CheckpointEvery]]−1 JSON commits (bounded driver work independent
  * of table age); data reads go file-group-per-partition-tuple through
  * the standard parquet scan, so pushdown/pruning apply per group.
  * Every commit writes the protocol's `add.stats` skipping columns
  * (numRecords/minValues/maxValues/nullCount, read straight from the
  * staged parquet footers via [[FileStats.fromFooters]] — no second
  * pass over data bytes), and [[readWhere]] prunes the FILE LIST on
  * them before planning a single scan task.
  */
object DeltaInterop {

  private val LogDir = "_delta_log"
  private val StageDir = "_delta_log/.graft_stage"
  val CheckpointEvery = 10

  private implicit val formats: Formats = DefaultFormats

  // ---- action model (field names ARE the wire format) ----

  final case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)
  final case class MetaData(id: String, schemaString: String,
      partitionColumns: Seq[String], configuration: Map[String, String])
  final case class AddFile(path: String, partitionValues: Map[String, Option[String]],
      size: Long, modificationTime: Long, dataChange: Boolean,
      stats: Option[String] = None,
      deletionVector: Option[DvDescriptor] = None)
  final case class RemoveFile(path: String, deletionTimestamp: Option[Long],
      dataChange: Boolean, deletionVector: Option[DvDescriptor] = None)
  final case class Txn(appId: String, version: Long)

  final case class Snapshot(version: Long, protocol: Protocol, metaData: MetaData,
      adds: Seq[AddFile], txns: Map[String, Long]) {
    def schema: StructType =
      DataType.fromJson(metaData.schemaString).asInstanceOf[StructType]
  }

  // ---- JSON (hand-built AST: partitionValues must keep JSON nulls,
  //      which case-class decomposition would drop) ----

  private def pvJson(pv: Map[String, Option[String]]): JObject =
    JObject(pv.toList.map { case (k, v) =>
      k -> v.map(JString(_): JValue).getOrElse(JNull) })

  private def addJson(a: AddFile): JObject = JObject(
    "add" -> JObject(
      "path" -> JString(a.path),
      "partitionValues" -> pvJson(a.partitionValues),
      "size" -> JLong(a.size),
      "modificationTime" -> JLong(a.modificationTime),
      "dataChange" -> JBool(a.dataChange),
      "stats" -> a.stats.map(JString(_): JValue).getOrElse(JNothing),
      "deletionVector" -> a.deletionVector.map(dvJson).getOrElse(JNothing: JValue)))

  private def dvJson(d: DvDescriptor): JValue = JObject(
    "storageType" -> JString(d.storageType),
    "pathOrInlineDv" -> JString(d.pathOrInlineDv),
    "offset" -> d.offset.map(o => JInt(BigInt(o)): JValue).getOrElse(JNothing),
    "sizeInBytes" -> JInt(BigInt(d.sizeInBytes)),
    "cardinality" -> JLong(d.cardinality))

  private def parseDv(v: JValue): Option[DvDescriptor] = v match {
    case JNothing => None
    case d => Some(DvDescriptor(
      (d \ "storageType").extract[String],
      (d \ "pathOrInlineDv").extract[String],
      (d \ "offset").extractOpt[Int],
      (d \ "sizeInBytes").extract[Int],
      (d \ "cardinality").extract[Long]))
  }

  private def removeJson(r: RemoveFile): JObject = JObject(
    "remove" -> JObject(
      "path" -> JString(r.path),
      "deletionTimestamp" -> r.deletionTimestamp.map(JLong(_): JValue).getOrElse(JNothing),
      "dataChange" -> JBool(r.dataChange),
      "deletionVector" -> r.deletionVector.map(dvJson).getOrElse(JNothing: JValue)))

  private def metaJson(m: MetaData): JObject = JObject(
    "metaData" -> JObject(
      "id" -> JString(m.id),
      "format" -> JObject("provider" -> JString("parquet"),
        "options" -> JObject(Nil)),
      "schemaString" -> JString(m.schemaString),
      "partitionColumns" -> JArray(m.partitionColumns.toList.map(JString(_))),
      "configuration" -> JObject(m.configuration.toList.map { case (k, v) =>
        k -> (JString(v): JValue) }),
      "createdTime" -> JLong(System.currentTimeMillis())))

  private def protocolJson(p: Protocol): JObject =
    JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(p.minReaderVersion),
      "minWriterVersion" -> JInt(p.minWriterVersion),
      // v3/v7 tables MUST list their features explicitly
      "readerFeatures" -> p.readerFeatures
        .map(fs => JArray(fs.toList.map(JString(_))): JValue).getOrElse(JNothing),
      "writerFeatures" -> p.writerFeatures
        .map(fs => JArray(fs.toList.map(JString(_))): JValue).getOrElse(JNothing)))

  private def txnJson(t: Txn): JObject = JObject(
    "txn" -> JObject("appId" -> JString(t.appId), "version" -> JLong(t.version)))

  private def parsePv(v: JValue): Map[String, Option[String]] = v match {
    case JObject(fields) => fields.map {
      case (k, JString(s)) => k -> Some(s)
      case (k, _) => k -> None
    }.toMap
    case _ => Map.empty
  }

  // ---- log plumbing ----

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitFile(path: String, v: Long): Path =
    new Path(s"$path/$LogDir/${"%020d".format(v)}.json")
  private def checkpointFile(path: String, v: Long): Path =
    new Path(s"$path/$LogDir/${"%020d".format(v)}.checkpoint.parquet")

  /** Latest committed version, or -1 for an empty/absent log. */
  def latestVersion(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    val dir = new Path(s"$path/$LogDir")
    if (!fs.exists(dir)) return -1L
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .sorted.lastOption.getOrElse(-1L)
  }

  /** One commit file's actions, applied onto the running replay state. */
  private final class Replay {
    var protocol: Protocol = Protocol(1, 2)
    var metaData: Option[MetaData] = None
    // keyed by the protocol's LOGICAL file identity (path, DV uniqueId):
    // a DV-update commit removes (path, oldDv) and adds (path, newDv),
    // and reconciliation must be order-insensitive within the commit
    val adds = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    val txns = scala.collection.mutable.Map[String, Long]()
    private def key(path: String, dv: Option[DvDescriptor]): String =
      path + "\u0000" + dv.fold("")(_.uniqueId)
    def keyOf(a: AddFile): String = key(a.path, a.deletionVector)
    def apply(action: JValue): Unit = {
      (action \ "add") match {
        case JNothing => case a =>
          val add = AddFile((a \ "path").extract[String], parsePv(a \ "partitionValues"),
            (a \ "size").extractOrElse[Long](0L),
            (a \ "modificationTime").extractOrElse[Long](0L),
            (a \ "dataChange").extractOrElse[Boolean](true),
            (a \ "stats").extractOpt[String].filter(_.nonEmpty),
            parseDv(a \ "deletionVector"))
          adds(key(add.path, add.deletionVector)) = add
      }
      (action \ "remove") match {
        case JNothing => case r =>
          adds.remove(key((r \ "path").extract[String],
            parseDv(r \ "deletionVector"))); ()
      }
      (action \ "metaData") match {
        case JNothing => case m =>
          metaData = Some(MetaData((m \ "id").extract[String],
            (m \ "schemaString").extract[String],
            (m \ "partitionColumns").extract[Seq[String]],
            (m \ "configuration").extractOrElse[Map[String, String]](Map.empty)))
      }
      (action \ "protocol") match {
        case JNothing => case p =>
          // NOT extractOpt[Seq[_]]: json4s extracts a MISSING field as
          // Some(Nil), and a legacy protocol would replay as a features
          // table with an empty feature list
          def features(v: JValue): Option[Seq[String]] = v match {
            case JNothing | JNull => None
            case x => Some(x.extract[Seq[String]])
          }
          protocol = Protocol((p \ "minReaderVersion").extract[Int],
            (p \ "minWriterVersion").extract[Int],
            features(p \ "readerFeatures"),
            features(p \ "writerFeatures"))
      }
      (action \ "txn") match {
        case JNothing => case t =>
          txns((t \ "appId").extract[String]) = (t \ "version").extract[Long]
      }
    }
  }

  /** Features this implementation actually implements. Reader-version
    * gate per PROTOCOL.md: v1 always; v2 adds column mapping (OK only
    * when the table doesn't enable it); v3 tables list readerFeatures
    * explicitly — every listed feature must be one we support.
    */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "columnMapping", "deletionVectors")
  private def gate(p: Protocol, m: MetaData): Unit = {
    val mapping = m.configuration.getOrElse("delta.columnMapping.mode", "none")
    // READS support name/id mapping via per-field physicalName
    // resolution ([[physicalName]] — id-mode writers also stamp
    // physical names, which is what this reader resolves by); WRITES
    // to mapped tables refuse in [[requireUnmapped]].
    require(Set("none", "name", "id").contains(mapping),
      s"DeltaInterop: unknown column mapping mode '$mapping'")
    p.minReaderVersion match {
      case 1 | 2 => ()
      case 3 =>
        val unsupported = p.readerFeatures.getOrElse(Nil).toSet -- SupportedReaderFeatures
        require(unsupported.isEmpty,
          s"DeltaInterop: table requires reader features ${unsupported.mkString(", ")} " +
            "this implementation does not support (refusing rather than misreading)")
      case v => throw new IllegalArgumentException(
        s"DeltaInterop: unknown minReaderVersion $v")
    }
  }

  /** The parquet-side spelling of a mapped column. Unmapped fields are
    * their own physical name, so every lookup below goes through this.
    */
  private def physicalName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Schema with physical field names — what the data files carry. */
  private def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalName(f))))

  private def isMapped(snap: Snapshot): Boolean =
    snap.metaData.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"

  /** Writers refuse mapped tables: appending/rewriting would have to
    * emit physical-named parquet and mapped stats, which this writer
    * does not do — refusing loudly beats writing a file real readers
    * resolve to all-nulls.
    */
  private def requireUnmapped(snap: Snapshot, what: String): Unit =
    require(!isMapped(snap),
      s"DeltaInterop $what: table uses column mapping — read-only here")

  // ---- file statistics (the protocol's data-skipping columns) ----

  /** `add.stats` + `partitionValues` → the pruning evaluator's shape.
    * Partition values become exact min==max stats (or all-null); data
    * columns parse back from the stats JSON ([[FileStats.fileStatOf]]),
    * keyed by physical name on mapped tables.
    */
  private[graft] def fileStatOf(a: AddFile, schema: StructType,
      partCols: Seq[String]): FileStats.FileStat = {
    val (parts, data) = schema.fields.toSeq.partition(f => partCols.contains(f.name))
    val stat = a.stats.map(FileStats.fileStatOf(_, data, physicalName))
      .getOrElse(FileStats.FileStat(None, Map.empty))
    // mapped tables key partitionValues by physical name too
    val pvCols = parts.map(f => f.name -> FileStats.partitionStat(
      a.partitionValues.getOrElse(physicalName(f), a.partitionValues.getOrElse(f.name, None)),
      f.dataType, "UTC", stat.numRecords))
    stat.copy(cols = stat.cols ++ pvCols)
  }

  /** The live files a predicate can possibly match — partition values
    * prune exactly, data columns prune on `add.stats` min/max/nullCount.
    */
  private[graft] def pruneAdds(spark: SparkSession, snap: Snapshot,
      where: Option[Column]): Seq[AddFile] = {
    val partCols = snap.metaData.partitionColumns
    FileStats.prune(spark, snap.schema, where, snap.adds,
      (a: AddFile) => fileStatOf(a, snap.schema, partCols))
  }

  /** Replay the log to `versionAsOf` (or latest). Starts from the
    * newest parquet checkpoint at or below the target when one exists,
    * else from version 0.
    */
  def snapshot(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): Snapshot = {
    val fs = fsFor(spark, path)
    val dir = new Path(s"$path/$LogDir")
    require(fs.exists(dir), s"not a Delta table (no $LogDir): $path")
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val commits = names.collect {
      case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong
    }.sorted
    require(commits.nonEmpty, s"empty Delta log: $path")
    val target = versionAsOf.getOrElse(commits.last)
    require(commits.contains(target),
      s"version $target not in log (have ${commits.headOption.getOrElse(-1L)}..${commits.last})")
    // single-part (graft + classic writers) and MULTI-PART checkpoints
    // (real writers with spark.databricks.delta.checkpoint.partSize —
    // and log-cleaned tables often retain ONLY these, so they are the
    // only way back to a readable snapshot). A multi-part set counts
    // only when every declared part is present.
    val single = names.collect {
      case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
        n.stripSuffix(".checkpoint.parquet").toLong -> Seq(n)
    }
    val MultiPart = "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
    val multi = names.collect { case n @ MultiPart(v, part, total) =>
      (v.toLong, part.toInt, total.toInt, n)
    }.groupBy(_._1).flatMap { case (v, parts) =>
      val total = parts.head._3
      val complete = parts.map(_._2).distinct.size == total &&
        parts.forall(_._3 == total)
      if (complete) Some(v -> parts.sortBy(_._2).map(_._4)) else None
    }
    val ckpts = (single ++ multi).filter(_._1 <= target).toSeq.sortBy(_._1)
    val replay = new Replay
    val from = ckpts.lastOption match {
      case Some((cv, partNames)) =>
        applyCheckpoint(spark, path,
          partNames.map(n => new Path(s"$path/$LogDir/$n")), replay)
        cv + 1
      case None => 0L
    }
    (from to target).foreach { v =>
      val in = fs.open(commitFile(path, v))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .foreach(line => replay.apply(JsonMethods.parse(line)))
    }
    val meta = replay.metaData.getOrElse(
      throw new IllegalStateException(s"Delta log has no metaData action: $path"))
    gate(replay.protocol, meta)
    Snapshot(target, replay.protocol, meta, replay.adds.values.toSeq, replay.txns.toMap)
  }

  /** Live data bytes at a snapshot, straight from `add.size` — the
    * planner-statistics number (broadcast decisions), zero data IO.
    */
  def liveBytes(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): Long =
    snapshot(spark, path, versionAsOf).adds.map(_.size).sum

  /** Delta's INSPECTION surface, metadata-only: `detail` = DESCRIBE
    * DETAIL (one row: id, protocol, partition columns, live file
    * count/bytes, properties), `files` = the live add list with sizes
    * and partition values — what retention audits and small-file
    * monitors script against. `history()` is the commit ledger.
    */
  def metadataTable(spark: SparkSession, path: String, table: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, path)
    table match {
      case "detail" =>
        Seq((snap.metaData.id, snap.version,
          snap.protocol.minReaderVersion, snap.protocol.minWriterVersion,
          snap.metaData.partitionColumns.mkString(","),
          snap.adds.size.toLong, snap.adds.map(_.size).sum,
          snap.metaData.configuration.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString(";")))
          .toDF("id", "version", "min_reader_version", "min_writer_version",
            "partition_columns", "num_files", "size_in_bytes", "properties")
      case "files" =>
        snap.adds.map(a => (decodePath(a.path), a.size,
          a.partitionValues.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=${v.getOrElse("null")}" }.mkString("/"),
          a.deletionVector.isDefined))
          .toDF("path", "size_in_bytes", "partition", "has_deletion_vector")
          .orderBy(col("path"))
      case other => throw new IllegalArgumentException(
        s"DeltaInterop: unknown metadata table '$other' — have detail, files")
    }
  }

  /** The snapshot as a DataFrame: file groups per distinct partition
    * tuple, partition columns rebuilt from `partitionValues` casts
    * (Delta serializes them as strings), columns reordered to the
    * table schema. Group count is the table's live partition count —
    * bounded by layout design, not data size.
    */
  def read(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): DataFrame =
    readWhere(spark, path, where = None, versionAsOf)

  /** [[read]] with file skipping: `where` prunes the file list through
    * [[pruneAdds]] (partition values exactly, data columns via
    * `add.stats`) BEFORE any scan task is planned, then is re-applied
    * to the surviving rows — pruning is a pure optimization, never a
    * semantic. At 100 TB this is the difference between planning tasks
    * for every file of the table and planning only the files whose
    * stats ranges intersect the predicate.
    */
  def readWhere(spark: SparkSession, path: String, where: Option[Column],
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, versionAsOf)
    val live = pruneAdds(spark, snap, where)
    if (live.isEmpty) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
      return where.map(empty.filter).getOrElse(empty)
    }
    // frameOver is the one scan builder (the DML paths read through it
    // too): ONE file-source relation with native partition-dir inference
    // when the layout allows (hive-style DV-free files), per-partition
    // scan groups otherwise — a union with one arm per partition tuple
    // made every read-back of a daily-partitioned table pay O(days)
    // analyzer work (~1.4 s of pure driver planning at 6 partitions,
    // measured; quadratic growth with partition count).
    val out = frameOver(spark, path, snap, live)
    where.map(out.filter).getOrElse(out)
  }

  /** One partition group's scan, honoring deletion vectors: files
    * without a DV scan plainly; files WITH one scan alongside their
    * physical row identity and anti-join the deleted (file, row) pairs
    * away. Positions decode on EXECUTORS (one task per DV'd file) so DV
    * work distributes with the files; AQE broadcasts the usually-small
    * deleted side, keyed by [[CommitKernel.fileKey]], the string Spark
    * reports as `_metadata.file_path`.
    * `files` must all share one partition tuple and one DV-presence
    * state is NOT required: the split happens here.
    */
  private def scanGroup(spark: SparkSession, path: String,
      dataSchema: StructType, files: Seq[AddFile],
      fileCol: Option[String] = None): DataFrame = {
    // data files carry PHYSICAL names (identical to logical when the
    // table is unmapped); scan physical, project back to logical
    val physSchema = physicalSchema(dataSchema)
    def toLogical(df: DataFrame): DataFrame = {
      val base =
        if (physSchema == dataSchema) dataSchema.fields.toSeq.map(f => df.col(f.name))
        else dataSchema.fields.zip(physSchema.fields).toSeq.map {
          case (lf, pf) => df.col(pf.name).as(lf.name) }
      df.select(base ++ fileCol.map(df.col): _*)
    }
    val (dvFiles, plain) = files.partition(_.deletionVector.isDefined)
    def withFile(df: DataFrame): DataFrame = fileCol match {
      case Some(fc) => df.withColumn(fc, col("_metadata.file_path"))
      case None => df
    }
    val plainDf =
      if (plain.isEmpty) None
      else Some(toLogical(withFile(spark.read.schema(physSchema)
        .parquet(plain.map(f => resolveAddPath(path, f.path)): _*))))
    val dvDf =
      if (dvFiles.isEmpty) None
      else {
        import spark.implicits._
        val fsq = fsFor(spark, path)
        val root = path
        val tasks = dvFiles.map(a =>
          (CommitKernel.fileKey(fsq, new Path(resolveAddPath(path, a.path))),
            a.deletionVector.get))
        // ship the SESSION Hadoop conf — a bare `new Configuration()` on
        // the executor would drop custom FS settings (endpoints,
        // credential providers) for non-local table roots
        val sconf = new SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration)
        val deleted = spark.createDataset(tasks)
          .repartition(math.min(tasks.size, 32))
          .flatMap { case (fileKey, dv) =>
            val fs = new Path(root).getFileSystem(sconf.value)
            DeletionVectors.positions(fs, root, dv).map(p => (fileKey, p))
          }.toDF("__dv_file", "__dv_row")
        Some(toLogical(withFile(spark.read.schema(physSchema)
          .parquet(dvFiles.map(f => resolveAddPath(path, f.path)): _*))
          .withColumn("__dv_file", col("_metadata.file_path"))
          .withColumn("__dv_row", col("_metadata.row_index"))
          .join(deleted, Seq("__dv_file", "__dv_row"), "left_anti")
          .drop("__dv_file", "__dv_row")))
      }
    (plainDf, dvDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(dataSchema.fields ++
            fileCol.map(fc => StructField(fc, StringType))))
    }
  }

  // ---- writer ----

  /** Write `df` as a Delta commit. `overwrite` removes the previous
    * live file set in the same commit (snapshot isolation: older
    * versions stay readable). `txn` stamps a (appId, version) action —
    * the protocol's exactly-once token for streaming writers. First
    * commit emits protocol + metaData; appends require an identical
    * schema, overwrites may change it (a new metaData action).
    */
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      overwrite: Boolean = false, txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long = graft.JobLabel(df.sparkSession, "delta.write") {
    commitStaged(df, path, partitionBy, overwrite, txn, mergeSchema = mergeSchema)
  }

  /** Additive schema union for mergeSchema appends: shared columns must
    * keep their exact type (no widening — refuse loudly), batch-only
    * columns append as nullable, table-only columns may be absent from
    * the batch (they read as null from its files). The evolved schema
    * preserves the table's column order, then the new columns in batch
    * order — Delta's own mergeSchema contract.
    */
  private def unionSchema(table: StructType, batch: StructType): StructType = {
    batch.fields.foreach { bf =>
      table.fields.find(_.name == bf.name).foreach { tf =>
        require(tf.dataType == bf.dataType,
          s"DeltaInterop mergeSchema: column ${bf.name} would change type " +
            s"${tf.dataType.simpleString} -> ${bf.dataType.simpleString} " +
            "(type changes are not additive — refusing)")
      }
    }
    StructType(table.fields ++
      batch.fields.filterNot(bf => table.fieldNames.contains(bf.name))
        .map(_.copy(nullable = true)))
  }

  /** The protocol's CHECK-constraint property prefix (`ALTER TABLE …
    * ADD CONSTRAINT` stores the SQL text as
    * `delta.constraints.<name>`); minWriterVersion 3 obliges writers
    * to enforce it.
    */
  private[sinks] val ConstraintPrefix = "delta.constraints."

  /** ADD CONSTRAINT … CHECK on the wire format: validates the EXISTING
    * rows first (delta-spark's own contract — one distributed probe),
    * then commits the expression under `delta.constraints.<name>` and
    * bumps the protocol so other writers must enforce it too
    * (minWriterVersion 3, or the `checkConstraints` feature on v7
    * tables).
    */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): Long = {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "addCheckConstraint")
    val key = ConstraintPrefix + name.toLowerCase(java.util.Locale.ROOT)
    require(!snap.metaData.configuration.contains(key),
      s"DeltaInterop: constraint $name already exists")
    if (snap.adds.nonEmpty) {
      val bad = frameOver(spark, path, snap, snap.adds)
        .filter(!coalesce(expr(exprSql), lit(true)))
      require(bad.isEmpty,
        s"DeltaInterop: existing rows violate CHECK constraint $name ($exprSql)")
    }
    val meta = snap.metaData.copy(
      configuration = snap.metaData.configuration + (key -> exprSql))
    val p = snap.protocol
    val proto: Seq[JObject] =
      if (p.minWriterVersion >= 7) {
        val wf = p.writerFeatures.getOrElse(Nil)
        if (wf.contains("checkConstraints")) Nil
        else Seq(protocolJson(p.copy(writerFeatures =
          Some(wf :+ "checkConstraints"))))
      } else if (p.minWriterVersion < 3)
        Seq(protocolJson(p.copy(minWriterVersion = 3)))
      else Nil
    val version = snap.version + 1
    publish(fs, path, version, proto ++ Seq(metaJson(meta)),
      "ADD CONSTRAINT", Map("name" -> name, "expr" -> exprSql))
    maybeCheckpoint(spark, path, version)
    version
  }

  /** DROP CONSTRAINT: removes the property (the protocol downgrade is
    * never rolled back — real writers leave it too).
    */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): Long = {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    val key = ConstraintPrefix + name.toLowerCase(java.util.Locale.ROOT)
    require(snap.metaData.configuration.contains(key),
      s"DeltaInterop: no CHECK constraint named $name")
    val meta = snap.metaData.copy(
      configuration = snap.metaData.configuration - key)
    val version = snap.version + 1
    publish(fs, path, version, Seq(metaJson(meta)),
      "DROP CONSTRAINT", Map("name" -> name))
    maybeCheckpoint(spark, path, version)
    version
  }

  /** Probe incoming/rewritten rows against the table's CHECK
    * constraints — writer-v3 territory: a writer that cannot enforce
    * them must not commit, so violations refuse LOUDLY naming the
    * constraint. NULL passes (SQL CHECK semantics). One limit(1) probe
    * per constraint, and none at all on constraint-free tables. This
    * also makes graft honor constraints on FOREIGN tables it appends
    * to — the interop obligation, not just its own feature.
    */
  private def enforceConstraints(snap: Snapshot, df: DataFrame): Unit =
    snap.metaData.configuration.foreach { case (k, v) =>
      if (k.startsWith(ConstraintPrefix)) {
        val bad = df.filter(!coalesce(expr(v), lit(true)))
        require(bad.isEmpty, "DeltaInterop: rows violate CHECK constraint " +
          s"${k.stripPrefix(ConstraintPrefix)} ($v)")
      }
    }

  /** Stage `df` and publish it as the next version. A txn-stamped append
    * (a streaming micro-batch) that stages no rows publishes NOTHING
    * and returns the current version (-1 when the table does not exist
    * yet): replaying an empty batch is a no-op either way, so it needs
    * no txn marker. Any other write of no rows refuses.
    */
  private def commitStaged(df: DataFrame, path: String, partitionBy: Seq[String],
      overwrite: Boolean, txn: Option[(String, Long)],
      mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    partitionBy.foreach(c => require(df.schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    val prev = if (latestVersion(spark, path) >= 0)
      Some(snapshot(spark, path)) else None
    prev.foreach(requireUnmapped(_, "write"))
    prev.foreach { s =>
      require(overwrite || mergeSchema ||
          s.schema.map(f => (f.name, f.dataType)) ==
            df.schema.map(f => (f.name, f.dataType)),
        "DeltaInterop append: schema must match the table " +
          s"(table ${s.schema.simpleString}, batch ${df.schema.simpleString}); " +
          "use overwrite to change it or mergeSchema for additive drift")
      require(overwrite || s.metaData.partitionColumns == partitionBy,
        "DeltaInterop append: partitionBy must match the table layout")
    }
    // additive evolution: compute the union schema up front so the new
    // metaData action lands IN the same commit as the data
    val evolved: Option[StructType] = prev.flatMap { s =>
      if (overwrite || !mergeSchema) None
      else {
        val u = unionSchema(s.schema, df.schema)
        if (u.map(f => (f.name, f.dataType)) == s.schema.map(f => (f.name, f.dataType)))
          None
        else Some(u)
      }
    }
    // replayed streaming batch → no-op, report current version
    txn.foreach { case (appId, v) =>
      prev.foreach { s =>
        if (s.txns.get(appId).exists(_ >= v)) return s.version
      }
    }
    // overwrite preserves configuration, so constraints survive it —
    // both paths must hold the incoming batch to them
    prev.foreach(enforceConstraints(_, df))
    val adds = stageAdds(df, path, partitionBy)
    if (adds.isEmpty && txn.isDefined && !overwrite)
      return prev.map(_.version).getOrElse(-1L)
    require(adds.nonEmpty, "DeltaInterop: write produced no data files")
    val now = System.currentTimeMillis()
    val removes = if (overwrite)
      prev.toSeq.flatMap(_.adds).map(a =>
        RemoveFile(a.path, Some(now), dataChange = true, a.deletionVector))
    else Nil
    val meta = (prev.map(_.metaData), evolved) match {
      case (Some(m), Some(u)) => m.copy(schemaString = u.json)
      case (Some(m), None) if !overwrite => m
      case (other, _) =>
        // overwrite replaces schema + layout but PRESERVES the table's
        // configuration (real Delta keeps TBLPROPERTIES — silently
        // dropping delta.enableChangeDataFeed would turn the feed off)
        MetaData(other.map(_.id).getOrElse(java.util.UUID.randomUUID().toString),
          df.schema.json, partitionBy,
          other.map(_.configuration).getOrElse(Map.empty))
    }
    // overwrite on a CDF table: the whole diff lands as CDC (old live
    // rows delete, incoming insert) — unless the overwrite also changes
    // the schema (names OR types: a same-name type change would write
    // CDC parquet whose types disagree with the committed schema), in
    // which case no single-schema CDC file can describe both sides and
    // the commit stays cdc-less (readChangeFeed refuses it loudly).
    // Plain appends never need cdc: readers synthesize inserts from the
    // dataChange adds.
    val cdc: Seq[JObject] =
      if (!overwrite) Nil
      else prev.filter(cdfEnabled).toSeq.flatMap { s =>
        val ins = df.withColumn(ChangeTypeCol, lit("insert"))
        if (s.adds.isEmpty) stageCdc(ins, path, partitionBy)
        else if (s.schema.map(f => (f.name, f.dataType)) !=
            df.schema.map(f => (f.name, f.dataType))) Nil
        else stageCdc(frameOver(spark, path, s, s.adds)
          .withColumn(ChangeTypeCol, lit("delete"))
          .unionByName(ins), path, partitionBy)
      }
    val version = prev.map(_.version + 1).getOrElse(0L)
    val actions: Seq[JObject] =
      (if (prev.isEmpty) Seq(protocolJson(Protocol(1, 2))) else Nil) ++
        (if (prev.isEmpty || overwrite || evolved.isDefined)
          Seq(metaJson(meta)) else Nil) ++
        txn.map { case (a, v) => txnJson(Txn(a, v)) }.toSeq ++
        removes.map(removeJson) ++ adds.map(addJson) ++ cdc
    publish(fs, path, version, actions,
      if (overwrite) "WRITE" else if (txn.isDefined) "STREAMING UPDATE" else "WRITE",
      Map("mode" -> (if (overwrite) "Overwrite" else "Append")))
    maybeCheckpoint(spark, path, version)
    version
  }

  /** Stage `df`'s files hive-style into the table tree
    * ([[CommitKernel.stage]]) and return their AddFile actions with
    * `add.stats` from the staged footers. Files are invisible until a
    * commit referencing them publishes (the log is the source of truth);
    * a failed commit leaves only unreferenced debris.
    */
  private def stageAdds(df: DataFrame, path: String,
      partitionBy: Seq[String], dataChange: Boolean = true,
      shape: Boolean = true): Seq[AddFile] = {
    // ONE writer task per partition dir (VersionedTable.byPartitions —
    // the graft-table write shape, with the same tasksPerPartition salt
    // knob for 100 TB dirs): without it, every upstream task writes a
    // sliver into every dir it holds rows for — N_tasks × N_dirs tiny
    // files per commit, which at any scale turns the NEXT read/merge
    // into a small-file storm (delta-spark ships the same default as
    // optimized writes). OPTIMIZE passes shape=false: its frames
    // arrive pre-shaped (byte-targeted bins, z-order ranges) and a
    // reshape here would undo exactly what it computed.
    val shaped =
      if (shape && partitionBy.nonEmpty) VersionedTable.byPartitions(df, partitionBy)
      else df
    val dataSchema = StructType(df.schema.filterNot(f => partitionBy.contains(f.name)))
    val now = System.currentTimeMillis()
    stageFiles(shaped, path, partitionBy).map { s =>
      AddFile(encodePath(s.path), s.partitionValues, s.bytes, now,
        dataChange = dataChange,
        stats = Some(FileStats.statsJson(s.stat, dataSchema.fields.toSeq)))
    }
  }

  /** Stage `df`'s files hive-style into the table tree under `prefix`
    * (empty for data files, `_change_data/` for CDC). Shared tail of
    * [[stageAdds]] and [[stageCdc]].
    */
  private def stageFiles(df: DataFrame, path: String,
      partitionBy: Seq[String], prefix: String = ""): Seq[CommitKernel.Staged] =
    CommitKernel.stage(df, path, StageDir,
      if (prefix.isEmpty) "delta: stage files" else "delta: stage cdc files",
      partitionBy)(src => prefix + src.rel)

  /** Adopt data files that already exist OUTSIDE this table's tree as
    * commit 0 — the metadata-only half of a cross-format CONVERT
    * (delta-spark's `CONVERT TO DELTA` shape): no data is copied; the
    * log's add actions reference the donor files by ABSOLUTE path (the
    * protocol's absolute-URI form, resolved by [[resolveAddPath]]), and
    * `add.stats` comes from ONE distributed [[FileStats]] pass so file
    * skipping works immediately on the converted table. Fresh locations
    * only — the donor format still owns those files' lifecycle (see
    * [[FormatConvert]] for the ownership contract).
    */
  private[sinks] def commitExternal(spark: SparkSession, path: String,
      schema: StructType, files: Seq[(String, Long)]): Long = {
    require(latestVersion(spark, path) < 0,
      s"DeltaInterop.commitExternal: $path is already a Delta table " +
        "(metadata-only adoption targets a fresh location)")
    require(files.nonEmpty, "DeltaInterop.commitExternal: no data files")
    val fs = fsFor(spark, path)
    val now = System.currentTimeMillis()
    val statsByFile = FileStats.fromFooters(spark, files.map(_._1), schema)
    val adds = files.map { case (abs, size) =>
      val st = statsByFile.get(abs)
      AddFile(encodePath(abs), Map.empty, size, now, dataChange = true,
        stats = st.map(FileStats.statsJson(_, schema.fields.toSeq)))
    }
    val meta = MetaData(java.util.UUID.randomUUID().toString,
      schema.json, Nil, Map.empty)
    publish(fs, path, 0L,
      Seq(protocolJson(Protocol(1, 2)), metaJson(meta)) ++ adds.map(addJson),
      "CONVERT")
    0L
  }

  /** The rows of `files` as one DataFrame in the table's schema and
    * column order, partition columns rebuilt from `partitionValues`
    * (group count = distinct partition tuples among the files —
    * layout-bounded, same shape as [[readWhere]]).
    */
  private def frameOver(spark: SparkSession, path: String, snap: Snapshot,
      files: Seq[AddFile], fileCol: Option[String] = None): DataFrame = {
    val schema = snap.schema
    val partCols = snap.metaData.partitionColumns
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    // FAST PATH — one scan for the whole file list. A union with one arm
    // per distinct partition tuple makes the PLAN grow with partition
    // count (a daily-partitioned year is a 365-way union: quadratic
    // analyzer cost, hundreds of scan nodes), which turns every DML
    // rewrite of a well-partitioned table into a planner bottleneck.
    // When every file is DV-free and its RELATIVE hive-style path parses
    // to exactly the log's partitionValues (graft's own layout; also
    // delta-spark's), Spark's native partition-dir inference rebuilds
    // the partition columns in ONE file-source relation — same
    // string→type cast as the literal fold below. The log stays
    // authoritative: any file whose path disagrees (foreign writers may
    // put files anywhere) drops the whole list to the per-tuple path.
    val hiveFast = partCols.nonEmpty && files.nonEmpty &&
      partCols.forall(c => physicalName(schema(c)) == c) &&
      files.forall { a =>
        a.deletionVector.isEmpty &&
          !a.path.matches("[A-Za-z][A-Za-z0-9+.-]*://.*") && {
            val rel = decodePath(a.path)
            !rel.startsWith("/") &&
              CommitKernel.partitionValues(rel, partCols) == a.partitionValues
          }
      }
    if (hiveFast) {
      val physSchema = physicalSchema(dataSchema)
      val readSchema = StructType(physSchema.fields ++
        partCols.map(c => schema(c)))
      val base = spark.read.schema(readSchema).option("basePath", path)
        .parquet(files.map(f => s"$path/${decodePath(f.path)}"): _*)
      val withF = fileCol.map(fc =>
        base.withColumn(fc, col("_metadata.file_path"))).getOrElse(base)
      val logical = dataSchema.fields.zip(physSchema.fields).toSeq.map {
        case (lf, pf) => withF.col(pf.name).as(lf.name)
      } ++ partCols.map(withF.col) ++ fileCol.map(withF.col)
      return withF.select(logical: _*)
        .select((schema.fieldNames.toSeq ++ fileCol).map(col): _*)
    }
    val parts = files.groupBy(_.partitionValues).toSeq.map { case (pv, fs) =>
      // scanGroup applies each file's deletion vector, so a rewrite
      // (DELETE/UPDATE/replaceWhere) of DV'd files never resurrects
      // their soft-deleted rows
      val base = scanGroup(spark, path, dataSchema, fs, fileCol)
      partCols.foldLeft(base) { (df, c) =>
        val f = schema(c)
        val v = pv.getOrElse(physicalName(f), pv.getOrElse(c, None))
        df.withColumn(c,
          v.map(s => lit(s).cast(f.dataType)).getOrElse(lit(null).cast(f.dataType)))
      }
    }
    parts.reduce(_ unionByName _)
      .select((schema.fieldNames.toSeq ++ fileCol).map(col): _*)
  }

  /** A predicate delete's file-level outcome: how much of the table the
    * rewrite actually touched (the untouched files stayed in the log
    * byte-for-byte).
    */
  final case class DeleteResult(version: Long, rewrittenFiles: Int,
      untouchedFiles: Int)

  /** DELETE WHERE on the wire format: rewrite ONLY the files whose
    * `add.stats` / partition values may contain matching rows; every
    * other live file stays in the log untouched. Rows where `where`
    * is TRUE are removed; NULL survives (SQL DELETE semantics). One
    * atomic commit carries the removes + rewritten survivors, so prior
    * versions stay readable (snapshot isolation) and a concurrent
    * writer loses loudly at publish.
    *
    * Scale: the rewrite set is bounded by stats overlap, not table
    * size — a delete keyed to a partition or a well-clustered column
    * rewrites a handful of files of a 100 TB table. A predicate with
    * no prunable conjunct degrades to a full rewrite, visible in the
    * returned counts.
    */
  def delete(spark: SparkSession, path: String,
      where: Column): DeleteResult = graft.JobLabel(spark, "delta.delete") {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "delete")
    val schema = snap.schema
    val partCols = snap.metaData.partitionColumns
    val touched = pruneAdds(spark, snap, Some(where))
    if (touched.isEmpty) // no file can match: no-op, no commit
      return DeleteResult(snap.version, 0, snap.adds.size)
    val hit = coalesce(where, lit(false))
    // persist only when the CDF branch will re-read the frame; the
    // survivor staging below is otherwise the frame's single consumer
    val frame0 = frameOver(spark, path, snap, touched)
    val frame = if (cdfEnabled(snap)) frame0.persist() else frame0
    try {
      // The matched-row count is ARITHMETIC, not a probe action: stage
      // the survivors first (the write any real delete must do anyway),
      // then matched = touched rows (log stats) − survivor rows (staged
      // footers). The old shape paid two extra actions per DELETE
      // (matched-emptiness, then survivor-emptiness). An observed
      // metric cannot serve here: AQE's empty-relation propagation
      // elides the CollectMetrics node when a full-partition delete
      // stages zero rows. Foreign adds without numRecords fall back to
      // one probe. `numRecords` counts physical rows, footers count
      // live ones: a touched file's deletion vector is subtracted.
      val adds = stageAdds(frame.filter(!hit), path, partCols)
      val stagedRows = adds.map(a => fileStatOf(a, schema, partCols).numRecords)
      val touchedRows = touched.map(a => fileStatOf(a, schema, partCols).numRecords
        .map(_ - a.deletionVector.fold(0L)(_.cardinality)))
      val matchedNone =
        if (stagedRows.forall(_.isDefined) && touchedRows.forall(_.isDefined))
          touchedRows.flatten.sum == stagedRows.flatten.sum
        else frame.filter(hit).isEmpty
      // stats overestimated and nothing actually matches: no-op — also
      // keeps the CDF contract (a change-free commit must write no cdc)
      if (matchedNone) {
        discard(fs, path, adds)
        return DeleteResult(snap.version, 0, snap.adds.size)
      }
      val cdc = cdcIfEnabled(snap, path, partCols)(
        frame.filter(hit).withColumn(ChangeTypeCol, lit("delete")))
      val now = System.currentTimeMillis()
      val removes = touched.map(a =>
        RemoveFile(a.path, Some(now), dataChange = true, a.deletionVector))
      val version = snap.version + 1
      publish(fs, path, version,
        removes.map(removeJson) ++ adds.map(addJson) ++ cdc, "DELETE")
      maybeCheckpoint(spark, path, version)
      DeleteResult(version, touched.size, snap.adds.size - touched.size)
    } finally { frame.unpersist(); () }
  }

  /** Conf key bounding how many deleted row indexes a single
    * [[deleteDv]] may materialize on the driver while building the
    * bitmaps (default 10M ≈ 80 MB of longs). A DELETE that soft-deletes
    * more than that should be a rewriting [[delete]] anyway — the DV
    * trade (skip-at-read) only pays while deleted rows are a small
    * fraction of each file.
    */
  private[sinks] val DefaultMaxDvRows = 10000000L


  /** Shared tail of [[deleteDv]] and [[updateDv]]: per-file set-union
    * of fresh deleted row indexes with any existing DV, one DV file
    * for the commit, the (remove old pair, add new pair) action list,
    * and — on the FIRST DV commit — the protocol upgrade to v3/v7,
    * UNIONING the feature lists the table already declared (a foreign
    * v3 table's timestampNtz etc. must survive the upgrade). Files
    * whose union equals their existing DV (every fresh match was
    * already deleted) are DROPPED — all-Nil means the whole operation
    * is a logical no-op and the caller must not commit (a change-free
    * commit would also poison the CDF synthesis rule).
    */
  private def dvSwapActions(fs: FileSystem, path: String, snap: Snapshot,
      matches: Seq[(AddFile, Array[Long])])
      : (Seq[RemoveFile], Seq[AddFile], Seq[JObject]) = {
    val newPerFile = matches.flatMap { case (a, fresh) =>
      val old = a.deletionVector
        .map(d => DeletionVectors.positions(fs, path, d))
        .getOrElse(Array.empty[Long])
      val union = (old ++ fresh).distinct.sorted
      if (union.length == old.length) None else Some((a, union))
    }
    if (newPerFile.isEmpty) return (Nil, Nil, Nil)
    val payloads = newPerFile.map { case (_, pos) => Roaring64.serialize(pos) }
    val (uuid, offsets) = DeletionVectors.writeDvFile(fs, new Path(path), payloads)
    val now = System.currentTimeMillis()
    val removes = newPerFile.map { case (a, _) =>
      RemoveFile(a.path, Some(now), dataChange = true, a.deletionVector) }
    val adds = newPerFile.zip(offsets).zip(payloads).map {
      case (((a, pos), off), payload) =>
        a.copy(dataChange = true, deletionVector = Some(DvDescriptor(
          "u", Z85.encodeUuid(uuid), Some(off), payload.length, pos.length)))
    }
    val proto: Seq[JObject] =
      if (snap.protocol.readerFeatures.exists(_.contains("deletionVectors"))) Nil
      else {
        val prevReader = snap.protocol.readerFeatures.getOrElse(Nil)
        val prevWriter = snap.protocol.writerFeatures.getOrElse(
          // legacy (1,2) implied writer features
          Seq("appendOnly", "invariants"))
        Seq(protocolJson(Protocol(3, 7,
          Some((prevReader :+ "deletionVectors").distinct),
          Some((prevWriter :+ "deletionVectors").distinct))))
      }
    (removes, adds, proto)
  }

  /** Soft DELETE via DELETION VECTORS — the merge-on-read half of the
    * protocol, what `delta.enableDeletionVectors` writers do. Matching
    * files keep their parquet bytes untouched; the commit swaps each
    * one's logical (path, DV) pair for (path, newDV) where newDV is the
    * set-union of the old DV and the newly matching physical row
    * indexes. Cost is O(matched rows) instead of O(bytes of touched
    * files) — at 100 TB, deleting a few thousand scattered rows writes
    * one small `.bin` file instead of rewriting gigabytes of parquet.
    * First DV commit upgrades the table protocol to v3/v7 with the
    * `deletionVectors` feature (plus the legacy writer features the old
    * version implied), exactly as real writers do.
    *
    * Matching row indexes are found distributed (one scan of the
    * stats-pruned file set carrying `_metadata.row_index`); only the
    * per-file index arrays land on the driver, bounded loudly by
    * `graft.delta.maxDvRows`.
    */
  def deleteDv(spark: SparkSession, path: String,
      where: Column): DeleteResult = graft.JobLabel(spark, "delta.deleteDv") {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "deleteDv")
    val partCols = snap.metaData.partitionColumns
    val touched = pruneAdds(spark, snap, Some(where))
    if (touched.isEmpty)
      return DeleteResult(snap.version, 0, snap.adds.size)
    val hit = coalesce(where, lit(false))
    val matches = matchedPositions(spark, path, snap, touched, hit, "deleteDv",
      "use the rewriting delete() for bulk deletes")
    if (matches.isEmpty)
      return DeleteResult(snap.version, 0, snap.adds.size)
    val (removes, adds, proto) = dvSwapActions(fs, path, snap, matches)
    if (removes.isEmpty) // every match was already soft-deleted
      return DeleteResult(snap.version, 0, snap.adds.size)
    // CDC: the DV-APPLIED frame, so rows an earlier soft delete
    // already removed are not re-reported as deleted
    val cdc = cdcIfEnabled(snap, path, partCols)(
      frameOver(spark, path, snap, touched).filter(hit)
        .withColumn(ChangeTypeCol, lit("delete")))
    val version = snap.version + 1
    publish(fs, path, version,
      proto ++ removes.map(removeJson) ++ adds.map(addJson) ++ cdc, "DELETE")
    maybeCheckpoint(spark, path, version)
    DeleteResult(version, removes.size, snap.adds.size - removes.size)
  }

  /** The physical row indexes where `hit` holds in each of `touched`,
    * scanned WITHOUT applying existing DVs: an already-deleted row that
    * matches again just re-enters [[dvSwapActions]]' set union. One
    * scan per partition tuple carries `_metadata.row_index`; only the
    * per-file index arrays reach the driver, and more than
    * `graft.delta.maxDvRows` of them refuse with `bulkHint`. Empty when
    * nothing matches.
    */
  private def matchedPositions(spark: SparkSession, path: String, snap: Snapshot,
      touched: Seq[AddFile], hit: Column, op: String,
      bulkHint: String): Seq[(AddFile, Array[Long])] = {
    val schema = snap.schema
    val partCols = snap.metaData.partitionColumns
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    val byFile = CommitKernel.byKey(fsFor(spark, path), touched)(a =>
      new Path(resolveAddPath(path, a.path)))
    val scans = touched.groupBy(_.partitionValues).toSeq.map { case (pv, files) =>
      val base = spark.read.schema(dataSchema)
        .parquet(files.map(f => resolveAddPath(path, f.path)): _*)
        .withColumn("__dv_file", col("_metadata.file_path"))
        .withColumn("__dv_row", col("_metadata.row_index"))
      partCols.foldLeft(base) { (df, c) =>
        val dt = schema(c).dataType
        val v = pv.getOrElse(c, None)
        df.withColumn(c, v.map(s => lit(s).cast(dt)).getOrElse(lit(null).cast(dt)))
      }
    }
    val matching = scans.reduce(_ unionByName _).filter(hit)
      .select(col("__dv_file"), col("__dv_row")).persist()
    try {
      val bound = spark.conf.getOption("graft.delta.maxDvRows")
        .map(_.toLong).getOrElse(DefaultMaxDvRows)
      val total = matching.count()
      require(total <= bound,
        s"DeltaInterop $op: $total matching rows exceeds $bound " +
          s"(graft.delta.maxDvRows) — $bulkHint")
      if (total == 0L) Nil
      else matching
        .groupBy(col("__dv_file"))
        .agg(sort_array(collect_list(col("__dv_row"))).as("rows"))
        .collect().toSeq
        .map(r => (byFile(r.getString(0)), r.getSeq[Long](1).toArray))
    } finally { matching.unpersist(); () }
  }

  /** Merge-on-read UPDATE — the other half of [[deleteDv]]'s trade:
    * matching rows are soft-deleted via deletion vectors (data parquet
    * untouched) and their updated copies land as a normal append, all
    * in ONE commit. Cost is O(matched rows) written + O(matched rows)
    * DV bits, instead of rewriting every touched file — what
    * `delta.enableDeletionVectors` writers do for UPDATE. The updated
    * copies are computed over the DV-APPLIED frame, so rows an earlier
    * soft delete removed can never resurrect as "updated" versions.
    * Partition-column updates re-partition hive-style like [[update]].
    */
  def updateDv(spark: SparkSession, path: String, where: Column,
      set: Map[String, Column]): DeleteResult = graft.JobLabel(spark, "delta.updateDv") {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "updateDv")
    val schema = snap.schema
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"DeltaInterop updateDv: unknown column $c"))
    require(set.nonEmpty, "DeltaInterop updateDv: empty SET")
    val partCols = snap.metaData.partitionColumns
    val touched = pruneAdds(spark, snap, Some(where))
    if (touched.isEmpty)
      return DeleteResult(snap.version, 0, snap.adds.size)
    val hit = coalesce(where, lit(false))
    // append side: DV-APPLIED frame → matched rows with SET applied
    val updated = frameOver(spark, path, snap, touched).filter(hit).select(
      schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(expr) => expr.cast(f.dataType).as(f.name)
          case None => col(f.name)
        }
      }: _*).persist()
    try {
      val matches = matchedPositions(spark, path, snap, touched, hit, "updateDv",
        "use the rewriting update() for bulk updates")
      if (matches.isEmpty)
        return DeleteResult(snap.version, 0, snap.adds.size)
      val (removes, dvAdds, proto) = dvSwapActions(fs, path, snap, matches)
      if (removes.isEmpty) // every match was already soft-deleted, and
        // the DV-applied update frame is therefore empty too
        return DeleteResult(snap.version, 0, snap.adds.size)
      enforceConstraints(snap, updated)
      val newAdds = stageAdds(updated, path, partCols)
      // CDC: preimage is the DV-applied matched frame, postimage is the
      // appended updated copies themselves
      val cdc = cdcIfEnabled(snap, path, partCols)(
        frameOver(spark, path, snap, touched).filter(hit)
          .withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(updated
            .withColumn(ChangeTypeCol, lit("update_postimage"))))
      val version = snap.version + 1
      publish(fs, path, version,
        proto ++ removes.map(removeJson) ++ (dvAdds ++ newAdds).map(addJson)
          ++ cdc, "UPDATE")
      maybeCheckpoint(spark, path, version)
      DeleteResult(version, removes.size, snap.adds.size - removes.size)
    } finally { updated.unpersist(); () }
  }

  /** UPDATE … SET on the wire format: rows where `where` is TRUE get
    * `set`'s expressions (cast to the column's declared type); all
    * other rows — including NULL-predicate rows — pass through
    * unchanged. Only stats/partition-overlapping files rewrite, one
    * atomic commit, same isolation story as [[delete]]. Updating a
    * partition column is allowed: the rewrite re-partitions hive-style,
    * so moved rows land in their new directory with correct
    * `partitionValues`.
    */
  def update(spark: SparkSession, path: String, where: Column,
      set: Map[String, Column]): DeleteResult = graft.JobLabel(spark, "delta.update") {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "update")
    val schema = snap.schema
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"DeltaInterop update: unknown column $c"))
    require(set.nonEmpty, "DeltaInterop update: empty SET")
    val touched = pruneAdds(spark, snap, Some(where))
    if (touched.isEmpty)
      return DeleteResult(snap.version, 0, snap.adds.size)
    val hit = coalesce(where, lit(false))
    // persist only when later passes re-read the frame (CDF staging,
    // CHECK-constraint verification); the rewrite staging is otherwise
    // the single consumer
    val hasChecks = snap.metaData.configuration.keys
      .exists(_.startsWith(ConstraintPrefix))
    val frame0 = frameOver(spark, path, snap, touched)
    val frame = if (cdfEnabled(snap) || hasChecks) frame0.persist() else frame0
    def applySet(df: DataFrame, always: Boolean): DataFrame = df.select(
      schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(expr) if always => expr.cast(f.dataType).as(f.name)
          case Some(expr) =>
            when(hit, expr.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    try {
      if (hasChecks) // must refuse BEFORE any file lands in the table tree
        enforceConstraints(snap, applySet(frame.filter(hit), always = true))
      // matched-row count observed on the rewrite staging pass itself —
      // no separate isEmpty probe action (see delete). An UPDATE rewrite
      // carries every touched row, so the staged result is empty only
      // when the touched files are (AQE then elides the CollectMetrics
      // node and the observation row is absent — which is exactly the
      // zero-matches case).
      val obs = org.apache.spark.sql.Observation()
      val adds = stageAdds(
        applySet(frame.observe(obs, count(when(hit, lit(1))).as("hits")),
          always = false),
        path, snap.metaData.partitionColumns)
      val hits = obs.get.get("hits").fold(0L)(_.asInstanceOf[Long])
      // stats overestimated and nothing matches: no-op (CDF contract)
      if (hits == 0L) {
        discard(fs, path, adds)
        return DeleteResult(snap.version, 0, snap.adds.size)
      }
      val cdc = cdcIfEnabled(snap, path, snap.metaData.partitionColumns)(
        frame.filter(hit).withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(applySet(frame.filter(hit), always = true)
            .withColumn(ChangeTypeCol, lit("update_postimage"))))
      val now = System.currentTimeMillis()
      val removes = touched.map(a =>
        RemoveFile(a.path, Some(now), dataChange = true, a.deletionVector))
      val version = snap.version + 1
      publish(fs, path, version,
        removes.map(removeJson) ++ adds.map(addJson) ++ cdc, "UPDATE")
      maybeCheckpoint(spark, path, version)
      DeleteResult(version, touched.size, snap.adds.size - touched.size)
    } finally { frame.unpersist(); () }
  }

  /** Delta's `replaceWhere`: atomically replace the rows matching
    * `where` with `df`'s rows — one commit deletes the matching rows
    * (rewriting only overlapping files, keeping their non-matching
    * rows) and inserts the new data. Every incoming row must satisfy
    * `where` (the API's constraint), checked distributed and refused
    * loudly BEFORE any file moves.
    */
  def replaceWhere(df: DataFrame, path: String,
      where: Column): Long = graft.JobLabel(df.sparkSession, "delta.replaceWhere") {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "replaceWhere")
    val schema = snap.schema
    require(schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"DeltaInterop replaceWhere: schema must match the table " +
        s"(table ${schema.simpleString}, batch ${df.schema.simpleString})")
    val violations = df.filter(!coalesce(where, lit(false)))
    require(violations.isEmpty,
      "DeltaInterop replaceWhere: incoming rows must all satisfy the predicate")
    enforceConstraints(snap, df)
    val touched = pruneAdds(spark, snap, Some(where))
    val survivors =
      if (touched.isEmpty) None
      else Some(frameOver(spark, path, snap, touched)
        .filter(!coalesce(where, lit(false))).persist())
    try {
      val partCols = snap.metaData.partitionColumns
      val survivorAdds = survivors match {
        case Some(s) if !s.isEmpty => stageAdds(s, path, partCols)
        case _ => Nil
      }
      val newAdds = stageAdds(df, path, partCols)
      val cdc = cdcIfEnabled(snap, path, partCols) {
        val ins = df.withColumn(ChangeTypeCol, lit("insert"))
        if (touched.isEmpty) ins
        else frameOver(spark, path, snap, touched)
          .filter(coalesce(where, lit(false)))
          .withColumn(ChangeTypeCol, lit("delete"))
          .unionByName(ins)
      }
      if (unchanged(snap, cdc)) { // no row matched, none came in: no-op
        discard(fs, path, survivorAdds ++ newAdds)
        return snap.version
      }
      val now = System.currentTimeMillis()
      val removes = touched.map(a =>
        RemoveFile(a.path, Some(now), dataChange = true, a.deletionVector))
      val version = snap.version + 1
      publish(fs, path, version,
        removes.map(removeJson) ++ (survivorAdds ++ newAdds).map(addJson) ++ cdc,
        "WRITE", Map("mode" -> "Overwrite", "predicate" -> "replaceWhere"))
      maybeCheckpoint(spark, path, version)
      version
    } finally { survivors.foreach(_.unpersist()); () }
  }

  /** MERGE INTO on the wire format — the conditional upsert Delta
    * itself runs as two jobs, spelled the same way here: (1) FIND the
    * touched files — source key [min,max] envelope prunes the live set
    * on `add.stats` (one bounded aggregate over the source), then one
    * scan of the candidates' ON columns semi-joined to the source keys
    * yields the files that actually hold a matched row; (2) REWRITE
    * exactly those files through a full-outer join with the source,
    * applying `clauses` in order, first match wins ([[VersionedTable]]'s
    * clause ADT and semantics: conditions/values reference `t.<col>` /
    * `s.<col>`). Unmatched target rows in touched files carry over
    * byte-identical in value; untouched files stay in the log untouched.
    * More than one source row matching the same target key fails in the
    * plan (`raise_error` — Delta's multiple-source-rows-matched error).
    * One atomic commit: removes for touched files, adds for the
    * rewritten + inserted rows, CDC actions when the table has CDF
    * enabled.
    *
    * Scale: write amplification is bounded by files with GENUINE
    * matches, not stats overlap — on a 100 TB table a merge keyed to a
    * well-clustered column rewrites only the hit files, and the extra
    * detection pass reads just the ON columns of the stats-pruned
    * candidates.
    */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      on: Seq[String], clauses: Seq[VersionedTable.MergeClause],
      txn: Option[(String, Long)] = None): DeleteResult = graft.JobLabel(spark, "delta.merge") {
    require(clauses.nonEmpty, "DeltaInterop merge: no clauses")
    require(on.nonEmpty, "DeltaInterop merge: empty ON key list")
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "merge")
    // replayed streaming batch → no-op (protocol txn action)
    txn.foreach { case (appId, v) =>
      if (snap.txns.get(appId).exists(_ >= v))
        return DeleteResult(snap.version, 0, snap.adds.size)
    }
    val schema = snap.schema
    val partCols = snap.metaData.partitionColumns
    on.foreach(c => require(schema.fieldNames.contains(c),
      s"DeltaInterop merge: ON column $c not in table schema"))
    on.foreach(c => require(source.columns.contains(c),
      s"DeltaInterop merge: ON column $c not in source"))
    val sourceCols = source.columns.toSet
    val candidates = graft.JobLabel(spark, "delta.merge: key envelope") {
      FileStats.keyEnvelope(source.select(on.map(col): _*), on)
    } match {
      case FileStats.Empty => return DeleteResult(snap.version, 0, snap.adds.size)
      case FileStats.Unmatchable => Nil // no source key can equal anything
      case FileStats.Unbounded => snap.adds
      case FileStats.Bounds(p) => pruneAdds(spark, snap, Some(p))
    }
    val src = source.persist()
    try {
      val srcKeys = src.select(on.map(col): _*).distinct()
      val touched: Seq[AddFile] =
        if (candidates.isEmpty) Nil
        else CommitKernel.touched(
          frameOver(spark, path, snap, candidates, fileCol = Some("__file"))
            .join(srcKeys, on, "left_semi").select(col("__file")),
          candidates, (a: AddFile) => new Path(resolveAddPath(path, a.path)),
          "delta.merge: touched-file probe")
      val t0 =
        if (touched.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else frameOver(spark, path, snap, touched)
      val j = MergeKernel.join(t0, src, on).persist()
      try {
        val mc = MergeKernel.columns(schema, schema.fieldNames.toSet, sourceCols, on,
          clauses, "DeltaInterop merge")
        val resolved = j.select(mc.picked.as("__r"))
          .filter(col("__r").isNotNull).select("__r.*")
        if (touched.isEmpty && resolved.isEmpty)
          return DeleteResult(snap.version, 0, snap.adds.size) // full no-op
        enforceConstraints(snap, resolved)
        val adds = stageAdds(resolved, path, partCols)
        val cdc = cdcIfEnabled(snap, path, partCols) {
          val mt = j.filter(mc.matched).withColumn("__tag", mc.matchTag)
          val pre = mt.filter(col("__tag") === "update")
            .select(mc.fromTarget.as("__r")).select("__r.*")
            .withColumn(ChangeTypeCol, lit("update_preimage"))
          val post = mt.filter(col("__tag") === "update")
            .select(mc.matchedResult.as("__r")).select("__r.*")
            .withColumn(ChangeTypeCol, lit("update_postimage"))
          val del = mt.filter(col("__tag") === "delete")
            .select(mc.fromTarget.as("__r")).select("__r.*")
            .withColumn(ChangeTypeCol, lit("delete"))
          val ins = j.filter(col("t.__te").isNull)
            .select(mc.notMatchedResult.as("__r")).filter(col("__r").isNotNull)
            .select("__r.*").withColumn(ChangeTypeCol, lit("insert"))
          pre.unionByName(post).unionByName(del).unionByName(ins)
        }
        // matched rows but no clause fired: the rewrite only carries
        // rows over, so nothing is published (the CDF contract)
        if (unchanged(snap, cdc)) {
          discard(fs, path, adds)
          return DeleteResult(snap.version, 0, snap.adds.size)
        }
        val now = System.currentTimeMillis()
        val removes = touched.map(a =>
          RemoveFile(a.path, Some(now), dataChange = true, a.deletionVector))
        val version = snap.version + 1
        publish(fs, path, version,
          txn.map { case (a, v) => txnJson(Txn(a, v)) }.toSeq ++
            removes.map(removeJson) ++ adds.map(addJson) ++ cdc, "MERGE")
        maybeCheckpoint(spark, path, version)
        DeleteResult(version, touched.size, snap.adds.size - touched.size)
      } finally { j.unpersist(); () }
    } finally { src.unpersist(); () }
  }

  /** `foreachBatch` body for a STREAMING MERGE into the wire format —
    * the CDC-upsert sink shape ([[VersionedTable.streamMerger]]'s
    * sibling): each micro-batch merges under its (appId, batchId) txn
    * action, so a replayed batch after recovery is a no-op and the
    * sink stays exactly-once end to end.
    *
    * No separate emptiness action: [[merge]]'s key-envelope aggregate
    * also counts the source, so an empty batch stops there and commits
    * nothing. [[merge]] persists the source itself, since several of
    * its actions read it.
    */
  def streamBatchMerger(path: String, on: Seq[String],
      clauses: Seq[VersionedTable.MergeClause],
      appId: String): (DataFrame, Long) => Unit = { (batch, batchId) =>
    graft.GraftSession.withMicroBatchDml(batch) {
      merge(batch.sparkSession, path, batch, on, clauses,
        txn = Some((appId, batchId)))
      ()
    }
  }

  /** One commit file's raw actions. */
  private def commitActions(fs: FileSystem, path: String, v: Long): Seq[JValue] = {
    val in = fs.open(commitFile(path, v))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map(JsonMethods.parse(_))
  }

  /** The rows APPENDED by commits in `(fromVersion, toVersion]` — the
    * Delta streaming-source contract: only `dataChange = true` adds
    * count, so maintenance commits ([[compact]]) re-emit nothing. A
    * commit that REMOVES data with `dataChange = true` (delete, update,
    * overwrite, replaceWhere) is not expressible as an append and fails
    * the tail loudly unless `ignoreChanges` (which then re-emits the
    * rewritten files' rows — Delta's own knob and caveat).
    */
  def appendsBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, ignoreChanges: Boolean = false): DataFrame = {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path, Some(toVersion))
    val adds = (fromVersion + 1 to toVersion).flatMap { v =>
      val actions = commitActions(fs, path, v)
      val rewrites = actions.exists(a =>
        (a \ "remove" \ "dataChange").extractOpt[Boolean].contains(true))
      require(!rewrites || ignoreChanges,
        s"DeltaInterop appendsBetween: commit $v rewrites data " +
          "(remove with dataChange=true) — not expressible as an append; " +
          "set ignoreChanges=true to re-emit rewritten rows")
      actions.flatMap { a =>
        a \ "add" match {
          case JNothing => None
          case ad if !(ad \ "dataChange").extractOrElse[Boolean](true) => None
          case ad => Some(AddFile((ad \ "path").extract[String],
            parsePv(ad \ "partitionValues"),
            (ad \ "size").extractOrElse[Long](0L),
            (ad \ "modificationTime").extractOrElse[Long](0L),
            dataChange = true,
            // carry the DV so frameOver's scan drops soft-deleted rows
            deletionVector = parseDv(ad \ "deletionVector")))
        }
      }
    }
    if (adds.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
    else frameOver(spark, path, snap, adds)
  }

  /** OPTIMIZE (bin-packing compaction): every hive partition holding
    * more than one live file rewrites into one file per partition
    * tuple; single-file partitions are untouched. All actions carry
    * `dataChange = false` — the protocol's signal that the commit is
    * maintenance, so streaming readers tailing the table skip it
    * instead of re-emitting rows. This is the operational pair of a
    * per-micro-batch streaming sink: at 100 TB a compactor runs beside
    * the stream and the small-file count stays bounded per partition
    * instead of growing with stream age.
    */
  def compact(spark: SparkSession, path: String): DeleteResult =
    compact(spark, path, zorderBy = Nil)

  /** Per-partition output-file count for a byte-targeted compaction:
    * `ceil(partition's live bytes / targetFileBytes)` — the knob that
    * keeps OPTIMIZE from packing a 1 TB partition into one 1 TB file.
    * Returned as a salt EXPRESSION (a when-chain over the bounded
    * partition-tuple list) so one shuffle splits every partition into
    * its own file count.
    */
  private def sizeSalt(schema: StructType,
      groups: Map[Map[String, Option[String]], Seq[AddFile]],
      partCols: Seq[String], targetFileBytes: Long): (Column, Int) = {
    val nOut = groups.map { case (pv, fs) =>
      pv -> math.max(1L, (fs.map(_.size).sum + targetFileBytes - 1)
        / targetFileBytes).toInt
    }
    val modExpr = nOut.foldLeft(lit(1)) { case (acc, (pv, n)) =>
      val hit = partCols.map { c =>
        val f = schema(c)
        val v = pv.getOrElse(physicalName(f), pv.getOrElse(c, None))
        col(c) <=> v.map(s => lit(s).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType))
      }.reduceOption(_ && _).getOrElse(lit(true))
      when(hit, lit(n)).otherwise(acc)
    }
    (pmod((rand(7) * 1000000).cast("int"), modExpr), nOut.values.sum)
  }

  /** OPTIMIZE … ZORDER BY when `zorderBy` is non-empty: every live file
    * rewrites sorted by the interleaved quantile-bucketed Morton key of
    * the z-columns ([[graft.functions.ZOrder]]), so each output file
    * covers a small hyper-rectangle and range predicates on ANY
    * z-column — not just a leading sort column — prune through
    * `add.stats`. One COW rewrite buys every later scan's skipping,
    * Delta's own OPTIMIZE ZORDER trade. Still `dataChange = false`:
    * streaming tails re-emit nothing.
    */
  def compact(spark: SparkSession, path: String, zorderBy: Seq[String],
      filesPerPartition: Int = 16,
      targetFileBytes: Option[Long] = None): DeleteResult = {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    requireUnmapped(snap, "compact")
    val partCols = snap.metaData.partitionColumns
    zorderBy.foreach(c => require(
      snap.schema.fieldNames.contains(c) && !partCols.contains(c),
      s"compact zorderBy: $c must be a non-partition data column"))
    // a partition qualifies if it can be packed smaller OR any of its
    // files carries a deletion vector — OPTIMIZE is also the operation
    // that collapses accumulated DVs back into clean parquet. A z-order
    // rewrite re-clusters EVERYTHING: global clustering is the point.
    val multi =
      if (zorderBy.nonEmpty) snap.adds.groupBy(_.partitionValues)
      else snap.adds.groupBy(_.partitionValues)
        .filter { case (_, fs) => fs.size > 1 || fs.exists(_.deletionVector.isDefined) }
    if (multi.isEmpty) return DeleteResult(snap.version, 0, snap.adds.size)
    val touched = multi.values.flatten.toSeq
    val frame = frameOver(spark, path, snap, touched)
    val packed =
      if (zorderBy.isEmpty) {
        targetFileBytes match {
          case Some(target) =>
            // byte-targeted bin-packing: ceil(bytes/target) files per
            // partition — a huge partition never packs into one file.
            // Range partitioning keeps distinct (partition, salt) keys
            // in their own tasks (hash would birthday-collide them)
            val (salt, totalOut) = sizeSalt(snap.schema, multi, partCols, target)
            frame.withColumn("__salt", salt)
              .repartitionByRange(totalOut, (partCols.map(col) :+ col("__salt")): _*)
              .drop("__salt")
          case None if partCols.isEmpty => frame.coalesce(1)
          // one task per partition tuple → one output file per hive dir
          case None => frame.repartition(multi.size, partCols.map(col): _*)
        }
      } else {
        import graft.functions.ZOrder
        val bounds = zorderBy.map(c => ZOrder.quantileBoundaries(frame, c))
        val zkey = ZOrder.zorderKey(zorderBy.map(col), bounds,
          bits = math.min(8, 63 / zorderBy.size))
        val keys = partCols.map(col) :+ col("__z")
        frame.withColumn("__z", zkey)
          .repartitionByRange(
            math.max(multi.size, filesPerPartition) , keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__z")
      }
    val adds = stageAdds(packed, path, partCols, dataChange = false,
      shape = false)
    val now = System.currentTimeMillis()
    val removes = touched.map(a =>
        RemoveFile(a.path, Some(now), dataChange = false, a.deletionVector))
    val version = snap.version + 1
    publish(fs, path, version, removes.map(removeJson) ++ adds.map(addJson),
      "OPTIMIZE")
    maybeCheckpoint(spark, path, version)
    DeleteResult(version, touched.size, snap.adds.size - touched.size)
  }

  /** VACUUM: physically delete data files that are no longer referenced
    * by the CURRENT snapshot and have been unreferenced for at least
    * `retentionMs` (judged by file modification time, the protocol's
    * own heuristic). Time travel older than the retention window stops
    * working after a vacuum — Delta's documented contract — so the
    * default keeps 7 days. Returns the deleted file count.
    *
    * The walk lists the table tree once (driver-side, per maintenance
    * run — not per query; queries never list). Stage dirs of writes that
    * crashed mid-stage are reclaimed under the same age gate
    * ([[CommitKernel.reclaim]]) and count one each.
    */
  def vacuum(spark: SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    require(retentionMs >= 0, "vacuum: negative retention")
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    // data files and the deletion-vector .bin files they reference
    val live = (snap.adds.map(a => resolveAddPath(path, a.path)) ++
      snap.adds.flatMap(_.deletionVector.flatMap(_.filePath(path))))
      .map(p => CommitKernel.fileKey(fs, new Path(p))).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val dead = CommitKernel.walk(fs, new Path(path), _ != LogDir).map(_._1).filter { st =>
      val name = st.getPath.getName
      (name.endsWith(".parquet") || name.startsWith("deletion_vector_")) &&
        !live.contains(CommitKernel.fileKey(fs, st.getPath)) && st.getModificationTime < cutoff
    }.map(_.getPath)
    dead.foreach(fs.delete(_, false))
    dead.size + CommitKernel.reclaim(fs, new Path(s"$path/$StageDir"), retentionMs).size
  }

  // ---- change data feed (CDF) ----

  /** Directory for CDC files, `_change_type` column name, and the table
    * property that turns the feed on — all protocol-fixed names.
    */
  private[sinks] val CdcDir = "_change_data"
  private[sinks] val CdfProp = "delta.enableChangeDataFeed"
  private[sinks] val ChangeTypeCol = "_change_type"

  private def cdfEnabled(snap: Snapshot): Boolean =
    snap.metaData.configuration.get(CdfProp).exists(_.equalsIgnoreCase("true"))

  /** ALTER TABLE SET TBLPROPERTIES: a metaData-only commit layering
    * `props` over the existing configuration. Enabling
    * `delta.enableChangeDataFeed` also upgrades the protocol the way
    * real writers do — legacy tables to writer version 4, feature
    * tables by appending the `changeDataFeed` writer feature.
    */
  def setTableProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "setTableProperties: empty property map")
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    val meta = snap.metaData.copy(
      configuration = snap.metaData.configuration ++ props)
    val p = snap.protocol
    val proto: Seq[JObject] =
      if (!props.get(CdfProp).exists(_.equalsIgnoreCase("true"))) Nil
      else if (p.minWriterVersion >= 7) {
        val wf = p.writerFeatures.getOrElse(Nil)
        if (wf.contains("changeDataFeed")) Nil
        else Seq(protocolJson(p.copy(writerFeatures =
          Some(wf :+ "changeDataFeed"))))
      } else if (p.minWriterVersion < 4)
        Seq(protocolJson(p.copy(minWriterVersion = 4)))
      else Nil
    val version = snap.version + 1
    publish(fs, path, version, proto ++ Seq(metaJson(meta)),
      "SET TBLPROPERTIES")
    maybeCheckpoint(spark, path, version)
    version
  }

  /** Stage change rows (data columns + partition columns +
    * `_change_type`) under `_change_data/` and return their `cdc`
    * actions. CDC files are partitioned like the table and carry the
    * SAME physical schema as data files plus `_change_type` — the
    * protocol's layout. The kernel's footer pass covers them too (its
    * stats are unused: data queries never scan CDC files), and so does
    * its zero-row drop: an empty change set stages no file and returns
    * Nil, which [[unchanged]] reads as "this commit changes no row".
    */
  private def stageCdc(changes: DataFrame, path: String,
      partCols: Seq[String]): Seq[JObject] =
    stageFiles(
      if (partCols.nonEmpty) VersionedTable.byPartitions(changes, partCols)
      else changes,
      path, partCols, prefix = s"$CdcDir/").map { s =>
        JObject("cdc" -> JObject(
          "path" -> JString(encodePath(s.path)),
          "partitionValues" -> pvJson(s.partitionValues),
          "size" -> JLong(s.bytes),
          "dataChange" -> JBool(false)))
    }

  /** The change rows a DELETE/UPDATE commit must describe when the feed
    * is on: Nil when it isn't (one branchy call site per writer).
    */
  private def cdcIfEnabled(snap: Snapshot, path: String,
      partCols: Seq[String])(changes: => DataFrame): Seq[JObject] =
    if (!cdfEnabled(snap)) Nil else stageCdc(changes, path, partCols)

  /** The feed is on and the staged change set is empty: the commit
    * changes no row. Publishing its rewrite anyway would leave adds and
    * removes without `cdc` actions, which [[readChangeFeed]] refuses
    * and protocol readers misread as deletes plus inserts.
    */
  private def unchanged(snap: Snapshot, cdc: Seq[JObject]): Boolean =
    cdfEnabled(snap) && cdc.isEmpty

  /** Delete staged adds of a commit that will not publish. */
  private def discard(fs: FileSystem, path: String, adds: Seq[AddFile]): Unit =
    adds.foreach(a => fs.delete(new Path(resolveAddPath(path, a.path)), false))

  private final case class CdcFile(path: String,
      partitionValues: Map[String, Option[String]])

  /** CHANGE DATA FEED read: every change committed in `(fromVersion,
    * toVersion]` as the table's columns plus `_change_type`
    * (`insert` / `delete` / `update_preimage` / `update_postimage`),
    * `_commit_version`, and `_commit_timestamp` — delta-spark's
    * `table_changes` surface. Per the protocol, a commit that wrote
    * `cdc` actions is read from its `_change_data` files ALONE (they
    * describe all of its changes); a commit without them synthesizes
    * inserts from `dataChange` adds and deletes from `dataChange`
    * removes. A commit that both adds and removes data without `cdc`
    * (a rewrite from a non-CDF writer) is ambiguous and refuses
    * loudly rather than fabricate change rows.
    *
    * Scale: one scan per commit over exactly that commit's CDC/added
    * files; removed-file synthesis replays the prior version's log to
    * recover partition values (metadata-bounded). CDC files age out
    * with [[vacuum]]'s retention, the protocol's own availability
    * bound.
    */
  def readChangeFeed(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path, Some(toVersion))
    requireUnmapped(snap, "readChangeFeed")
    val schema = snap.schema
    val partCols = snap.metaData.partitionColumns
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    val cdcSchema = StructType(dataSchema.fields :+
      StructField(ChangeTypeCol, org.apache.spark.sql.types.StringType))
    val outCols = schema.fieldNames.toSeq :+ ChangeTypeCol
    def withParts(df: DataFrame, pv: Map[String, Option[String]]): DataFrame =
      partCols.foldLeft(df) { (d, c) =>
        val f = schema(c)
        val v = pv.getOrElse(physicalName(f), pv.getOrElse(c, None))
        d.withColumn(c,
          v.map(s => lit(s).cast(f.dataType)).getOrElse(lit(null).cast(f.dataType)))
      }.select(outCols.map(col): _*)
    // removed files' partition values / DVs come from the log AS OF the
    // version that still referenced them — maintained INCREMENTALLY
    // across the range (one snapshot at the range start, then each
    // commit's own actions), never one full log replay per commit
    var live: scala.collection.immutable.Map[String, AddFile] =
      if (fromVersion < 0) Map.empty
      else snapshot(spark, path, Some(fromVersion)).adds
        .map(a => a.path -> a).toMap
    val frames = ((fromVersion + 1) to toVersion).flatMap { v =>
      val actions = commitActions(fs, path, v)
      val ts = fs.getFileStatus(commitFile(path, v)).getModificationTime
      val cdcs = actions.flatMap { a =>
        a \ "cdc" match {
          case JNothing => None
          case c => Some(CdcFile((c \ "path").extract[String],
            parsePv(c \ "partitionValues")))
        }
      }
      // ALL adds/removes (dataChange or not) — maintenance commits move
      // files too and the live map must track them
      val allAdds = actions.flatMap { a =>
        a \ "add" match {
          case JNothing => None
          case ad => Some(AddFile((ad \ "path").extract[String],
            parsePv(ad \ "partitionValues"),
            (ad \ "size").extractOrElse[Long](0L), 0L,
            dataChange = (ad \ "dataChange").extractOrElse[Boolean](true),
            deletionVector = parseDv(ad \ "deletionVector")))
        }
      }
      val allRemovedPaths = actions.flatMap { a =>
        a \ "remove" match {
          case JNothing => None
          case r => Some(((r \ "path").extract[String],
            (r \ "dataChange").extractOrElse[Boolean](true)))
        }
      }
      val prevLive = live
      live = live -- allRemovedPaths.map(_._1) ++ allAdds.map(a => a.path -> a)
      val changes: Seq[DataFrame] =
        if (cdcs.nonEmpty)
          cdcs.groupBy(_.partitionValues).toSeq.map { case (pv, files) =>
            withParts(spark.read.schema(cdcSchema)
              .parquet(files.map(f => resolveAddPath(path, f.path)): _*), pv)
          }
        else {
          val adds = allAdds.filter(_.dataChange)
          val removedPaths = allRemovedPaths.collect { case (p, true) => p }
          require(adds.isEmpty || removedPaths.isEmpty,
            s"DeltaInterop readChangeFeed: commit $v rewrites data without " +
              "cdc actions (written before delta.enableChangeDataFeed?) — " +
              "its change rows cannot be synthesized")
          val removes = removedPaths.flatMap(prevLive.get)
          Seq(
            adds -> "insert",
            removes -> "delete"
          ).filter(_._1.nonEmpty).map { case (files, kind) =>
            frameOver(spark, path, snap, files)
              .withColumn(ChangeTypeCol, lit(kind))
              .select(outCols.map(col): _*)
          }
        }
      changes.map(_
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", timestamp_millis(lit(ts))))
    }
    if (frames.isEmpty) {
      val empty = StructType(schema.fields ++ Seq(
        StructField(ChangeTypeCol, org.apache.spark.sql.types.StringType),
        StructField("_commit_version", org.apache.spark.sql.types.LongType,
          nullable = false),
        StructField("_commit_timestamp", org.apache.spark.sql.types.TimestampType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], empty)
    } else frames.reduce(_ unionByName _)
  }

  /** RESTORE TABLE TO VERSION AS OF: one commit whose live file set
    * (and metaData) becomes exactly `version`'s — current-only files
    * are removed, target-only files re-added (their parquet must still
    * exist; restoring past a vacuum horizon fails on read, Delta's own
    * caveat). History is preserved: restore is itself a commit, prior
    * versions stay readable. With CDF on, the diff lands as CDC
    * (re-added rows `insert`, dropped rows `delete`).
    */
  /** SHALLOW CLONE: a new Delta table at `dst` whose commit 0 references
    * the SOURCE's current data files by absolute URI — zero data copied,
    * metadata-only, exactly delta-spark's `CLONE` semantics. The clone
    * then lives its own life: writes/DML land clone-local files, removes
    * only drop references (the donor is never touched — its files sit
    * outside the clone's root, so the clone's VACUUM tree-walk cannot
    * reach them), and time travel restarts at v0. Schema, partition
    * columns, table properties (CHECK constraints included) and add
    * stats carry over verbatim; the table id is NEW (two histories must
    * not share an identity). DV-bearing sources refuse loudly — a clone
    * would need absolute-path DV descriptors this writer does not emit.
    *
    * The 100 TB use: fork a production table for an experiment in O(file
    * count) metadata, not O(bytes).
    */
  def shallowClone(spark: SparkSession, src: String, dst: String): Long = {
    val srcFs = fsFor(spark, src)
    val fs = fsFor(spark, dst)
    require(!fs.exists(new Path(s"$dst/$LogDir")),
      s"DeltaInterop shallowClone: $dst is already a Delta table")
    val snap = snapshot(spark, src)
    require(snap.adds.forall(_.deletionVector.isEmpty),
      "DeltaInterop shallowClone: source carries deletion vectors — " +
        "OPTIMIZE the source first (clone would need absolute-path DVs)")
    val adds = snap.adds.map { a =>
      val abs = srcFs.makeQualified(new Path(resolveAddPath(src, a.path)))
      a.copy(path = abs.toUri.toString, dataChange = true)
    }
    val meta = snap.metaData.copy(id = java.util.UUID.randomUUID().toString)
    publish(fs, dst, 0L,
      Seq(protocolJson(snap.protocol), metaJson(meta)) ++ adds.map(addJson),
      "CLONE", Map("source" -> src, "sourceVersion" -> snap.version.toString))
    maybeCheckpoint(spark, dst, 0L)
    0L
  }

  /** Driver-checked shallow-clone round trip: orders land as a
    * partitioned Delta table, the clone forks it metadata-only, an
    * UPDATE mutates ONLY the clone (rewriting touched donor references
    * into clone-local files), and one frame reads both tables' aggregates
    * — the donor's must be untouched by the clone's DML.
    */
  def deltaCloneRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-delta-clone")
    val srcPath = s"$work/src"
    val dstPath = s"$work/clone"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    write(orders, srcPath, partitionBy = Seq("o_orderstatus"))
    shallowClone(spark, srcPath, dstPath)
    update(spark, dstPath, col("o_orderkey") % 10 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0))))
    val cloneAgg = read(spark, dstPath).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_clone"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_clone"))
    val srcAgg = read(spark, srcPath).groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
        .as("sum_src"))
    cloneAgg.join(srcAgg, "o_orderstatus").orderBy(col("o_orderstatus"))
  }

  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val fs = fsFor(spark, path)
    val snap = snapshot(spark, path)
    require(version <= snap.version,
      s"restore: version $version is beyond latest ${snap.version}")
    if (version == snap.version) return snap.version
    val target = snapshot(spark, path, Some(version))
    requireUnmapped(snap, "restore")
    def key(a: AddFile) = (a.path, a.deletionVector.map(_.pathOrInlineDv))
    val curKeys = snap.adds.map(key).toSet
    val tgtKeys = target.adds.map(key).toSet
    val toAdd = target.adds.filterNot(a => curKeys.contains(key(a)))
    val toRemove = snap.adds.filterNot(a => tgtKeys.contains(key(a)))
    // CDC spans BOTH schemas (dropped rows read with the current one,
    // resurrected rows with the target's) — when the restore crosses a
    // schema change, no single-schema CDC file can describe the diff
    // and the commit stays cdc-less (same escape hatch as overwrite;
    // readChangeFeed refuses it loudly instead of fabricating)
    val schemasAgree = snap.schema.map(f => (f.name, f.dataType)) ==
      target.schema.map(f => (f.name, f.dataType))
    val cdc =
      if ((toAdd.isEmpty && toRemove.isEmpty) || !schemasAgree) Nil
      else cdcIfEnabled(snap, path, target.metaData.partitionColumns) {
        val ins =
          if (toAdd.isEmpty) None
          else Some(frameOver(spark, path, target, toAdd)
            .withColumn(ChangeTypeCol, lit("insert")))
        val del =
          if (toRemove.isEmpty) None
          else Some(frameOver(spark, path, snap, toRemove)
            .withColumn(ChangeTypeCol, lit("delete")))
        (ins.toSeq ++ del.toSeq).reduce(_ unionByName _)
      }
    // the feed on and no change row: every moved file's rows are all
    // soft-deleted, so the restore only rearranges files (and still
    // reverts the metaData)
    val dataChange = !(schemasAgree && unchanged(snap, cdc))
    val now = System.currentTimeMillis()
    val removes = toRemove.map(a =>
      RemoveFile(a.path, Some(now), dataChange, a.deletionVector))
    val newVersion = snap.version + 1
    publish(fs, path, newVersion,
      Seq(metaJson(target.metaData)) ++ removes.map(removeJson) ++
        toAdd.map(a => addJson(a.copy(dataChange = dataChange))) ++ cdc,
      "RESTORE", Map("version" -> version.toString))
    maybeCheckpoint(spark, path, newVersion)
    newVersion
  }

  /** The protocol's `commitInfo` action — optional per PROTOCOL.md but
    * emitted by every real writer, and what DESCRIBE HISTORY reads.
    * Always FIRST in the commit file (the conventional position).
    */
  private def commitInfoJson(operation: String,
      params: Map[String, String]): JObject =
    JObject("commitInfo" -> JObject(
      "timestamp" -> JLong(System.currentTimeMillis()),
      "operation" -> JString(operation),
      "operationParameters" -> JObject(
        params.toList.map { case (k, v) => k -> (JString(v): JValue) }),
      "engineInfo" -> JString("graft/0.1.0 Apache-Spark/4.1.2"),
      "txnId" -> JString(java.util.UUID.randomUUID().toString)))

  /** DESCRIBE HISTORY: one row per retained JSON commit — version,
    * commit timestamp, operation, operationParameters, engineInfo —
    * from the `commitInfo` actions ([[commitInfoJson]]); foreign
    * commits without one yield nulls (the protocol makes commitInfo
    * optional). Driver-side work is log-retention-bounded, exactly
    * like delta-spark's own history call.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val dir = new Path(s"$path/$LogDir")
    require(fs.exists(dir), s"not a Delta table (no $LogDir): $path")
    val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong
    }.sorted
    val rows = versions.map { v =>
      val ci = commitActions(fs, path, v)
        .map(_ \ "commitInfo").find(_ != JNothing)
      Row(v,
        ci.flatMap(c => (c \ "timestamp").extractOpt[Long])
          .map(new java.sql.Timestamp(_)).orNull,
        ci.flatMap(c => (c \ "operation").extractOpt[String]).orNull,
        ci.map(c => (c \ "operationParameters")
            .extractOrElse[Map[String, String]](Map.empty)).orNull,
        ci.flatMap(c => (c \ "engineInfo").extractOpt[String]).orNull)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("timestamp", TimestampType),
      StructField("operation", StringType),
      StructField("operationParameters", MapType(StringType, StringType)),
      StructField("engineInfo", StringType))))
  }

  /** Publish `actions0` as commit `version`, `commitInfo` first; a
    * concurrent writer that won the version surfaces as
    * ConcurrentModificationException, never a clobbered log.
    */
  private def publish(fs: FileSystem, path: String, version: Long,
      actions0: Seq[JObject], operation: String,
      operationParameters: Map[String, String] = Map.empty): Unit = {
    val actions = commitInfoJson(operation, operationParameters) +: actions0
    CommitKernel.publish(fs, commitFile(path, version),
      actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Delta `add.path` is an RFC 2396 percent-encoded RELATIVE path —
    * '=' and '/' stay literal (hive dirs read as `cat=a/part-...`),
    * spaces and non-ASCII escape. java.net.URI's path encoder IS that
    * ruleset (it's what delta-spark's Path.toUri round trip produces).
    */
  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath
  private def decodePath(p: String): String =
    new java.net.URI(p).getPath

  /** An `add.path` resolved against the table root. PROTOCOL.md allows
    * the path to be RELATIVE to the root (the writer's own files) or an
    * ABSOLUTE URI — the shape `CONVERT`-style metadata-only adoption
    * produces, where the log references donor files that live outside
    * the table tree (delta-spark writes exactly this for converted
    * tables). [[vacuum]] is safe by construction for absolute adds: it
    * only walks the table tree, so donor files can never be reclaimed
    * by this table's retention.
    */
  private[sinks] def resolveAddPath(tableRoot: String, p: String): String =
    if (p.matches("[A-Za-z][A-Za-z0-9+.-]*://.*")) {
      // full absolute URI: keep scheme AND authority — stripping to
      // getPath would turn s3://bucket/key into /key and read the wrong
      // filesystem. Local empty-authority forms (file:///x) collapse to
      // the bare path.
      try {
        val u = java.net.URI.create(p)
        Option(u.getAuthority).filter(_.nonEmpty)
          .fold(u.getPath)(a => s"${u.getScheme}://$a${u.getPath}")
      } catch { case _: IllegalArgumentException => p }
    } else {
      val d = decodePath(p)
      if (d.startsWith("/")) d else s"$tableRoot/$d"
    }

  // ---- checkpoints ----

  private val CheckpointSchema = StructType(Seq(
    StructField("txn", StructType(Seq(
      StructField("appId", StringType), StructField("version", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType,
        valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType)))))))

  /** Every [[CheckpointEvery]] commits: one parquet file holding the
    * full replay state (protocol, metaData, live adds, txns) + the
    * `_last_checkpoint` pointer, so replay cost stays bounded as the
    * table ages — the protocol's own compaction mechanism, and real
    * Delta readers resume from it exactly as ours does.
    */
  private def maybeCheckpoint(spark: SparkSession, path: String, version: Long): Unit = {
    if (version == 0 || version % CheckpointEvery != 0) return
    val snap = snapshot(spark, path, Some(version))
    def row(txn: Row = null, add: Row = null, remove: Row = null,
        meta: Row = null, protocol: Row = null) =
      Row(txn, add, remove, meta, protocol)
    val rows =
      Seq(row(protocol = Row(snap.protocol.minReaderVersion,
          snap.protocol.minWriterVersion,
          snap.protocol.readerFeatures.orNull,
          snap.protocol.writerFeatures.orNull)),
        row(meta = Row(snap.metaData.id, Row("parquet"),
          snap.metaData.schemaString, snap.metaData.partitionColumns,
          snap.metaData.configuration))) ++
        snap.txns.toSeq.map { case (a, v) => row(txn = Row(a, v)) } ++
        snap.adds.map(a => row(add = Row(a.path,
          a.partitionValues.map { case (k, v) => k -> v.orNull },
          a.size, a.modificationTime, a.dataChange, a.stats.orNull,
          a.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
            d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull)))
    val fs = fsFor(spark, path)
    val tmp = new Path(s"$path/$LogDir/.ckpt-${java.util.UUID.randomUUID}")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), CheckpointSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("checkpoint write produced no file"))
    require(fs.rename(part, checkpointFile(path, version)), "checkpoint rename failed")
    fs.delete(tmp, true)
    CommitKernel.replace(fs, new Path(s"$path/$LogDir/_last_checkpoint"),
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JLong(version), "size" -> JLong(rows.size.toLong))))
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Default ceiling on checkpoint actions replayed onto the driver —
    * override with `graft.delta.maxCheckpointActions`. The replay state
    * is bounded by live FILE COUNT (same order as delta-spark's own
    * driver-side snapshot), not data volume, but a runaway small-files
    * table at 100× scale (millions of adds × stats JSON strings) should
    * fail loudly at a named bound, not OOM the driver.
    */
  private[sinks] val DefaultMaxCheckpointActions = 2000000L

  private def applyCheckpoint(spark: SparkSession, path: String,
      parts: Seq[Path], replay: Replay): Unit = {
    val df = spark.read.schema(CheckpointSchema)
      .parquet(parts.map(_.toString): _*)
    val bound = spark.conf.getOption("graft.delta.maxCheckpointActions")
      .map(_.toLong).getOrElse(DefaultMaxCheckpointActions)
    // toLocalIterator streams one partition at a time: the full action
    // array never materializes on the driver alongside the replay map
    var n = 0L
    df.toLocalIterator().asScala.foreach { r =>
      n += 1
      require(n <= bound,
        s"DeltaInterop: checkpoint ${parts.head} exceeds $bound " +
          "actions — compact the table (OPTIMIZE) or raise " +
          "graft.delta.maxCheckpointActions")
      Option(r.getAs[Row]("protocol")).foreach(p =>
        replay.protocol = Protocol(p.getInt(0), p.getInt(1),
          if (p.length > 2) Option(p.getSeq[String](2)) else None,
          if (p.length > 3) Option(p.getSeq[String](3)) else None))
      Option(r.getAs[Row]("metaData")).foreach(m =>
        replay.metaData = Some(MetaData(m.getString(0), m.getString(2),
          m.getSeq[String](3), Option(m.getAs[Map[String, String]](4))
            .getOrElse(Map.empty))))
      Option(r.getAs[Row]("txn")).foreach(t =>
        replay.txns(t.getString(0)) = t.getLong(1))
      Option(r.getAs[Row]("add")).foreach { a =>
        val pv = Option(a.getAs[Map[String, String]](1)).getOrElse(Map.empty)
          .map { case (k, v) => k -> Option(v) }
        val dv = (if (a.length > 6) Option(a.getAs[Row](6)) else None).map(d =>
          DvDescriptor(d.getString(0), d.getString(1),
            Option(d.getAs[Integer](2)).map(_.intValue), d.getInt(3), d.getLong(4)))
        val add = AddFile(a.getString(0), pv,
          a.getLong(2), a.getLong(3), a.getBoolean(4),
          if (a.length > 5) Option(a.getString(5)) else None, dv)
        replay.adds(replay.keyOf(add)) = add
      }
    }
  }

  // ---- streaming (the reference's S3ToDeltaStreamJob shape) ----

  /** `foreachBatch` body for a streaming Delta sink: each micro-batch
    * is one append commit stamped with the (appId, batchId) txn action,
    * so a replayed batch after recovery is a NO-OP — the protocol's
    * exactly-once contract (txn action), the same one
    * [[VersionedTable.streamWriter]] implements natively.
    *
    * No separate emptiness action: the batch is staged first and its
    * zero-row files dropped by their footer counts, so an empty batch
    * stages nothing and commits nothing. The staging write is the only
    * action reading the batch (plus one probe per CHECK constraint, on
    * tables that carry any), so it is not persisted.
    */
  def streamBatchWriter(path: String, partitionBy: Seq[String] = Nil,
      appId: String): (DataFrame, Long) => Unit = { (batch, batchId) =>
    commitStaged(batch, path, partitionBy, overwrite = false,
      txn = Some((appId, batchId)))
    ()
  }

  /** Driver-checked round trip through the WIRE FORMAT: orders land as
    * a partitioned Delta table (commit 0), a derived doubled-price
    * slice appends (commit 1), and the result reads BOTH versions back
    * through the log — latest per-status totals joined with the
    * version-0 row counts, so append isolation, time travel, partition
    * reconstruction, and the decimal-exact sums are all under the
    * DuckDB hash gate (the oracle replays the same algebra over the
    * raw orders parquet; the Delta layout must be invisible to
    * results).
    */
  def deltaRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-rt") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    write(orders, out, partitionBy = Seq("o_orderstatus"))
    write(orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      out, partitionBy = Seq("o_orderstatus"))
    val latest = read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
    val v0 = read(spark, out, versionAsOf = Some(0L)).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows_v0"))
    latest.join(v0, "o_orderstatus").orderBy(col("o_orderstatus"))
  }

  /** Driver-checked predicate delete: orders land partitioned by
    * status (v0), DELETE WHERE status='F' OR totalprice>400000 (v1 —
    * the 'F' partition drops whole, the price conjunct rewrites only
    * stats-overlapping files in the surviving partitions), then the
    * result reads BOTH versions back. Statuses deleted whole survive
    * as zero rows via the v0 left join, pinning "partition removed"
    * separately from "rows filtered".
    */
  def deltaDeleteRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-del") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(orders, out, partitionBy = Seq("o_orderstatus"))
    delete(spark, out,
      col("o_orderstatus") === "F" || col("o_totalprice") > 400000.0)
    val latest = read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
    val v0 = read(spark, out, versionAsOf = Some(0L)).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows_v0"))
    v0.join(latest, Seq("o_orderstatus"), "left")
      .select(col("o_orderstatus"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("sum_price"), lit(0.0)).as("sum_price"),
        col("n_rows_v0"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked MERGE INTO on the wire format: ONE statement
    * against the Delta-partitioned orders table updates every 100th
    * key (+100000 price), deletes every (100k+50)th, and inserts a
    * negated copy of every (100k+25)th — the same deterministic merge
    * the graft-table `q_merge` runs, now through the protocol's
    * remove/add commit. The oracle reconstructs the end state
    * relationally.
    */
  def deltaMergeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-merge") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    write(orders, out, partitionBy = Seq("o_orderstatus"))
    val src = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("op", lit("U"))
      .unionByName(orders.filter(col("o_orderkey") % 100 === 50)
        .withColumn("op", lit("D")))
      .unionByName(orders.filter(col("o_orderkey") % 100 === 25)
        .withColumn("o_orderkey", -col("o_orderkey")).withColumn("op", lit("I")))
    merge(spark, out, src, on = Seq("o_orderkey"), clauses = Seq(
      VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
      VersionedTable.MatchedUpdate(
        Map("o_totalprice" -> (col("s.o_totalprice") + lit(100000.0))),
        Some(col("s.op") === "U")),
      VersionedTable.NotMatchedInsert(cond = Some(col("s.op") === "I"))))
    read(spark, out)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Driver-checked DESCRIBE HISTORY: a deterministic commit sequence
    * (write, append, delete, update) must surface as exactly those
    * `commitInfo.operation` rows in version order — the audit-trail
    * surface every real Delta writer exposes. Timestamps/txnIds are
    * non-deterministic and excluded.
    */
  def deltaHistoryRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-history") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(orders, out, partitionBy = Seq("o_orderstatus"))              // v0
    write(orders.filter(col("o_orderkey") % 10 === 0), out,
      partitionBy = Seq("o_orderstatus"))                               // v1
    delete(spark, out, col("o_orderkey") % 7 === 0)                     // v2
    update(spark, out, col("o_orderkey") % 5 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))          // v3
    history(spark, out)
      .select(col("version"), col("operation"))
      .orderBy(col("version"))
  }

  /** Driver-checked DELETION-VECTOR round trip: orders land as a Delta
    * table; two successive soft deletes (the second overlapping the
    * first, forcing the DV set-union supersede on every touched file)
    * mark rows deleted WITHOUT rewriting any parquet; the latest read
    * must see exactly the surviving rows while v0 still reads
    * everything — the merge-on-read contract under the hash gate.
    */
  def deltaDvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-dv") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(orders, out, partitionBy = Seq("o_orderstatus"))
    deleteDv(spark, out, col("o_totalprice") > 400000.0)
    deleteDv(spark, out,
      col("o_totalprice") > 300000.0 || col("o_orderkey") % 7 === 0)
    val latest = read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
    val v0 = read(spark, out, versionAsOf = Some(0L)).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows_v0"))
    v0.join(latest, Seq("o_orderstatus"), "left")
      .select(col("o_orderstatus"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        coalesce(col("sum_price"), lit(0.0)).as("sum_price"),
        col("n_rows_v0"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked maintenance round trip: orders land in three
    * disjoint appends (mod-3 slices → multi-file partitions), OPTIMIZE
    * packs them, VACUUM(0) reclaims the originals, and the read-back
    * aggregate must equal plain orders — compaction/vacuum must be
    * invisible to results. The tail contract (dataChange=false) is
    * spec-asserted; this pins row preservation under the hash gate.
    */
  def deltaMaintenanceRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-maint") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    for (m <- 0L to 2L)
      write(orders.filter(col("o_orderkey") % 3 === m), out,
        partitionBy = Seq("o_orderstatus"))
    compact(spark, out)
    vacuum(spark, out, retentionMs = 0L)
    read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked CHANGE DATA FEED round trip: orders land (v0), the
    * feed turns on (v1), the held-out slice appends (v2 — inserts
    * synthesized from the dataChange adds, no CDC files), a rewriting
    * DELETE (v3) and an UPDATE (v4) write real `_change_data` parquet +
    * `cdc` actions, and the feed over (−1, 4] aggregates per
    * `_change_type`. The oracle recomputes all four change classes from
    * the source table, so a missing, duplicated, or misclassified
    * change row anywhere in the feed fails the hash gate.
    */
  def deltaCdfRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-delta-cdf") + "/orders_delta"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(orders.filter(col("o_orderkey") % 3 =!= 0), out,
      partitionBy = Seq("o_orderstatus"))                            // v0
    setTableProperties(spark, out, Map(CdfProp -> "true"))           // v1
    write(orders.filter(col("o_orderkey") % 3 === 0), out,
      partitionBy = Seq("o_orderstatus"))                            // v2
    delete(spark, out, col("o_totalprice") > 400000.0)               // v3
    update(spark, out, col("o_orderkey") % 10 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0))))    // v4
    readChangeFeed(spark, out, fromVersion = -1L, toVersion = 4L)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("_change_type"))
  }

  val ops: Seq[graft.Op] = Seq(
    graft.Op("q_delta_cdf", deltaCdfRoundTrip,
      Some("""
        WITH survivors AS (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE NOT (o_totalprice > 400000.0)),
        changes AS (
          SELECT 'insert' AS _change_type, o_totalprice FROM orders
          UNION ALL
          SELECT 'delete', o_totalprice FROM orders
          WHERE o_totalprice > 400000.0
          UNION ALL
          SELECT 'update_preimage', o_totalprice FROM survivors
          WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT 'update_postimage', o_totalprice + 1000.0 FROM survivors
          WHERE o_orderkey % 10 = 0)
        SELECT _change_type, count(*) AS n_rows,
               cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM changes GROUP BY _change_type ORDER BY _change_type""")),
    graft.Op("q_delta_maintenance", deltaMaintenanceRoundTrip,
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),
    graft.Op("q_delta_clone", deltaCloneRoundTrip,
      Some("""
        WITH cl AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                      ELSE o_totalprice END AS p
          FROM orders)
        SELECT c.o_orderstatus, c.n_clone, c.sum_clone, s.sum_src
        FROM (SELECT o_orderstatus, count(*) AS n_clone,
                cast(sum(cast(p AS DECIMAL(38,6))) AS DOUBLE) AS sum_clone
              FROM cl GROUP BY o_orderstatus) c
        JOIN (SELECT o_orderstatus,
                cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_src
              FROM orders GROUP BY o_orderstatus) s USING (o_orderstatus)
        ORDER BY o_orderstatus""")),
    graft.Op("q_delta_history", deltaHistoryRoundTrip,
      Some("""
        SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), 'WRITE'),
          (CAST(1 AS BIGINT), 'WRITE'),
          (CAST(2 AS BIGINT), 'DELETE'),
          (CAST(3 AS BIGINT), 'UPDATE')) AS t(version, operation)
        ORDER BY version""")),
    graft.Op("q_delta_merge", deltaMergeRoundTrip,
      Some("""
        SELECT * FROM (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 100000
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 100 <> 50
          UNION ALL
          SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 100 = 25)
        ORDER BY o_orderkey""")),
    graft.Op("q_delta_delete", deltaDeleteRoundTrip,
      Some("""
        WITH survivors AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE NOT (o_orderstatus = 'F' OR o_totalprice > 400000.0)),
        latest AS (
          SELECT o_orderstatus, count(*) AS n_live,
                 cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
          FROM survivors GROUP BY o_orderstatus),
        v0 AS (
          SELECT o_orderstatus, count(*) AS n_rows_v0
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, coalesce(n_live, 0) AS n_live,
               coalesce(sum_price, 0.0) AS sum_price, n_rows_v0
        FROM v0 LEFT JOIN latest USING (o_orderstatus)
        ORDER BY o_orderstatus""")),
    graft.Op("q_delta_dv", deltaDvRoundTrip,
      Some("""
        WITH survivors AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE NOT (o_totalprice > 300000.0 OR o_orderkey % 7 = 0)),
        latest AS (
          SELECT o_orderstatus, count(*) AS n_live,
                 cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
          FROM survivors GROUP BY o_orderstatus),
        v0 AS (
          SELECT o_orderstatus, count(*) AS n_rows_v0
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, coalesce(n_live, 0) AS n_live,
               coalesce(sum_price, 0.0) AS sum_price, n_rows_v0
        FROM v0 LEFT JOIN latest USING (o_orderstatus)
        ORDER BY o_orderstatus""")),
    graft.Op("q_delta_roundtrip", deltaRoundTrip,
      Some("""
        WITH appended AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderstatus, o_totalprice * 2 AS o_totalprice
          FROM orders WHERE o_orderkey % 10 = 0),
        latest AS (
          SELECT o_orderstatus, count(*) AS n_rows,
                 cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
          FROM appended GROUP BY o_orderstatus),
        v0 AS (
          SELECT o_orderstatus, count(*) AS n_rows_v0
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, n_rows, sum_price, n_rows_v0
        FROM latest JOIN v0 USING (o_orderstatus)
        ORDER BY o_orderstatus""")))
}
