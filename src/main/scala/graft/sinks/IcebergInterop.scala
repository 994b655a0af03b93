package graft.sinks

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg v1 WIRE-FORMAT interop, from scratch against the public
  * table spec (iceberg.apache.org/spec) — no iceberg-spark runtime:
  * an Iceberg table is JSON table metadata (`metadata/vN.metadata.json`
  * + `version-hint.text`, the HadoopTables convention the reference's
  * `S3ToIcebergStreamJob.scala` uses), an avro MANIFEST LIST per
  * snapshot, avro MANIFEST files enumerating data files, and plain
  * parquet data. Avro ships with Spark, so all of it is writable here.
  *
  * What's implemented (spec-pinned): v1 metadata with schema field-ids,
  * snapshot log + parent lineage, append and overwrite commits (append
  * carries prior manifests forward in the new manifest list — the
  * spec's manifest reuse), time travel by snapshot-id, and the
  * `schema.name-mapping.default` property that lets REAL Iceberg
  * readers resolve Spark-written parquet (which has no embedded
  * field-ids) by column name — the spec's documented interop path for
  * foreign files. IDENTITY partition specs are emitted when
  * `partitionBy` is set: the spec's partition fields (field-ids
  * 1000+), a typed partition record per manifest entry, and
  * manifest-level partition pruning in [[readWhere]] (partition
  * values prune as exact min=max bounds through the same
  * [[FileStats]] evaluator as column stats). Data files KEEP the
  * identity source columns — the layout real Iceberg writers produce,
  * so readers never need metadata constants. Non-identity transforms
  * (day/bucket/truncate) stay with graft's native hidden
  * partitioning in [[PartitionTransforms]] / [[VersionedTable]].
  *
  * Scale: a commit appends one manifest + one manifest list + one
  * metadata JSON regardless of table size; reads resolve files from
  * manifests only (no listing).
  */
object IcebergInterop {

  private implicit val formats: Formats = DefaultFormats

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- schema: Spark <-> Iceberg JSON (field-ids assigned by position) ----

  private def icebergType(dt: DataType): JValue = dt match {
    case LongType => JString("long")
    case IntegerType => JString("int")
    case DoubleType => JString("double")
    case FloatType => JString("float")
    case StringType => JString("string")
    case BooleanType => JString("boolean")
    case DateType => JString("date")
    case TimestampType => JString("timestamptz")
    case TimestampNTZType => JString("timestamp")
    case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
    case BinaryType => JString("binary")
    case other => throw new IllegalArgumentException(
      s"IcebergInterop: unsupported type ${other.simpleString} (flat primitive " +
        "schemas only — nested types are out of this module's scope)")
  }

  private def sparkType(t: String): DataType = t match {
    case "long" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "string" => StringType
    case "boolean" => BooleanType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case "binary" => BinaryType
    case d if d.startsWith("decimal") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",\\s*")
      DecimalType(p.toInt, s.toInt)
    case other => throw new IllegalArgumentException(
      s"IcebergInterop: unsupported Iceberg type $other")
  }

  private def schemaJson(schema: StructType, schemaId: Int = 0): JObject = JObject(
    "type" -> JString("struct"),
    "schema-id" -> JInt(schemaId),
    // field-ids are POSITIONAL (1..n) — additive evolution only ever
    // appends fields, so existing ids stay stable and old manifests'
    // id-keyed stats remain valid
    "fields" -> JArray(schema.fields.zipWithIndex.toList.map { case (f, i) =>
      JObject("id" -> JInt(i + 1), "name" -> JString(f.name),
        "required" -> JBool(!f.nullable), "type" -> icebergType(f.dataType))
    }))

  private def nameMapping(schema: StructType): String =
    JsonMethods.compact(JsonMethods.render(JArray(
      schema.fields.zipWithIndex.toList.map { case (f, i) =>
        JObject("field-id" -> JInt(i + 1),
          "names" -> JArray(List(JString(f.name))))
      })))

  private def schemaFromJson(v: JValue): StructType = StructType(
    (v \ "fields").extract[List[JValue]].map { f =>
      // v3 default values: a field with a non-null initial-default must
      // surface that value for files written before the column existed
      // — returning null instead would be silently wrong, so refuse
      (f \ "initial-default") match {
        case JNothing | JNull => ()
        case d => throw new IllegalArgumentException(
          s"IcebergInterop: column ${(f \ "name").extract[String]} carries " +
            s"a v3 initial-default ($d) this reader does not apply")
      }
      StructField((f \ "name").extract[String],
        sparkType((f \ "type").extract[String]),
        nullable = !(f \ "required").extract[Boolean])
    })

  /** The metadata's CURRENT schema: real writers append evolved schemas
    * to the `schemas` list and point `current-schema-id` at the live
    * one — reading `schemas[0]` unconditionally would resurrect the
    * original schema on any foreign table that ever evolved. Falls back
    * to the head for graft-written (single-schema) metadata.
    */
  private def currentSchemaJson(meta: JValue): JValue = {
    val schemas = (meta \ "schemas").extractOrElse[List[JValue]](Nil)
    (meta \ "current-schema-id").extractOpt[Int]
      .flatMap(id => schemas.find(s => (s \ "schema-id").extractOpt[Int].contains(id)))
      .orElse(schemas.headOption)
      // v1 writers may carry only the singular `schema` field (the
      // `schemas` list arrived with v2) — fall back before refusing
      .orElse(Some(meta \ "schema").filter(_ != JNothing))
      .getOrElse(throw new IllegalArgumentException(
        "IcebergInterop: metadata carries neither a schemas list nor a schema field"))
  }

  private def currentSchema(meta: JValue): StructType =
    schemaFromJson(currentSchemaJson(meta))

  /** field-id → column name for the current schema — how an equality
    * delete's `equality_ids` resolve to join columns.
    */
  private def fieldIdToName(meta: JValue): Map[Int, String] =
    (currentSchemaJson(meta) \ "fields").extract[List[JValue]].map { f =>
      (f \ "id").extract[Int] -> (f \ "name").extract[String]
    }.toMap

  // ---- avro manifest shapes (field-id props per the spec) ----

  /** Avro type for an identity partition field. The supported set is
    * the types whose `cast(string)` round-trips exactly (the staging
    * dir token) — timestamps/decimals/binary must go through graft's
    * native hidden partitioning instead.
    */
  private def avroPartType(dt: DataType): String = dt match {
    case IntegerType => "\"int\""
    case LongType => "\"long\""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case StringType => "\"string\""
    case BooleanType => "\"boolean\""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(
      s"IcebergInterop: identity partitioning on ${other.simpleString} is not " +
        "supported (int/long/double/float/string/boolean/date only)")
  }

  /** The manifest-entry schema with the table's typed partition record
    * (r102). Unpartitioned tables get the empty record, exactly the
    * pre-partitioning wire shape.
    */
  private def manifestEntrySchema(partFields: Seq[StructField]): org.apache.avro.Schema = {
    val pf = partFields.zipWithIndex.map { case (f, i) =>
      require(f.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"IcebergInterop: partition column ${f.name} is not an avro-safe name")
      s"""{"name":"${f.name}","type":["null",${avroPartType(f.dataType)}],""" +
        s""""default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    new org.apache.avro.Schema.Parser().parse(
      ManifestEntryTemplate.replace("\"__PART_FIELDS__\"", pf))
  }

  private val ManifestEntryTemplate =
    """{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":["__PART_FIELDS__"]}},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"block_size_in_bytes","type":"long","field-id":105},
        {"name":"value_counts","field-id":109,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k119_v120","fields":[
            {"name":"key","type":"int","field-id":119},
            {"name":"value","type":"long","field-id":120}]}}]},
        {"name":"null_value_counts","field-id":110,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[
            {"name":"key","type":"int","field-id":121},
            {"name":"value","type":"long","field-id":122}]}}]},
        {"name":"lower_bounds","field-id":125,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
            {"name":"key","type":"int","field-id":126},
            {"name":"value","type":"bytes","field-id":127}]}}]},
        {"name":"upper_bounds","field-id":128,"default":null,"type":["null",
          {"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
            {"name":"key","type":"int","field-id":129},
            {"name":"value","type":"bytes","field-id":130}]}}]}
      ]}}
    ]}""".replace("\n", "")

  // ---- the spec's single-value serialization (Appendix D) for bounds ----

  private def boundBytes(v: Any, dt: DataType): Option[java.nio.ByteBuffer] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType => Some(le(4).putInt(v.asInstanceOf[Int]).flip())
      case LongType => Some(le(8).putLong(v.asInstanceOf[Long]).flip())
      case FloatType => Some(le(4).putFloat(v.asInstanceOf[Float]).flip())
      case DoubleType => Some(le(8).putDouble(v.asInstanceOf[Double]).flip())
      case DateType => Some(le(4).putInt(v.asInstanceOf[Int]).flip())
      case TimestampType | TimestampNTZType =>
        Some(le(8).putLong(v.asInstanceOf[Long]).flip())
      case StringType =>
        Some(java.nio.ByteBuffer.wrap(v.toString.getBytes(StandardCharsets.UTF_8)))
      case _ => None // decimal/binary bounds out of scope — never pruned on
    }
  }

  private def boundValue(b: java.nio.ByteBuffer, dt: DataType): Option[Any] = {
    import java.nio.ByteOrder
    val buf = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if buf.remaining() == 4 => Some(buf.getInt)
      case LongType | TimestampType | TimestampNTZType if buf.remaining() == 8 =>
        Some(buf.getLong)
      case FloatType if buf.remaining() == 4 => Some(buf.getFloat)
      case DoubleType if buf.remaining() == 8 => Some(buf.getDouble)
      case StringType =>
        val arr = new Array[Byte](buf.remaining()); buf.get(arr)
        Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(arr))
      case _ => None
    }
  }

  private val ManifestFileSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":["null","int"],"default":null,"field-id":517},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":515},
      {"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503},
      {"name":"added_data_files_count","type":["null","int"],"default":null,"field-id":504},
      {"name":"existing_data_files_count","type":["null","int"],"default":null,"field-id":505},
      {"name":"deleted_data_files_count","type":["null","int"],"default":null,"field-id":506}
    ]}""".replace("\n", ""))

  /** A data file a snapshot adds; `stat` is its footer stats when the
    * file was staged by this writer or adopted by [[commitExternal]].
    */
  private[sinks] final case class DataFileRef(path: String, records: Long, bytes: Long,
      partValues: Seq[Option[String]] = Nil, stat: Option[FileStats.FileStat] = None)

  /** Manifest-list record with the v2 fields stamped. `addedSnapshotId`
    * is boxed because carried foreign records may hold null.
    */
  private def listRecord(path: String, len: Long, specId: Int, content: Int, seq: Long,
      addedSnapshotId: java.lang.Long): GenericRecord = {
    val r = new GenericData.Record(ManifestFileSchema)
    r.put("manifest_path", path)
    r.put("manifest_length", len)
    r.put("partition_spec_id", specId)
    r.put("content", content)
    r.put("sequence_number", seq)
    r.put("added_snapshot_id", addedSnapshotId)
    r
  }

  /** A base record carried into a new manifest list as it was: its own
    * spec id, content kind, sequence number and adding snapshot.
    */
  private def carry(r: GenericRecord): GenericRecord =
    listRecord(r.get("manifest_path").toString, r.get("manifest_length").asInstanceOf[Long],
      r.get("partition_spec_id").asInstanceOf[Int], listContentOf(r), listSeqOf(r),
      r.get("added_snapshot_id").asInstanceOf[java.lang.Long])

  /** content of a manifest-list record: null/absent (v1) reads as 0 = data. */
  private def listContentOf(r: GenericRecord): Int =
    r.getSchema.getField("content") match {
      case null => 0
      case _ => Option(r.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
    }

  /** sequence number of a manifest-list record: null/absent (v1) is 0. */
  private def listSeqOf(r: GenericRecord): Long =
    r.getSchema.getField("sequence_number") match {
      case null => 0L
      case _ => Option(r.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L)
    }

  /** Data sequence of a manifest ENTRY: the spec's inheritance rule —
    * an explicit entry-level `sequence_number` (or, for v2 rewritten
    * manifests, `file_sequence_number`) wins; null/absent inherits the
    * manifest-list record's sequence. Ignoring the entry level would
    * inflate EXISTING entries carried into a compacted manifest to the
    * NEW manifest's sequence and silently skip the position deletes
    * that legitimately target them.
    */
  private def entrySeqOf(e: GenericRecord, inherited: Long): Long = {
    def field(name: String): Option[Long] =
      e.getSchema.getField(name) match {
        case null => None
        case _ => Option(e.get(name)).map(_.asInstanceOf[Long])
      }
    field("sequence_number").orElse(field("file_sequence_number"))
      .getOrElse(inherited)
  }

  /** Manifest-entry schema for POSITION-DELETE manifests (v2 content=1):
    * the data_file record carries the spec's delete-file shape —
    * content=1 and the (file_path, pos) parquet the entry points at.
    */
  private val DeleteManifestEntrySchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
         "default":null,"field-id":135}
      ]}}
    ]}""".replace("\n", ""))

  /** Table-relative stage root shared by every staging write
    * ([[CommitKernel.stage]] adds a per-writer UUID dir under it).
    */
  private val StageDir = "metadata/stage"

  /** Stage `df`'s parquet files into `data/` under commit-unique names,
    * each carrying its footer stats. Partitioned tables stage under a
    * SINGLE synthetic `__pdir` token (url-encoded values joined by
    * ','): only __pdir is dropped from the data files, so identity
    * source columns stay physically present — the layout the spec
    * expects from real writers.
    */
  private def stageDataFiles(df: DataFrame, path: String,
      partitionBy: Seq[String], shape: Boolean = true,
      label: String = "iceberg: stage data files"): Seq[DataFileRef] = {
    val tokened =
      if (partitionBy.isEmpty) df
      else {
        val token = concat(lit("v"), concat_ws(",", partitionBy.map(c =>
          coalesce(url_encode(col(c).cast("string")), lit(NullToken))): _*))
        // one writer task per partition dir (same shape + tasksPerPartition
        // salt knob as the Delta/graft-table writers): scattered upstream
        // tasks would otherwise write N_tasks × N_dirs sliver files, and
        // every later manifest walk/scan pays for them. OPTIMIZE passes
        // shape=false — its frames arrive pre-shaped (byte-targeted bins)
        // and a reshape would undo the binning.
        val t = df.withColumn("__pdir", token)
        if (shape) VersionedTable.byPartitions(t, Seq("__pdir")) else t
      }
    def values(pv: Map[String, Option[String]]): Seq[Option[String]] =
      pv.get("__pdir").flatten.map(decodeToken(_, partitionBy.size)).getOrElse(Nil)
    CommitKernel.stage(tokened, path, StageDir, label,
        if (partitionBy.isEmpty) Nil else Seq("__pdir")) { src =>
      // cosmetic hive-ish dir per partition tuple (readers use manifests)
      val subdir = partitionBy.zip(values(src.partitionValues)).map { case (c, v) =>
        s"/$c=${v.map(java.net.URLEncoder.encode(_, "UTF-8")).getOrElse("null")}"
      }.mkString
      f"data$subdir/00000-${src.index}%05d-${java.util.UUID.randomUUID()}.parquet"
    }.map(s => DataFileRef(s"$path/${s.path}", s.rows, s.bytes,
      values(s.partitionValues), Some(s.stat)))
  }

  /** Stage one sorted delete parquet (position or equality) as
    * `data/<prefix>-<uuid>.parquet`; None when it holds no row.
    */
  private def stageDeleteFile(rows: DataFrame, path: String, prefix: String,
      label: String): Option[CommitKernel.Staged] =
    CommitKernel.stage(rows, path, StageDir, label)(
      _ => s"data/$prefix-${java.util.UUID.randomUUID()}.parquet").headOption

  // ---- identity partitioning plumbing ----

  /** Null marker inside the staging-dir token: `~` cannot appear in
    * url-encoded output (URLEncoder percent-escapes it), so it is
    * collision-free.
    */
  private val NullToken = "~"

  /** Staging token → decoded per-column raw string values (None = null).
    * Inverse of the `__pdir` expression built in [[write]].
    */
  private def decodeToken(token: String, n: Int): Seq[Option[String]] = {
    val parts = token.stripPrefix("v").split(",", -1)
    require(parts.length == n, s"partition token arity ${parts.length} != $n: $token")
    parts.toSeq.map {
      case NullToken => None
      case v => Some(java.net.URLDecoder.decode(v, "UTF-8"))
    }
  }

  /** Raw string partition value → the avro-record value for the
    * manifest's typed partition record (dates as epoch days, per the
    * spec's date representation).
    */
  private def partAvroValue(s: String, dt: DataType): Any = dt match {
    case IntegerType => s.toInt
    case LongType => s.toLong
    case DoubleType => s.toDouble
    case FloatType => s.toFloat
    case StringType => s
    case BooleanType => s.toBoolean
    case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
    case other => throw new IllegalArgumentException(
      s"IcebergInterop: unsupported partition type ${other.simpleString}")
  }

  /** Avro partition-record value → catalyst-internal value for the
    * pruning evaluator (UTF8String for strings; date epoch-days are
    * already DateType's internal form).
    */
  private def partInternal(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 =>
      org.apache.spark.unsafe.types.UTF8String.fromString(u.toString)
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case other => other
  }

  /** The spec's partition-spec fields JSON (identity transforms,
    * field-ids from `firstFieldId`, source-id = schema field-id).
    */
  private def specFieldsJson(partFields: Seq[StructField],
      schema: StructType, firstFieldId: Int = 1000): JArray =
    JArray(partFields.zipWithIndex.toList.map { case (f, i) =>
      JObject("name" -> JString(f.name), "transform" -> JString("identity"),
        "source-id" -> JInt(schema.fieldIndex(f.name) + 1),
        "field-id" -> JInt(firstFieldId + i))
    })

  /** Partition-spec LINEAGE (the schema-lineage rule applied to specs —
    * Iceberg specs are immutable): an unchanged field set reuses the
    * prior default spec verbatim; a changed one (overwrite with a new
    * partitionBy) APPENDS a fresh spec-id with globally unique partition
    * field-ids and bumps default-spec-id — older snapshots' manifests
    * keep declaring their original spec-id, which still resolves to the
    * field set they were written under. Returns
    * (specs list, default-spec-id, current fields JSON, last-partition-id).
    */
  private def specLineage(meta: JValue, partFields: Seq[StructField],
      schema: StructType): (List[JValue], Int, JArray, Int) = {
    val prevSpecs = (meta \ "partition-specs").extractOrElse[List[JValue]](Nil)
    val prevDefault = (meta \ "default-spec-id").extractOrElse[Int](0)
    val prevLastId = (meta \ "last-partition-id").extractOrElse[Int](999)
    // match on (name, transform) — NOT field/source ids: a foreign
    // writer's ids are arbitrary, and an unchanged foreign default spec
    // must be reused verbatim (ids intact), never re-minted
    val newSig = partFields.map(f => (f.name, "identity"))
    def sigOf(spec: JValue) = (spec \ "fields")
      .extractOrElse[List[JValue]](Nil).map(f =>
        ((f \ "name").extractOrElse[String](""),
          (f \ "transform").extractOrElse[String]("")))
    prevSpecs.find(s => (s \ "spec-id").extractOrElse[Int](-1) == prevDefault) match {
      case None =>
        val j = specFieldsJson(partFields, schema)
        (List(JObject("spec-id" -> JInt(0), "fields" -> j)), 0, j,
          999 + partFields.size)
      case Some(cur) if sigOf(cur) == newSig =>
        val fieldsJ = JArray((cur \ "fields").extractOrElse[List[JValue]](Nil))
        (prevSpecs, prevDefault, fieldsJ, prevLastId)
      case Some(_) =>
        val newId = prevSpecs.flatMap(s => (s \ "spec-id").extractOpt[Int])
          .foldLeft(-1)(_ max _) + 1
        val j = specFieldsJson(partFields, schema, firstFieldId = prevLastId + 1)
        (prevSpecs :+ (JObject("spec-id" -> JInt(newId), "fields" -> j): JValue),
          newId, j, prevLastId + partFields.size)
    }
  }

  /** The schema and spec a commit stamps, and the metadata fields it
    * sets: `fields` is empty unless `schema` or `partFields` differ
    * from the document's current ones. `specs` is the spec list after
    * the commit.
    */
  private final case class Lineage(schemaId: Int, schema: JValue, specId: Int,
      specFields: JArray, specs: List[JValue], fields: List[JField]) {
    private def idOf(spec: JValue): Int = (spec \ "spec-id").extractOrElse[Int](-1)
    private val listed = specs.find(s => (s \ "fields").extractOrElse[List[JValue]](Nil).isEmpty)

    /** The unpartitioned spec equality deletes are committed under: under
      * it a delete file is global, so it applies to a key in every
      * partition. The listed one, else the next free spec id.
      */
    val globalSpecId: Int = listed.map(idOf).getOrElse(specs.map(idOf).foldLeft(-1)(_ max _) + 1)

    /** `fields`, plus the unpartitioned spec when a manifest of the
      * commit declares it and the list does not have it yet.
      */
    def fieldsWith(global: Boolean): List[JField] =
      if (!global || listed.nonEmpty) fields
      else fields.filterNot(_._1 == "partition-specs") :+ ("partition-specs" -> JArray(specs :+
        JObject("spec-id" -> JInt(globalSpecId), "fields" -> JArray(Nil))))
  }

  /** Schema lineage: an unchanged schema keeps the prior `schemas` list
    * verbatim; a changed one (additive evolution, or overwrite's schema
    * replace) APPENDS under a fresh schema-id and points
    * current-schema-id at it — old snapshots keep their resolvable
    * history, the way real writers evolve. Specs follow [[specLineage]].
    */
  private def lineage(meta: JValue, schema: StructType,
      partFields: Seq[StructField]): Lineage = {
    val schemas = (meta \ "schemas").extractOrElse[List[JValue]](Nil) match {
      case Nil => List(meta \ "schema").filter(_ != JNothing)
      case xs => xs
    }
    val sameSchema = currentSchema(meta).map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType))
    val (schemaId, schemaJ, schemaFields) =
      if (sameSchema)
        ((meta \ "current-schema-id").extractOpt[Int].getOrElse(0), currentSchemaJson(meta),
          Nil)
      else {
        val id = schemas.flatMap(s => (s \ "schema-id").extractOpt[Int])
          .foldLeft(-1)(_ max _) + 1
        val j = schemaJson(schema, id)
        (id, j, List[JField]("schema" -> j, "schemas" -> JArray(schemas :+ j),
          "current-schema-id" -> JInt(id), "last-column-id" -> JInt(
            math.max((meta \ "last-column-id").extractOrElse[Int](0), schema.size))))
      }
    val (specs, specId, specFields, lastPartId) = specLineage(meta, partFields, schema)
    val specChanged = specs != (meta \ "partition-specs").extractOrElse[List[JValue]](Nil)
    Lineage(schemaId, schemaJ, specId, specFields, specs, schemaFields ++ (
      if (!specChanged) Nil
      else List[JField]("partition-spec" -> specFields, "partition-specs" -> JArray(specs),
        "default-spec-id" -> JInt(specId), "last-partition-id" -> JInt(lastPartId))))
  }

  /** Identity partition fields of the table's default spec, resolved
    * to Spark types via source-id (ids are 1..n by construction).
    * Non-identity transform fields are skipped — they never prune
    * here, which is conservative.
    */
  private def partFieldsOf(meta: JValue, schema: StructType): Seq[StructField] = {
    val defId = (meta \ "default-spec-id").extractOrElse[Int](0)
    (meta \ "partition-specs").extractOrElse[List[JValue]](Nil)
      .find(s => (s \ "spec-id").extractOrElse[Int](-1) == defId)
      .toSeq.flatMap { s =>
        (s \ "fields").extractOrElse[List[JValue]](Nil).flatMap { f =>
          if ((f \ "transform").extractOrElse[String]("") != "identity") None
          else {
            val srcId = (f \ "source-id").extract[Int]
            schema.fields.lift(srcId - 1)
              .map(src => StructField((f \ "name").extract[String], src.dataType))
          }
        }
      }
  }

  private def writeAvro(fs: FileSystem, p: Path,
      schema: org.apache.avro.Schema, meta: Map[String, String],
      records: Seq[GenericRecord]): Long = {
    fs.mkdirs(p.getParent)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    val out = fs.create(p, true)
    w.create(schema, out)
    records.foreach(w.append)
    w.close()
    fs.getFileStatus(p).getLen
  }

  private def readAvro(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val local = java.io.File.createTempFile("graft-iceberg", ".avro")
    try {
      fs.copyToLocalFile(p, new Path(local.getAbsolutePath))
      val r = new DataFileReader[GenericRecord](local,
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    } finally { local.delete(); () }
  }

  // ---- table metadata ----

  /** Does an Iceberg table exist at `path`? The bootstrap probe for
    * streaming upsert sinks (write the first batch, merge the rest).
    */
  def tableExists(spark: SparkSession, path: String): Boolean =
    currentVersion(fsFor(spark, path), path).isDefined

  /** The hinted version, moved past any newer metadata version that
    * exists: a writer that crashed between publishing `v{n+1}` and
    * rewriting the hint must not hide `v{n+1}` from readers, nor wedge
    * every later commit on it (Iceberg's `HadoopTableOperations` rule).
    */
  private def currentVersion(fs: FileSystem, path: String): Option[Int] = {
    val hint = new Path(s"$path/metadata/version-hint.text")
    if (!fs.exists(hint)) None
    else {
      val in = fs.open(hint)
      var v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      while (fs.exists(metadataFile(path, v + 1))) v += 1
      Some(v)
    }
  }

  private def metadataFile(path: String, version: Int): Path =
    new Path(s"$path/metadata/v$version.metadata.json")

  /** Publish `meta` as `v{version}.metadata.json` (a concurrent writer
    * that won the version surfaces as ConcurrentModificationException),
    * then point the version hint at it. Returns `version`.
    */
  private def commitMetadata(fs: FileSystem, path: String, version: Int,
      meta: JValue): Int = {
    CommitKernel.publish(fs, metadataFile(path, version),
      JsonMethods.pretty(JsonMethods.render(meta)).getBytes(StandardCharsets.UTF_8))
    CommitKernel.replace(fs, new Path(s"$path/metadata/version-hint.text"),
      version.toString.getBytes(StandardCharsets.UTF_8))
    version
  }

  private def readMetadata(fs: FileSystem, path: String, version: Int): JValue = {
    val in = fs.open(metadataFile(path, version))
    try JsonMethods.parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** A loaded table: its metadata version and document. */
  private final case class Table(version: Int, meta: JValue) {
    lazy val schema: StructType = currentSchema(meta)
    lazy val partFields: Seq[StructField] = partFieldsOf(meta, schema)
    def current: Long = (meta \ "current-snapshot-id").extract[Long]
    def format: Int = (meta \ "format-version").extractOrElse[Int](1)
    def props: Map[String, String] =
      (meta \ "properties").extractOrElse[Map[String, String]](Map.empty)
  }

  /** The table at `path`, if there is one. Formats this reader does not
    * know refuse here; with `write`, so does every format this writer
    * cannot commit to ([[requireWritableFormat]]) — before any file is
    * staged.
    */
  private def load(fs: FileSystem, path: String, write: Boolean = false): Option[Table] =
    currentVersion(fs, path).map { v =>
      val t = Table(v, readMetadata(fs, path, v))
      require(t.format <= 3, s"IcebergInterop: unknown format-version ${t.format}")
      if (write) requireWritableFormat(t.meta)
      t
    }

  private def open(fs: FileSystem, path: String, write: Boolean = false): Table =
    load(fs, path, write).getOrElse(throw new IllegalArgumentException(
      s"not an Iceberg table (no metadata/version-hint.text): $path"))

  /** v3 WRITE gate shared by every commit: reads serve v3 (deletion
    * vectors included), but a commit from this writer would skip v3's
    * row-lineage assignment (first_row_id / next-row-id) and real v3
    * readers would see corrupt lineage — refuse by name.
    */
  private def requireWritableFormat(meta: JValue): Unit = {
    val pf = (meta \ "format-version").extractOrElse[Int](1)
    require(pf <= 2,
      s"IcebergInterop: format-version $pf table — reads serve v3 " +
        "(deletion vectors included); writes and maintenance would " +
        "have to assign v3 row lineage, use the owning writer")
  }

  private def snapshots(meta: JValue): List[JValue] =
    (meta \ "snapshots").extractOrElse[List[JValue]](Nil)

  private def snapshotsById(meta: JValue): Map[Long, JValue] =
    snapshots(meta).map(s => (s \ "snapshot-id").extract[Long] -> s).toMap

  private def snapshot(meta: JValue, id: Long): JValue =
    snapshotsById(meta).getOrElse(id, throw new IllegalArgumentException(
      s"snapshot $id not found in " +
        (meta \ "location").extractOrElse[String]("the table metadata")))

  /** The manifest-list records of snapshot `id`. */
  private def manifestList(fs: FileSystem, meta: JValue, id: Long): Seq[GenericRecord] =
    readAvro(fs, new Path((snapshot(meta, id) \ "manifest-list").extract[String]))

  /** The snapshot `ref` points at; None on a table with no snapshot. */
  private def head(meta: JValue, ref: String): Option[Long] =
    refsOf(meta).get(ref).map(_._1).filter(_ >= 0)

  /** What a new table's first commit edits: version 0, a document with
    * one schema, one spec and no snapshot.
    */
  private def newTable(path: String, schema: StructType,
      partFields: Seq[StructField]): Table = {
    val spec = specFieldsJson(partFields, schema)
    Table(0, JObject(
      "format-version" -> JInt(1),
      "table-uuid" -> JString(java.util.UUID.randomUUID().toString),
      "location" -> JString(path),
      "last-updated-ms" -> JLong(0L),
      "last-sequence-number" -> JLong(0L),
      "last-column-id" -> JInt(schema.size),
      "schema" -> schemaJson(schema),
      "schemas" -> JArray(List(schemaJson(schema))),
      "current-schema-id" -> JInt(0),
      "partition-spec" -> spec,
      "partition-specs" -> JArray(List(JObject("spec-id" -> JInt(0), "fields" -> spec))),
      "default-spec-id" -> JInt(0),
      "last-partition-id" -> JInt(999 + partFields.size),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      "default-sort-order-id" -> JInt(0),
      "properties" -> JObject(),
      "current-snapshot-id" -> JLong(-1L),
      "refs" -> JObject(),
      "snapshots" -> JArray(Nil),
      "snapshot-log" -> JArray(Nil)))
  }

  /** What a commit's new manifests are stamped with: the snapshot, its
    * sequence number, and the table's format, schema and spec.
    */
  private final case class Stamp(fs: FileSystem, path: String, schema: StructType,
      partFields: Seq[StructField], lineage: Lineage, fmt: Int, snapshotId: Long,
      seq: Long) {
    lazy val entrySchema: org.apache.avro.Schema = manifestEntrySchema(partFields)
  }

  /** Write one data (`content` 0) or delete (1) manifest under the
    * stamp's header and return its manifest-list record, stamped with
    * the same spec id, content kind, sequence number and snapshot.
    * `global` manifests declare the unpartitioned spec
    * ([[Lineage.globalSpecId]]) instead of the table's.
    */
  private def writeManifest(s: Stamp, content: Int, entries: Seq[GenericRecord],
      global: Boolean = false): GenericRecord = {
    val p = s"${s.path}/metadata/${java.util.UUID.randomUUID()}-" +
      (if (content == 0) "m0.avro" else "d0.avro")
    val (specId, specFields) =
      if (global) (s.lineage.globalSpecId, JArray(Nil))
      else (s.lineage.specId, s.lineage.specFields)
    val len = writeAvro(s.fs, new Path(p),
      if (content == 0) s.entrySchema else DeleteManifestEntrySchema,
      Map("schema" -> JsonMethods.compact(JsonMethods.render(s.lineage.schema)),
        "partition-spec" -> JsonMethods.compact(JsonMethods.render(specFields)),
        "partition-spec-id" -> specId.toString,
        "format-version" -> s.fmt.toString,
        "content" -> (if (content == 0) "data" else "deletes")),
      entries)
    listRecord(p, len, specId, content, s.seq, s.snapshotId)
  }

  /** The manifest of one staged equality-delete file on the `eqIds`
    * fields. It declares the unpartitioned spec: the delete carries no
    * partition tuple, and a key it names may live in any partition.
    */
  private def eqDeleteManifest(s: Stamp, del: CommitKernel.Staged, eqIds: Seq[Int]): GenericRecord =
    writeManifest(s, 1, Seq(deleteEntry(s, del, 2, eqIds)), global = true)

  /** The ADDED entry of a staged delete parquet: `kind` 1 = position
    * deletes, 2 = equality deletes on the `eqIds` fields.
    */
  private def deleteEntry(s: Stamp, del: CommitKernel.Staged, kind: Int,
      eqIds: Seq[Int] = Nil): GenericRecord = {
    val dfSchema = DeleteManifestEntrySchema.getField("data_file").schema()
    val d = new GenericData.Record(dfSchema)
    d.put("content", kind)
    d.put("file_path", s"${s.path}/${del.path}")
    d.put("file_format", "PARQUET")
    d.put("partition", new GenericData.Record(dfSchema.getField("partition").schema()))
    d.put("record_count", del.rows)
    d.put("file_size_in_bytes", del.bytes)
    if (eqIds.nonEmpty) d.put("equality_ids", eqIds.map(Integer.valueOf).asJava)
    val e = new GenericData.Record(DeleteManifestEntrySchema)
    e.put("status", 1) // ADDED
    e.put("snapshot_id", s.snapshotId)
    e.put("data_file", d)
    e
  }

  /** The spec's snapshot-summary counts of the files a commit adds, from
    * the row counts and sizes staging read off their footers: data files,
    * and delete files by kind (1 = position, 2 = equality). Zero counts
    * are left out, as the reference writer does.
    */
  private def addedSummary(data: Seq[DataFileRef],
      deletes: Seq[(Int, CommitKernel.Staged)] = Nil): Seq[(String, String)] = {
    def ofKind(kind: Int, name: String) = deletes.filter(_._1 == kind) match {
      case Nil => Nil
      case ds => Seq(s"added-$name-delete-files" -> ds.size.toLong,
        s"added-$name-deletes" -> ds.map(_._2.rows).sum)
    }
    val counts = Seq("added-data-files" -> data.size.toLong,
      "added-records" -> data.map(_.records).sum,
      "added-delete-files" -> deletes.size.toLong) ++
      ofKind(1, "position") ++ ofKind(2, "equality") :+
      ("added-files-size" -> (data.map(_.bytes).sum + deletes.map(_._2.bytes).sum))
    counts.collect { case (k, n) if n > 0 => k -> n.toString }
  }

  /** The one snapshot commit every write, delete, merge, maintenance and
    * branch op ends in. It mints the snapshot id and (format 2) the next
    * table-global sequence number, lets `manifests` write the new
    * manifests under that [[Stamp]], writes the manifest list (the new
    * records, then `carried` as they were), and publishes a snapshot
    * whose parent is `ref`'s head through [[publish]]. `schema` and
    * `partFields` differ from the table's only on the write path, where
    * they evolve its lineage. Sequences are table-global per the spec,
    * so branch commits bump the same counter as main commits; v1 tables
    * stay sequence-free. Returns the snapshot id.
    */
  private def commit(fs: FileSystem, path: String, t: Table, schema: StructType,
      partFields: Seq[StructField], operation: String, fmt: Int,
      carried: Seq[GenericRecord], summary: Seq[(String, String)] = Nil,
      props: Map[String, String] = Map.empty, ref: String = "main")(
      manifests: Stamp => Seq[GenericRecord]): Long = {
    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val seq =
      if (fmt >= 2) (t.meta \ "last-sequence-number").extractOrElse[Long](0L) + 1 else 0L
    val lin = lineage(t.meta, schema, partFields)
    val listPath = s"$path/metadata/snap-$snapshotId-1-${java.util.UUID.randomUUID()}.avro"
    val added = manifests(Stamp(fs, path, schema, partFields, lin, fmt, snapshotId, seq))
    writeAvro(fs, new Path(listPath), ManifestFileSchema, Map("format-version" -> fmt.toString),
      added ++ carried.map(carry))
    val now = System.currentTimeMillis()
    val snap = JObject(
      "snapshot-id" -> JLong(snapshotId),
      "timestamp-ms" -> JLong(now),
      "summary" -> JObject(("operation" -> JString(operation)) ::
        summary.toList.map { case (k, v) => k -> (JString(v): JValue) }),
      "manifest-list" -> JString(listPath),
      "schema-id" -> JInt(lin.schemaId)) ~~
      head(t.meta, ref).map(p => JObject("parent-snapshot-id" -> JLong(p))) ~~
      (if (fmt >= 2) Some(JObject("sequence-number" -> JLong(seq))) else None)
    val allProps = t.props ++ props + ("schema.name-mapping.default" -> nameMapping(schema))
    publish(fs, path, t, refsOf(t.meta) + (ref -> (snapshotId, "branch")), now,
      add = Some(snap), set = lin.fieldsWith(
        added.exists(_.get("partition_spec_id") == lin.globalSpecId)) ++ List[JField](
        "format-version" -> JInt(fmt),
        "properties" -> JObject(allProps.toList.map { case (k, v) => k -> (JString(v): JValue) })) ++
        (if (fmt >= 2) List[JField]("last-sequence-number" -> JLong(seq)) else Nil))
    snapshotId
  }

  /** The one metadata edit, shared by snapshot and metadata-only commits:
    * the prior document with `refs` in place (when `main` moves, so do
    * current-snapshot-id and the snapshot log — the spec keeps `main` =
    * current), `add` appended to the snapshots, `drop` removed from them
    * and from the log, and the `set` fields replaced (appended when
    * absent). Every field no commit owns (metadata-log, statistics,
    * sort orders, unknown properties) carries through verbatim.
    * Publishes the next version and returns it.
    */
  private def publish(fs: FileSystem, path: String, t: Table,
      refs: Map[String, (Long, String)], now: Long = System.currentTimeMillis(),
      add: Option[JValue] = None, drop: Set[Long] = Set.empty,
      set: List[JField] = Nil): Int = {
    def kept(field: String): List[JValue] = (t.meta \ field).extractOrElse[List[JValue]](Nil)
      .filterNot(s => drop.contains((s \ "snapshot-id").extract[Long]))
    val moved = refs.get("main").map(_._1).filterNot(head(t.meta, "main").contains)
    val edits = set ++ List[JField](
      "last-updated-ms" -> JLong(now),
      "refs" -> refsJson(refs),
      "snapshots" -> JArray(kept("snapshots") ++ add),
      "snapshot-log" -> JArray(kept("snapshot-log") ++ moved.map(id =>
        JObject("timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(id))))) ++
      moved.map(id => "current-snapshot-id" -> (JLong(id): JValue))
    val prior = t.meta.asInstanceOf[JObject].obj
    val byName = edits.toMap
    commitMetadata(fs, path, t.version + 1, JObject(
      prior.map { case (k, v) => k -> byName.getOrElse(k, v) } ++
        edits.filterNot(e => prior.exists(_._1 == e._1))))
  }

  /** Append or overwrite `df` as a new snapshot. Returns snapshot id.
    * `txn` = (appId, version) exactly-once token for streaming writers,
    * carried as a `graft.txn.<appId>` table property (the same
    * mechanism real streaming writers use via snapshot summaries):
    * replaying a batch whose version the table already recorded is a
    * no-op returning the current snapshot. A txn-stamped append that
    * stages no rows (an empty micro-batch) publishes nothing and
    * returns the current snapshot (-1 when the table does not exist
    * yet): replaying it is a no-op either way.
    */
  def write(df: DataFrame, path: String, overwrite: Boolean = false,
      txn: Option[(String, Long)] = None,
      partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false): Long = graft.JobLabel(df.sparkSession, "iceberg.write") {
    val fs = fsFor(df.sparkSession, path)
    val partFields = partitionBy.map { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"IcebergInterop: partition column $c not in schema"))
      avroPartType(f.dataType) // type gate up front
      StructField(f.name, f.dataType)
    }
    require(!df.schema.fieldNames.contains("__pdir"),
      "IcebergInterop: __pdir is reserved for the staging layout")
    val prev = load(fs, path, write = true)
    prev.foreach { t =>
      val existing = t.schema
      // mergeSchema accepts STRICTLY ADDITIVE drift: the table schema is
      // a prefix of the batch's and every new field is nullable (old
      // data files read the new columns as null). Appending at the end
      // keeps the positional field-ids of existing columns stable, so
      // old manifests' id-keyed stats stay valid — the evolution rule
      // the spec's id discipline exists for. Anything else refuses.
      val additive = mergeSchema &&
        df.schema.size > existing.size &&
        df.schema.take(existing.size).map(f => (f.name, f.dataType)) ==
          existing.map(f => (f.name, f.dataType)) &&
        df.schema.drop(existing.size).forall(_.nullable)
      require(overwrite || additive || existing.map(f => (f.name, f.dataType)) ==
          df.schema.map(f => (f.name, f.dataType)),
        s"IcebergInterop append: schema must match the table " +
          s"(table ${existing.simpleString}, batch ${df.schema.simpleString})" +
          (if (mergeSchema) " — mergeSchema accepts only nullable fields APPENDED at the end"
           else ""))
      require(overwrite || t.partFields.map(_.name) == partitionBy,
        s"IcebergInterop append: partitionBy (${partitionBy.mkString(",")}) " +
          "must match the table's partition spec " +
          s"(${t.partFields.map(_.name).mkString(",")})")
      txn.foreach { case (appId, v) =>
        if (t.props.get(s"graft.txn.$appId").exists(_.toLong >= v)) return t.current
      }
    }
    val moved = stageDataFiles(df, path, partitionBy)
    if (moved.isEmpty && txn.isDefined && !overwrite) return prev.fold(-1L)(_.current)
    commitFiles(fs, path, prev.getOrElse(newTable(path, df.schema, partFields)),
      df.schema, partFields, moved, overwrite, txnProps(txn))
  }

  private def txnProps(txn: Option[(String, Long)]): Map[String, String] =
    txn.map { case (a, v) => s"graft.txn.$a" -> v.toString }.toMap

  /** Commit materialized data files as an append (carrying `ref`'s head)
    * or an overwrite (carrying nothing) — the tail of [[write]],
    * [[writeToBranch]] and [[commitExternal]]: one manifest whose column
    * stats come from each ref's `stat`.
    */
  private def commitFiles(fs: FileSystem, path: String, t: Table, schema: StructType,
      partFields: Seq[StructField], moved: Seq[DataFileRef], overwrite: Boolean,
      props: Map[String, String] = Map.empty, ref: String = "main"): Long =
    commit(fs, path, t, schema, partFields, if (overwrite) "overwrite" else "append",
      t.format, if (overwrite) Nil
      else head(t.meta, ref).toSeq.flatMap(manifestList(fs, t.meta, _)),
      addedSummary(moved), props, ref)(s => Seq(writeManifest(s, 0, buildEntries(moved, s))))

  /** Adopt data files that already exist OUTSIDE this table's tree as
    * its first snapshot — the metadata-only half of a cross-format
    * CONVERT (Iceberg's own `snapshot`/`migrate` procedures): no data
    * is copied; one manifest + manifest list + metadata JSON reference
    * the donor files by absolute path, and record counts plus column
    * stats come from ONE footer pass over them. Fresh locations only —
    * adopting into a live table would mix lifecycle owners (the donor
    * format still owns those files; see [[FormatConvert]] for the
    * ownership contract).
    */
  private[sinks] def commitExternal(spark: SparkSession, path: String,
      schema: StructType, files: Seq[(String, Long)]): Long = {
    val fs = fsFor(spark, path)
    require(currentVersion(fs, path).isEmpty,
      s"IcebergInterop.commitExternal: $path is already an Iceberg table " +
        "(metadata-only adoption targets a fresh location)")
    require(files.nonEmpty, "IcebergInterop.commitExternal: no data files")
    val stats = FileStats.fromFooters(spark, files.map(_._1), schema)
    commitFiles(fs, path, newTable(path, schema, Nil), schema, Nil,
      files.map { case (p, bytes) =>
        val st = stats.get(p)
        DataFileRef(p, st.flatMap(_.numRecords).getOrElse(0L), bytes, stat = st)
      }, overwrite = false)
  }

  /** The current snapshot's live data files as (path, records, bytes),
    * plus the table schema — the inventory a metadata-only CONVERT
    * consumes. Identity-partitioned tables are fine: graft's writer
    * keeps identity source columns physically in the data files (the
    * real-writer layout), so the files are self-contained.
    */
  private[graft] def currentDataFiles(spark: SparkSession,
      path: String): (StructType, Seq[DataFileRef]) = {
    val fs = fsFor(spark, path)
    val t = open(fs, path)
    val list = manifestList(fs, t.meta, t.current)
    requireNoDeleteManifests(list, "convert") // adoption is verbatim
    val refs = liveEntries(fs, list).map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      DataFileRef(d.get("file_path").toString,
        d.get("record_count").asInstanceOf[Long],
        d.get("file_size_in_bytes").asInstanceOf[Long])
    }
    (t.schema, refs)
  }

  private implicit class JObjOps(private val o: JObject) {
    def ~~(other: Option[JObject]): JObject =
      other.map(x => JObject(o.obj ++ x.obj)).getOrElse(o)
  }

  /** A manifest entry's column-stats maps → the pruning evaluator's
    * shape. Field-ids resolve by position (ids are 1..n by construction
    * here and by convention for flat v1 schemas); missing or undecodable
    * bounds never prune. Identity partition values fold in as EXACT
    * min=max bounds (null → all-null), so partition pruning rides the
    * same conservative evaluator as column stats.
    */
  private def fileStatOf(d: GenericRecord, schema: StructType,
      partFields: Seq[StructField]): FileStats.FileStat = {
    def kvMap(field: String): Map[Int, Any] = d.get(field) match {
      case null => Map.empty
      case l: java.util.List[_] => l.asScala.map { r =>
        val rec = r.asInstanceOf[GenericRecord]
        rec.get("key").asInstanceOf[Int] -> rec.get("value")
      }.toMap
      case _ => Map.empty
    }
    val records = Option(d.get("record_count")).map(_.asInstanceOf[Long])
    val nulls = kvMap("null_value_counts")
    val lowers = kvMap("lower_bounds")
    val uppers = kvMap("upper_bounds")
    val cols = schema.fields.zipWithIndex.flatMap { case (f, i) =>
      val id = i + 1
      val nc = nulls.get(id).map(_.asInstanceOf[Long])
      val mn = lowers.get(id).collect { case b: java.nio.ByteBuffer => b }
        .flatMap(boundValue(_, f.dataType))
      val mx = uppers.get(id).collect { case b: java.nio.ByteBuffer => b }
        .flatMap(boundValue(_, f.dataType))
      if (nc.isEmpty && mn.isEmpty && mx.isEmpty) None
      else Some(f.name -> FileStats.ColStats(mn, mx, nc,
        allNull = nc.isDefined && nc == records))
    }.toMap
    val partCols = d.get("partition") match {
      case rec: GenericRecord => partFields.flatMap { pf =>
        if (rec.getSchema.getField(pf.name) == null) None
        else Some(rec.get(pf.name) match {
          case null =>
            pf.name -> FileStats.ColStats(None, None, records, allNull = true)
          case v =>
            val iv = partInternal(v)
            pf.name -> FileStats.ColStats(Some(iv), Some(iv), Some(0L),
              allNull = false)
        })
      }.toMap
      case _ => Map.empty[String, FileStats.ColStats]
    }
    FileStats.FileStat(records, cols ++ partCols)
  }

  /** Snapshot read through the metadata → manifest-list → manifest
    * chain (never a directory listing). `snapshotId` time-travels to
    * any snapshot still in the metadata's snapshot list.
    */
  def read(spark: SparkSession, path: String,
      snapshotId: Option[Long] = None): DataFrame =
    readWhere(spark, path, where = None, snapshotId)

  /** [[read]] with file skipping: `where` prunes the data-file list on
    * the manifests' lower/upper bounds and null counts before any scan
    * task is planned, then is re-applied to the surviving rows. The
    * manifest chain means planning never lists a directory AND never
    * opens a pruned file — the spec's scale story, implemented.
    */
  def readWhere(spark: SparkSession, path: String, where: Option[Column],
      snapshotId: Option[Long] = None): DataFrame = {
    val fs = fsFor(spark, path)
    val t = open(fs, path)
    scan(spark, fs, t, manifestList(fs, t.meta, snapshotId.getOrElse(t.current)), where)
  }

  /** [[readWhere]] over a snapshot's already-read manifest list: a merge
    * scans the list it then carries, reading it once.
    */
  private def scan(spark: SparkSession, fs: FileSystem, t: Table,
      listRecs: Seq[GenericRecord], where: Option[Column]): DataFrame = {
    val schema = t.schema
    val (delRecs, dataRecs) = listRecs.partition(r => listContentOf(r) == 1)
    val dataFilesWithSeq = dataRecs.flatMap { r =>
      val seq = listSeqOf(r)
      readAvro(fs, new Path(r.get("manifest_path").toString)).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 => // not DELETED
          (e.get("data_file").asInstanceOf[GenericRecord], entrySeqOf(e, seq))
      }
    }
    val seqByPath = dataFilesWithSeq
      .map { case (d, q) => d.get("file_path").toString -> q }.toMap
    val kept = FileStats.prune(spark, schema, where, dataFilesWithSeq.map(_._1),
      (d: GenericRecord) => fileStatOf(d, schema, t.partFields))
    val files = kept.map(_.get("file_path").toString)
    // row-level delete files from content=1 manifests: each ENTRY says
    // whether it is a POSITION delete (data_file.content=1: a
    // (file_path,pos) parquet) or an EQUALITY delete (content=2: rows
    // of the equality_ids columns, how Flink CDC writers delete).
    // Conflating them — or ignoring an unknown kind — would silently
    // resurrect deleted rows, so anything else refuses by value.
    val delEntries = delRecs.flatMap { r =>
      val seq = listSeqOf(r)
      readAvro(fs, new Path(r.get("manifest_path").toString)).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          val content = (d.getSchema.getField("content") match {
            case null => None
            case _ => Option(d.get("content")).map(_.asInstanceOf[Int])
          }).getOrElse(1)
          val eqIds: Seq[Int] = (d.getSchema.getField("equality_ids") match {
            case null => None
            case _ => Option(d.get("equality_ids"))
          }).map {
            case l: java.util.List[_] =>
              l.asScala.toSeq.map(x => x.asInstanceOf[Number].intValue)
            case a: org.apache.avro.generic.GenericData.Array[_] =>
              a.asScala.toSeq.map(x => x.asInstanceOf[Number].intValue)
          }.getOrElse(Nil)
          def optField(name: String): Option[AnyRef] =
            if (d.getSchema.getField(name) == null) None else Option(d.get(name))
          val fmt = Option(d.get("file_format")).map(_.toString.toUpperCase)
            .getOrElse("PARQUET")
          // v3 deletion vectors: a PUFFIN "file" whose manifest entry
          // points straight at the blob (referenced data file, content
          // offset, content size) — no footer parse needed
          val dv =
            if (fmt != "PUFFIN") None
            else Some((
              optField("referenced_data_file").map(_.toString),
              optField("content_offset").map(_.asInstanceOf[Number].longValue),
              optField("content_size_in_bytes").map(_.asInstanceOf[Number].longValue)))
          (d.get("file_path").toString, entrySeqOf(e, seq), content, eqIds, dv)
      }
    }
    delEntries.foreach { case (p2, _, c, _, dvOpt) =>
      require(c == 1 || c == 2,
        s"IcebergInterop: unknown delete-file content kind $c ($p2) — " +
          "refusing rather than resurrecting deleted rows")
      dvOpt.foreach { case (ref, off, len) =>
        require(c == 1, s"IcebergInterop: puffin delete $p2 with content kind $c")
        require(ref.isDefined && off.isDefined && len.isDefined,
          s"IcebergInterop: deletion vector $p2 is missing " +
            "referenced_data_file/content_offset/content_size_in_bytes — " +
            "refusing rather than scanning the puffin footer blind")
      }
    }
    val posDeletes = delEntries.collect {
      case (p2, q, 1, _, None) => (p2, q) }
    val dvDeletes = delEntries.collect {
      case (p2, q, 1, _, Some((Some(ref), Some(off), Some(len)))) =>
        (p2, q, ref, off, len) }
    val eqDeletes = delEntries.collect { case (p2, q, 2, ids, _) =>
      require(ids.nonEmpty,
        s"IcebergInterop: equality delete $p2 lists no equality_ids")
      val idMap = fieldIdToName(t.meta)
      (p2, q, ids.map(id => idMap.getOrElse(id,
        throw new IllegalArgumentException(
          s"IcebergInterop: equality delete $p2 references unknown field id $id"))))
    }
    // decode DVs on EXECUTORS (one task per vector — distributes with
    // the delete set, the same shape as Delta's DV read)
    val dvDf =
      if (dvDeletes.isEmpty) None
      else {
        import spark.implicits._
        val sconf = new SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration)
        val tasks = dvDeletes.map { case (pp, q, ref, off, len) =>
          (pp, q, ref, off, len) }
        Some(spark.createDataset(tasks)
          .repartition(math.min(tasks.size, 32))
          .flatMap { case (pp, q, ref, off, len) =>
            val fsx = new org.apache.hadoop.fs.Path(pp)
              .getFileSystem(sconf.value)
            IcebergDv.positions(fsx, pp, off, len)
              .map(pos => (ref, pos, q))
          }.toDF("__del_fp", "__del_pos", "__mseq"))
      }
    val out =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      else if (posDeletes.isEmpty && eqDeletes.isEmpty && dvDf.isEmpty)
        spark.read.schema(schema).parquet(files: _*)
      else applyRowDeletes(spark, fs, schema, files,
        files.map(f => f -> seqByPath.getOrElse(f, 0L)).toMap,
        posDeletes, eqDeletes, dvDf)
    where.map(out.filter).getOrElse(out)
  }

  /** Delete-file parquet shape per the spec (2147483546/2147483545 are
    * the reserved field-ids; column NAMES are what Spark parquet
    * resolves by).
    */
  private val DeleteFileSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Merge-on-read: anti-join the data rows against the position
    * deletes on (file path, row position), scoped by the spec's
    * sequence rule — a delete applies only to files whose data
    * sequence is <= the delete's. Row positions come from Spark's
    * `_metadata.row_index` (exact parquet row ordinals); the delete
    * set rides a broadcast (bounded: deletes are maintenance-compacted
    * away, never corpus-sized). Delete files name a data file as the
    * manifest spells it; a literal per-file map keyed by Spark's
    * spelling ([[CommitKernel.fileKey]]) gives each data row that
    * spelling and its file's data sequence, with no job. Every delete
    * file's sequence is a column read the same way, so all position
    * deletes (and DVs) take one broadcast anti-join, and all equality
    * deletes on one column set another: the jobs a scan runs do not
    * grow with the number of delete files.
    */
  private def applyRowDeletes(spark: SparkSession, fs: FileSystem, schema: StructType,
      files: Seq[String], dataSeqByPath: Map[String, Long],
      posDeletes: Seq[(String, Long)],
      eqDeletes: Seq[(String, Long, Seq[String])],
      dvDeletes: Option[DataFrame] = None): DataFrame = {
    val dataFile = element_at(typedLit(CommitKernel.byKey(fs, files)(new Path(_)).map {
      case (k, p) => k -> (p, dataSeqByPath.getOrElse(p, 0L)) }), col("_metadata.file_path"))
    val seqd = spark.read.schema(schema).parquet(files: _*)
      .withColumn("__fp", dataFile("_1"))
      .withColumn("__dseq", coalesce(dataFile("_2"), lit(0L)))
      .withColumn("__pos", col("_metadata.row_index"))
    // the rows of delete files in one read, each with its file's
    // sequence number as `__mseq`
    def deleteRows(deletes: Seq[(String, Long)], fileSchema: StructType): DataFrame =
      spark.read.schema(fileSchema).parquet(deletes.map(_._1): _*)
        .withColumn("__mseq", element_at(typedLit(CommitKernel.byKey(fs, deletes)(d =>
          new Path(d._1)).map { case (k, d) => k -> d._2 }), col("_metadata.file_path")))
    // position deletes and v3 deletion vectors share one anti-join:
    // both name (file, row ordinal, delete sequence) tuples
    val posFrames = (if (posDeletes.isEmpty) Nil
      else Seq(deleteRows(posDeletes, DeleteFileSchema).select(col("file_path").as("__del_fp"),
        col("pos").as("__del_pos"), col("__mseq")))) ++ dvDeletes.toSeq
    val afterPos =
      if (posFrames.isEmpty) seqd
      else seqd.join(broadcast(posFrames.reduce(_ unionByName _)),
        col("__fp") === col("__del_fp") && col("__pos") === col("__del_pos") &&
          col("__dseq") <= col("__mseq"),
        "left_anti")
    // equality deletes: drop data rows whose equality columns match a
    // delete row (null-safely — the spec's IS NOT DISTINCT FROM
    // semantics) and whose data sequence is STRICTLY BELOW the
    // delete's (position deletes use <=, equality deletes use < —
    // an equality delete in the same commit as an insert must not
    // kill it)
    val columnSets = eqDeletes.map(_._3.toSet).distinct
    val afterEq = columnSets.foldLeft(afterPos) { (df, set) =>
      val group = eqDeletes.filter(_._3.toSet == set)
      val cols = group.head._3
      val delRows = deleteRows(group.map(d => (d._1, d._2)), StructType(cols.map(schema(_))))
        .select(cols.map(c => col(c).as(s"__eq_$c")) :+ col("__mseq"): _*)
      val cond = cols.map(c => col(c) <=> col(s"__eq_$c")).reduce(_ && _) &&
        col("__dseq") < col("__mseq")
      df.join(broadcast(delRows), cond, "left_anti")
    }
    afterEq.select(schema.fieldNames.map(col): _*)
  }

  /** Merge-on-read DELETE for the wire format — Iceberg v2 POSITION
    * DELETES, the sibling of [[DeltaInterop.deleteDv]]: matching rows
    * are marked deleted in a sorted (file_path, pos) parquet delete
    * file + one content=1 manifest; the data parquet is never touched,
    * so cost is O(matched rows), not O(bytes of touched files). The
    * commit bumps the table's sequence number and (for a v1 table)
    * upgrades format-version to 2 — carried data manifests keep their
    * lower sequence, which is exactly what scopes the delete to files
    * that existed before it (later appends get a higher sequence and
    * are untouched, the spec's ordering rule [[applyPositionDeletes]]
    * enforces at read). Matching rows are found distributed over the
    * stats-pruned file set via `_metadata.row_index`; nothing
    * row-sized lands on the driver.
    *
    * Honest format note: the delete parquet carries the spec's column
    * NAMES (file_path, pos) but Spark does not stamp the reserved
    * parquet field-ids (2147483546/2147483545); graft's own reader and
    * name-mapping readers resolve it, strict field-id-only readers
    * would not.
    */
  def deletePositions(spark: SparkSession, path: String,
      where: Column): Long = graft.JobLabel(spark, "iceberg.deletePositions") {
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val listRecs = manifestList(fs, t.meta, t.current)
    val dataFiles = listRecs.filter(listContentOf(_) == 0).flatMap { r =>
      readAvro(fs, new Path(r.get("manifest_path").toString)).collect {
        case e if e.get("status").asInstanceOf[Int] != 2 =>
          e.get("data_file").asInstanceOf[GenericRecord]
      }
    }
    val pruned = FileStats.prune(spark, t.schema, Some(where), dataFiles,
      (d: GenericRecord) => fileStatOf(d, t.schema, t.partFields))
    if (pruned.isEmpty) return t.current // no file can match: no-op
    val files = pruned.map(_.get("file_path").toString)
    // a delete names its data file as the manifest spells it
    val manifestPath = typedLit(CommitKernel.byKey(fs, files)(new Path(_)))
    val matches = spark.read.schema(t.schema).parquet(files: _*)
      .filter(coalesce(where, lit(false)))
      .select(element_at(manifestPath, col("_metadata.file_path")).as("file_path"),
        col("_metadata.row_index").as("pos"))
    // the spec requires delete files sorted by (file_path, pos); the
    // row count comes from the staged file's own footer
    stageDeleteFile(
      matches.coalesce(1).sortWithinPartitions(col("file_path"), col("pos")),
      path, "delete", "iceberg: stage position deletes") match {
      case None => t.current
      case Some(del) =>
        commit(fs, path, t, t.schema, t.partFields, "delete", 2, listRecs,
          addedSummary(Nil, Seq(1 -> del)))(s => Seq(writeManifest(s, 1, Seq(deleteEntry(s, del, 1)))))
    }
  }

  /** EQUALITY-delete write — the CDC-keyed DELETE, and the whole point
    * of the shape: every row whose `keys` columns match a row of
    * `keys` is deleted WITHOUT READING A SINGLE DATA FILE. On a 100 TB
    * table, deleting a set of primary keys writes one small parquet of
    * key rows + one manifest and commits; the cost is O(|keys|),
    * independent of table size (position deletes still scan the
    * stats-pruned files to find row ordinals; equality deletes don't
    * even do that). Readers apply it null-safely with the spec's
    * STRICT-< sequence rule, so later re-inserts of a deleted key
    * survive — exactly the upsert-stream semantics Flink CDC relies
    * on. Like [[deletePositions]], the commit bumps the sequence and
    * upgrades v1 tables to format-version 2.
    */
  def deleteEquality(spark: SparkSession, path: String,
      keys: DataFrame): Long = graft.JobLabel(spark, "iceberg.deleteEquality") {
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val idByName = fieldIdToName(t.meta).map(_.swap)
    val eqIds = keys.schema.fields.toSeq.map { f =>
      val tf = t.schema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"IcebergInterop deleteEquality: key column ${f.name} not in table schema"))
      require(tf.dataType == f.dataType,
        s"IcebergInterop deleteEquality: key ${f.name} is ${f.dataType.simpleString}, " +
          s"table has ${tf.dataType.simpleString}")
      idByName.getOrElse(f.name, throw new IllegalStateException(
        s"no field id for ${f.name}"))
    }
    require(eqIds.nonEmpty, "IcebergInterop deleteEquality: no key columns")
    // the spec wants delete files sorted; keys dedup for cleanliness
    val del = stageDeleteFile(keys.distinct().coalesce(1)
        .sortWithinPartitions(keys.schema.fieldNames.map(col): _*),
      path, "eqdelete", "iceberg: stage equality deletes")
      .getOrElse(return t.current)
    commit(fs, path, t, t.schema, t.partFields, "delete", 2,
      manifestList(fs, t.meta, t.current), addedSummary(Nil, Seq(2 -> del)))(s =>
      Seq(eqDeleteManifest(s, del, eqIds)))
  }

  /** MERGE INTO on the Iceberg wire format — the MERGE-ON-READ shape
    * v2 engines write (Flink CDC's upsert spelling): instead of
    * rewriting matched files, ONE snapshot carries (a) an
    * EQUALITY-delete file holding the ON-key rows of every matched row
    * a clause updated or deleted, and (b) new data files with the
    * updated + inserted rows. The spec's sequence rule does the rest:
    * an equality delete applies only to data files with a STRICTLY
    * lower sequence, so the same snapshot's appends survive while
    * every older version of the touched keys dies. No data file is
    * rewritten, the true 100 TB merge shape ([[DeltaInterop.merge]] is
    * the COW spelling).
    *
    * A source-decided batch ([[MergeKernel.sourceDecided]]: its rows
    * alone decide every outcome, as a CDC batch with unique keys and
    * "delete, else upsert" clauses does) never reads the table: both
    * files are staged straight from the source, and the delete file
    * names every acted-on key, present in the table or not. One
    * aggregate over the source answers the key envelope, emptiness and
    * the rule. Any other batch finds its matched rows over the source
    * keys' [min,max] envelope ([[FileStats.keyEnvelope]],
    * stats-pruned through [[scan]], which also applies existing
    * row-level deletes so a dead row can never match). Clause
    * semantics, `t.`/`s.` value references, and the
    * multiple-source-rows `raise_error` guard are
    * [[VersionedTable.merge]]'s, shared via [[MergeKernel]]. A commit
    * that writes a delete file upgrades a v1 table to format 2.
    * Returns the committed snapshot id (the current id when a full
    * no-op).
    */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      on: Seq[String], clauses: Seq[VersionedTable.MergeClause],
      txn: Option[(String, Long)] = None): Long = graft.JobLabel(spark, "iceberg.merge") {
    require(clauses.nonEmpty, "IcebergInterop merge: no clauses")
    require(on.nonEmpty, "IcebergInterop merge: empty ON key list")
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val schema = t.schema
    // replayed streaming batch → no-op (graft.txn table property,
    // the same exactly-once token [[write]] stamps)
    txn.foreach { case (appId, v) =>
      if (t.props.get(s"graft.txn.$appId").exists(_.toLong >= v))
        return t.current
    }
    on.foreach(c => require(schema.fieldNames.contains(c),
      s"IcebergInterop merge: ON column $c not in table schema"))
    on.foreach(c => require(source.columns.contains(c),
      s"IcebergInterop merge: ON column $c not in source"))
    val idByName = fieldIdToName(t.meta).map(_.swap)
    val eqIds = on.map(c => idByName.getOrElse(c,
      throw new IllegalStateException(s"no field id for $c")))
    val decided = MergeKernel.sourceDecided(schema, source, on, clauses, "IcebergInterop merge")
    val (envelope, rule) = graft.JobLabel(spark, "iceberg.merge: key envelope") {
      FileStats.keyEnvelope(source.alias("s"), on, decided.map(_.rule).toSeq)
    }
    if (envelope == FileStats.Empty) return t.current // full no-op
    // the base list, read once: scanned for matches (join path), then carried
    lazy val listRecs = manifestList(fs, t.meta, t.current)
    def stageAppends(rows: DataFrame) = stageDataFiles(rows.filter(col("__r").isNotNull)
      .select("__r.*"), path, t.partFields.map(_.name), label = "iceberg.merge: stage appends")
    // sorted equality-delete parquet of the ON-key rows
    def stageDeletes(keys: DataFrame) = stageDeleteFile(
      keys.coalesce(1).sortWithinPartitions(on.map(col): _*),
      path, "eqdelete", "iceberg.merge: stage eq-deletes")
    // Emptiness and the delete-key count both come from the STAGED
    // WRITES' own parquet footers — no count()/isEmpty probe actions
    // per micro-batch; staging drops zero-row files before any manifest
    // sees them.
    val src = source.persist()
    val (moved, del) = try decided.filter(_ => rule == Seq(true)) match {
      case Some(d) =>
        val s = src.alias("s")
        (stageAppends(s.select(d.append.as("__r"))),
          stageDeletes(s.filter(d.acted).select(on.map(k => col(s"s.$k").as(k)): _*)))
      case None =>
        val t0 = envelope match {
          case FileStats.Unmatchable =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          case FileStats.Bounds(p) => scan(spark, fs, t, listRecs, Some(p))
          case _ => scan(spark, fs, t, listRecs, None)
        }
        val j = MergeKernel.join(t0, src, on).persist()
        try {
          val mc = MergeKernel.columns(schema, schema.fieldNames.toSet, source.columns.toSet,
            on, clauses, "IcebergInterop merge")
          // append set: updated matched rows + inserted rows (the dup
          // guard is `picked`'s first branch and fires during staging)
          val moved = stageAppends(j.select(
            when(mc.matched && col("s.__scnt") > 1, mc.picked)
              .when(mc.matched && mc.matchTag === "update", mc.matchedResult)
              .when(col("t.__te").isNull, mc.notMatchedResult)
              .otherwise(lit(null).cast(StructType(schema.fields))).as("__r")))
          // keys to equality-delete: every matched row some clause acted
          // on (the filter's guard raises on duplicate source rows even
          // when nothing is appended — delete-only merges still validate)
          (moved, stageDeletes(j.filter(mc.matched && mc.matchTag =!= "keep" && mc.guard)
            .select(on.map(k => col(s"t.$k").as(k)): _*).distinct()))
        } finally { j.unpersist(); () }
    } finally { src.unpersist(); () }
    if (del.isEmpty && moved.isEmpty) return t.current // full no-op
    commit(fs, path, t, schema, t.partFields, "overwrite",
      if (del.nonEmpty) 2 else t.format, listRecs,
      addedSummary(moved, del.toSeq.map(2 -> _)), txnProps(txn)) { s =>
      (if (moved.isEmpty) Nil else Seq(writeManifest(s, 0, buildEntries(moved, s)))) ++
        del.map(eqDeleteManifest(s, _, eqIds))
    }
  }

  /** `foreachBatch` body for a STREAMING MERGE into the Iceberg wire
    * format — the Flink-CDC-style upsert sink: each micro-batch
    * commits one merge-on-read snapshot under its (appId, batchId)
    * `graft.txn` property, so replayed batches are no-ops and the
    * sink is exactly-once.
    *
    * No separate emptiness action: [[merge]]'s key-envelope aggregate
    * also counts the source, so an empty batch stops there and commits
    * nothing; staged zero-row files are dropped by their footer counts.
    * [[merge]] persists the source itself, since several of its actions
    * read it.
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

  /** The data files `where` cannot prune — spec/test introspection. */
  private[graft] def liveFilesWhere(spark: SparkSession, path: String,
      where: Option[Column]): Seq[String] = {
    val fs = fsFor(spark, path)
    val t = open(fs, path)
    val dataFiles = liveEntries(fs, manifestList(fs, t.meta, t.current))
      .map(_.get("data_file").asInstanceOf[GenericRecord])
    FileStats.prune(spark, t.schema, where, dataFiles,
      (d: GenericRecord) => fileStatOf(d, t.schema, t.partFields))
      .map(_.get("file_path").toString)
  }

  /** Driver-checked round trip: orders append (snapshot 1), a derived
    * high-value slice appends (snapshot 2 — the manifest list must
    * carry snapshot 1's manifest forward), and the result reads both
    * snapshots back through the full metadata→manifest chain.
    */
  def icebergRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-rt") + "/orders_iceberg"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val s1 = write(orders, out)
    write(orders.filter(col("o_totalprice") > 200000.0), out)
    val latest = read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
    val v1 = read(spark, out, snapshotId = Some(s1)).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows_s1"))
    latest.join(v1, "o_orderstatus").orderBy(col("o_orderstatus"))
  }

  /** Driver-checked WRITE-AUDIT-PUBLISH round trip: orders bootstrap
    * `main`; a high-value slice stages on an `audit` BRANCH (spec v2
    * refs) — the pre-publish read of main proving the staged data is
    * invisible is pinned INTO the result — then [[fastForward]]
    * publishes atomically and the final read sees both. The staging
    * lane every production ingest wants: validate a candidate batch on
    * a branch, publish metadata-only or drop the ref, never a
    * half-visible table.
    */
  def icebergWapRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-wap") + "/orders_iceberg"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    write(orders, out)
    createBranch(spark, out, "audit")
    writeToBranch(orders.filter(col("o_totalprice") > 300000.0), out, "audit")
    val pre = read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_pre"))
    val audit = readRef(spark, out, "audit").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_audit"))
    fastForward(spark, out, "audit")
    val published = read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
    published.join(pre, "o_orderstatus").join(audit, "o_orderstatus")
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked POSITION-DELETE round trip: orders land as a v1
    * table; a soft delete (v2 upgrade, no parquet rewritten) drops the
    * high-value rows; a fresh append adds NEW rows matching the same
    * predicate, which the sequence rule must leave alive; a second
    * delete then prunes by key. The final aggregate pins the full
    * merge-on-read read path under the hash gate, including the
    * delete-scoping-by-sequence semantics.
    */
  def icebergPosDeleteRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-posdel") + "/orders_iceberg"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(orders, out)
    deletePositions(spark, out, col("o_totalprice") > 300000.0)
    // re-append the high-value slice: same values, HIGHER sequence —
    // the existing delete must not touch these rows
    write(orders.filter(col("o_totalprice") > 300000.0), out)
    deletePositions(spark, out, col("o_orderkey") % 5 === 0)
    read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked EQUALITY-DELETE round trip: keyed delete of the
    * mod-9 orderkeys (no data file read), then a high-value re-append
    * whose rows — including re-inserted deleted keys — sit above the
    * delete's sequence and must all survive (strict-< rule). The final
    * aggregate pins the keyed merge-on-read path under the hash gate.
    */
  def icebergEqDeleteRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-eqdel") + "/orders_iceberg"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(orders, out)
    deleteEquality(spark, out,
      orders.filter(col("o_orderkey") % 9 === 0).select(col("o_orderkey")))
    write(orders.filter(col("o_totalprice") > 400000.0), out)
    read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked MERGE INTO on the wire format: ONE statement
    * against the Iceberg orders table updates every 100th key (+100000
    * price), deletes every (100k+50)th, and inserts a negated copy of
    * every (100k+25)th — the same deterministic merge as `q_merge` /
    * `q_delta_merge`, here as one merge-on-read snapshot (equality
    * delete + appends, nothing rewritten). The read back applies the
    * sequence-scoped delete chain; the oracle reconstructs the end
    * state relationally.
    */
  def icebergMergeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-merge") + "/orders_iceberg"
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

  /** ADDED (status 1) manifest entries for freshly staged files: typed
    * partition record + the spec's column-stats maps (field-id keyed)
    * from each file's footer stats, the skipping metadata real Iceberg
    * planners prune on.
    */
  private def buildEntries(moved: Seq[DataFileRef], s: Stamp): Seq[GenericRecord] = {
    val dataFileSchema = s.entrySchema.getField("data_file").schema()
    def kvItemSchema(field: String) =
      dataFileSchema.getField(field).schema().getTypes.get(1).getElementType
    def kvList(field: String, pairs: Seq[(Int, Any)]): java.util.List[GenericRecord] =
      pairs.map { case (k, v) =>
        val r = new GenericData.Record(kvItemSchema(field))
        r.put("key", k); r.put("value", v); r: GenericRecord
      }.asJava
    moved.map { f =>
      val e = new GenericData.Record(s.entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", s.snapshotId)
      val d = new GenericData.Record(dataFileSchema)
      d.put("file_path", f.path)
      d.put("file_format", "PARQUET")
      val partRec = new GenericData.Record(
        dataFileSchema.getField("partition").schema())
      s.partFields.zip(f.partValues).foreach { case (pf, v) =>
        partRec.put(pf.name, v.map(partAvroValue(_, pf.dataType)).orNull)
      }
      d.put("partition", partRec)
      d.put("record_count", f.records)
      d.put("file_size_in_bytes", f.bytes)
      d.put("block_size_in_bytes", 67108864L)
      f.stat.foreach { st =>
        val fields = s.schema.fields.zipWithIndex
        d.put("value_counts", kvList("value_counts",
          fields.map { case (_, i) => (i + 1) -> st.numRecords.getOrElse(0L) }.toSeq))
        d.put("null_value_counts", kvList("null_value_counts",
          fields.toSeq.flatMap { case (fld, i) =>
            st.cols.get(fld.name).flatMap(_.nullCount).map((i + 1) -> _) }))
        d.put("lower_bounds", kvList("lower_bounds",
          fields.toSeq.flatMap { case (fld, i) =>
            st.cols.get(fld.name).flatMap(_.min)
              .flatMap(boundBytes(_, fld.dataType)).map((i + 1) -> _) }))
        d.put("upper_bounds", kvList("upper_bounds",
          fields.toSeq.flatMap { case (fld, i) =>
            st.cols.get(fld.name).flatMap(_.max)
              .flatMap(boundBytes(_, fld.dataType)).map((i + 1) -> _) }))
      }
      e.put("data_file", d)
      e
    }
  }

  /** The live (status != DELETED) data-file entries of a manifest
    * list, with their manifest-entry records.
    */
  private def liveEntries(fs: FileSystem, list: Seq[GenericRecord]): Seq[GenericRecord] =
    liveEntriesWithSeq(fs, list).map(_._1)

  /** Live entries paired with their DATA sequence (entry-level override
    * or list-level inheritance) — what a v2 rewrite must carry forward.
    */
  private def liveEntriesWithSeq(fs: FileSystem, list: Seq[GenericRecord])
      : Seq[(GenericRecord, Long)] =
    list.filter(listContentOf(_) == 0) // data manifests only, never content=1
      .flatMap { r =>
        val seq = listSeqOf(r)
        readAvro(fs, new Path(r.get("manifest_path").toString))
          .map(e => (e, entrySeqOf(e, seq)))
      }
      .filter(_._1.get("status").asInstanceOf[Int] != 2)

  /** Refuse loudly when a v2 manifest list carries position-delete
    * manifests: callers that rewrite or adopt data files wholesale
    * (compaction, metadata-only CONVERT) would orphan the deletes and
    * resurrect deleted rows — silent corruption. The delete-aware read
    * path ([[readWhere]]) applies them instead of refusing.
    */
  private def requireNoDeleteManifests(list: Seq[GenericRecord], what: String): Unit = {
    val dels = list.count(listContentOf(_) == 1)
    require(dels == 0,
      s"IcebergInterop $what: snapshot carries $dels position-delete " +
        "manifest(s) (v2 content=1); rewrite the table through the " +
        "delete-aware reader first")
  }

  /** Partition tuple of a manifest entry (null-safe), for grouping. */
  private def partKeyOf(e: GenericRecord,
      partFields: Seq[StructField]): Seq[Option[Any]] = {
    val rec = e.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord]
    partFields.map(pf =>
      if (rec.getSchema.getField(pf.name) == null) None
      else Option(rec.get(pf.name)).map {
        case u: org.apache.avro.util.Utf8 => u.toString
        case v => v
      })
  }

  /** The current snapshot's ancestor chain, root-first (the streaming
    * tail's clock: position = depth). None for an empty/absent table.
    */
  def snapshotChain(spark: SparkSession, path: String): Option[Seq[Long]] =
    load(fsFor(spark, path), path).map { t =>
      val byId = snapshotsById(t.meta)
      val chain = scala.collection.mutable.ArrayBuffer[Long]()
      var cursor: Option[Long] = Some(t.current)
      while (cursor.isDefined && byId.contains(cursor.get)) {
        chain.prepend(cursor.get)
        cursor = (byId(cursor.get) \ "parent-snapshot-id").extractOpt[Long]
      }
      chain.toSeq
    }

  /** Rows ADDED by the snapshots in `(fromSnapshot, toSnapshot]`,
    * resolved by walking the parent chain back from `toSnapshot` — the
    * streaming-tail window. `append` snapshots emit their status-ADDED
    * files; `replace` (compaction) snapshots emit nothing; `overwrite`
    * is not expressible as an append and fails loudly unless
    * `ignoreChanges`. A broken parent chain (the range was expired)
    * also fails loudly — restart the stream from a fresh checkpoint.
    */
  def appendsBetween(spark: SparkSession, path: String,
      fromSnapshot: Option[Long], toSnapshot: Long,
      ignoreChanges: Boolean = false): DataFrame = {
    val fs = fsFor(spark, path)
    val t = open(fs, path)
    val byId = snapshotsById(t.meta)
    // walk to the range start; collect in commit order
    val chain = scala.collection.mutable.ArrayBuffer[JValue]()
    var cursor: Option[Long] = Some(toSnapshot)
    while (cursor.isDefined && !fromSnapshot.contains(cursor.get)) {
      val s = byId.getOrElse(cursor.get, throw new IllegalStateException(
        s"IcebergInterop appendsBetween: snapshot ${cursor.get} not in metadata " +
          "(expired?) — restart the stream from a fresh checkpoint"))
      chain.prepend(s)
      cursor = (s \ "parent-snapshot-id").extractOpt[Long]
    }
    require(cursor.isDefined == fromSnapshot.isDefined,
      s"IcebergInterop appendsBetween: $fromSnapshot is not an ancestor of $toSnapshot")
    val files = chain.toSeq.flatMap { s =>
      val sid = (s \ "snapshot-id").extract[Long]
      val op = (s \ "summary" \ "operation").extractOrElse[String]("append")
      if (op == "replace") Nil // maintenance: no new rows
      else {
        require(op == "append" || ignoreChanges,
          s"IcebergInterop appendsBetween: snapshot $sid is a '$op' — not " +
            "expressible as an append; set ignoreChanges=true to re-emit rows")
        readAvro(fs, new Path((s \ "manifest-list").extract[String]))
          .filter(listContentOf(_) == 0) // never adopt delete parquet as data
          .flatMap(r => readAvro(fs, new Path(r.get("manifest_path").toString)))
          .filter(e => e.get("status").asInstanceOf[Int] == 1 &&
            e.get("snapshot_id") == sid)
          .map(_.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString)
      }
    }
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        t.schema)
    else spark.read.schema(t.schema).parquet(files.distinct: _*)
  }

  /** rewrite_data_files (bin-packing compaction): every partition tuple
    * holding more than one live file rewrites into one; untouched
    * files carry into the new snapshot as EXISTING (status 0) entries
    * keeping their stats verbatim. The new snapshot's manifest list
    * references ONE manifest covering the whole live file set —
    * operation `replace`, rows unchanged. The streaming-sink pair:
    * one snapshot per micro-batch means file count grows with stream
    * age unless a compactor runs beside it.
    */
  /** Collapse accumulated row-level deletes into clean parquet: the
    * current state (position AND equality deletes applied by the read
    * path) rewrites as an overwrite snapshot with no carried
    * manifests, so [[compact]] and [[expireSnapshots]] — which refuse
    * delete-bearing snapshots rather than orphan/resurrect — can run
    * again. The Iceberg spelling of `rewrite_data_files` with
    * delete-file removal, and the operational pair of
    * [[deletePositions]]/[[deleteEquality]]: soft deletes accumulate
    * cheaply between collapses, then one rewrite amortizes them.
    */
  def collapseDeletes(spark: SparkSession, path: String): Long =
    write(read(spark, path), path, overwrite = true,
      partitionBy = open(fsFor(spark, path), path).partFields.map(_.name))

  def compact(spark: SparkSession, path: String): Long =
    compact(spark, path, zorderBy = Nil)

  /** `rewrite_data_files` with the SORT/Z-ORDER strategy when `zorderBy`
    * is non-empty: every live file rewrites clustered on the interleaved
    * quantile-bucketed Morton key, so manifest bounds become tight
    * hyper-rectangles and range predicates on any z-column prune through
    * [[readWhere]] — Iceberg's own zorder rewrite trade.
    */
  def compact(spark: SparkSession, path: String, zorderBy: Seq[String],
      filesPerPartition: Int = 16,
      targetFileBytes: Option[Long] = None): Long = {
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val (schema, partFields) = (t.schema, t.partFields)
    zorderBy.foreach(c => require(
      schema.fieldNames.contains(c) && !partFields.exists(_.name == c),
      s"compact zorderBy: $c must be a non-partition data column"))
    val list = manifestList(fs, t.meta, t.current)
    requireNoDeleteManifests(list, "compact") // rewrite orphans deletes
    val grouped = liveEntriesWithSeq(fs, list).groupBy(e => partKeyOf(e._1, partFields))
    // z-order re-clusters EVERYTHING; plain bin-packing touches only
    // partitions that can pack smaller
    val multi =
      if (zorderBy.nonEmpty) grouped
      else grouped.filter(_._2.size > 1)
    if (multi.isEmpty) return t.current
    val untouched = grouped.filterNot(g => multi.contains(g._1)).values.flatten.toSeq
    val touchedPaths = multi.values.flatten.toSeq.map(
      _._1.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString)
    val frame = spark.read.schema(schema).parquet(touchedPaths: _*)
    val packed =
      if (zorderBy.nonEmpty) {
        import graft.functions.ZOrder
        val bounds = zorderBy.map(c => ZOrder.quantileBoundaries(frame, c))
        val zkey = ZOrder.zorderKey(zorderBy.map(col), bounds,
          bits = math.min(8, 63 / zorderBy.size))
        val keys = partFields.map(f => col(f.name)) :+ col("__z")
        frame.withColumn("__z", zkey)
          .repartitionByRange(
            math.max(multi.size, filesPerPartition), keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__z")
      }
      else targetFileBytes match {
        case Some(target) =>
          // byte-targeted bin-packing: ceil(bytes/target) files per
          // partition — a huge partition never packs into one file.
          // Range partitioning keeps distinct (partition, salt) keys
          // apart (hash would birthday-collide them).
          val nOut = multi.map { case (pv, es) =>
            val bytes = es.map(_._1.get("data_file")
              .asInstanceOf[GenericRecord].get("file_size_in_bytes")
              .asInstanceOf[java.lang.Long].longValue()).sum
            pv -> math.max(1L, (bytes + target - 1) / target).toInt
          }
          val modExpr = nOut.foldLeft(lit(1)) { case (acc, (pv, n)) =>
            val hit = partFields.zip(pv).map { case (pf, v) =>
              col(pf.name) <=> v.map(x => lit(x).cast(pf.dataType))
                .getOrElse(lit(null).cast(pf.dataType))
            }.reduceOption(_ && _).getOrElse(lit(true))
            when(hit, lit(n)).otherwise(acc)
          }
          frame
            .withColumn("__salt",
              pmod((rand(7) * 1000000).cast("int"), modExpr))
            .repartitionByRange(nOut.values.sum,
              (partFields.map(f => col(f.name)) :+ col("__salt")): _*)
            .drop("__salt")
        case None if partFields.isEmpty => frame.coalesce(1)
        case None =>
          frame.repartition(multi.size, partFields.map(f => col(f.name)): _*)
      }
    val moved = stageDataFiles(packed, path, partFields.map(_.name),
      shape = false)
    commit(fs, path, t, schema, partFields, "replace", t.format, Nil,
      addedSummary(moved)) { s =>
      Seq(writeManifest(s, 0, buildEntries(moved, s) ++
        untouched.map { case (old, oldSeq) =>
          val e = new GenericData.Record(s.entrySchema)
          e.put("status", 0) // EXISTING
          e.put("snapshot_id", old.get("snapshot_id"))
          // entry-level sequence: an EXISTING entry carried into the
          // rewritten manifest must keep its ORIGINAL data sequence, or
          // v2 readers would inflate it to the new list-level sequence
          // and skip the deletes that legitimately target it (the rule
          // the foreign fixture pins)
          if (s.fmt >= 2) {
            e.put("sequence_number", oldSeq)
            e.put("file_sequence_number", oldSeq)
          }
          e.put("data_file", old.get("data_file"))
          e
        }))
    }
  }

  /** expire_snapshots: drop all but the newest `keepLast` snapshots
    * from the metadata and physically delete every manifest list,
    * manifest, and data file referenced ONLY by the expired ones.
    * Time travel to an expired snapshot stops working — the spec's
    * documented trade; current reads are untouched. Returns
    * (expired snapshot count, deleted data-file count).
    */
  def expireSnapshots(spark: SparkSession, path: String,
      keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "expireSnapshots: keepLast must be >= 1")
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    // foreign metadata lists snapshots in ARBITRARY order (the foreign
    // fixture pins one out of order) — "last" means newest by sequence
    // then timestamp, never list position
    val all = snapshots(t.meta)
      .sortBy(s => ((s \ "sequence-number").extractOrElse[Long](0L),
        (s \ "timestamp-ms").extractOrElse[Long](0L)))
    if (all.size <= keepLast) return (0, 0)
    // branch heads / tags survive expiry regardless of age — a ref is a
    // promise the snapshot stays readable until the ref itself drops
    val refHeads = refsOf(t.meta).values.map(_._1).toSet
    val (keepRefd, rest) = all.partition(s =>
      refHeads.contains((s \ "snapshot-id").extract[Long]))
    val keep = (keepRefd ++ rest.takeRight(
      math.max(0, keepLast - keepRefd.size)))
      .sortBy(s => ((s \ "sequence-number").extractOrElse[Long](0L),
        (s \ "timestamp-ms").extractOrElse[Long](0L)))
    val keepIds = keep.map(s => (s \ "snapshot-id").extract[Long]).toSet
    val expired = all.filterNot(s =>
      keepIds.contains((s \ "snapshot-id").extract[Long]))
    if (expired.isEmpty) return (0, 0)
    require(keepIds.contains(t.current),
      "expireSnapshots: the current snapshot must survive")
    def listsOf(snaps: Seq[JValue]): Seq[String] =
      snaps.map(s => (s \ "manifest-list").extract[String])
    def manifestsOf(lists: Seq[String]): Set[String] =
      lists.flatMap(l => readAvro(fs, new Path(l))
        .map(_.get("manifest_path").toString)).toSet
    def filesOf(manifests: Set[String]): Set[String] =
      manifests.flatMap(m => readAvro(fs, new Path(m)).map(
        _.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString))
    val keepManifests = manifestsOf(listsOf(keep))
    val keepFiles = filesOf(keepManifests)
    val deadManifests = manifestsOf(listsOf(expired)) -- keepManifests
    val deadFiles = filesOf(deadManifests) -- keepFiles
    deadFiles.foreach(f => fs.delete(new Path(f), false))
    deadManifests.foreach(m => fs.delete(new Path(m), false))
    listsOf(expired).foreach(l => fs.delete(new Path(l), false))
    // a metadata-only commit: same current snapshot, expired ones gone
    publish(fs, path, t, refsOf(t.meta),
      drop = expired.map(s => (s \ "snapshot-id").extract[Long]).toSet)
    (expired.size, deadFiles.size)
  }

  /** `rewrite_manifests`: collapse the current snapshot's DATA
    * manifests into ONE, as a metadata-only `replace` snapshot — no
    * data parquet moves. Every merged entry lands status=EXISTING with
    * its EXPLICIT per-entry `sequence_number` (entry field-id 3), so
    * the v2 delete-scoping rule keeps working: an equality delete
    * still applies only to data files whose original sequence is
    * strictly below it, wherever their entry now lives. Delete
    * manifests are carried untouched.
    *
    * This is the planning-cost maintenance op: a streaming table that
    * commits once a minute accrues 1440 manifests a day, and every
    * read opens ALL of them before pruning a single data file — at
    * 100 TB the manifest walk, not the data, becomes the read
    * planner's bottleneck. Collapsing restores O(1) metadata reads;
    * the superseded manifests age out via [[expireSnapshots]] /
    * [[removeOrphanFiles]].
    *
    * Honest coverage note: entries are re-encoded through graft's own
    * entry schema; a foreign manifest whose record shape diverges
    * fails the deep-copy loudly rather than dropping fields.
    * Returns the number of manifests merged (0 = nothing to do).
    */
  def rewriteManifests(spark: SparkSession, path: String): Int = {
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val (delRecs, dataRecs) =
      manifestList(fs, t.meta, t.current).partition(r => listContentOf(r) == 1)
    if (dataRecs.size <= 1) return 0
    val gd = org.apache.avro.generic.GenericData.get()
    commit(fs, path, t, t.schema, t.partFields, "replace", t.format, delRecs) { s =>
      val dfSchema = s.entrySchema.getField("data_file").schema()
      Seq(writeManifest(s, 0, dataRecs.flatMap { r =>
        val inherited = listSeqOf(r)
        readAvro(fs, new Path(r.get("manifest_path").toString)).collect {
          case e if e.get("status").asInstanceOf[Int] != 2 => // not DELETED
            val ne = new GenericData.Record(s.entrySchema)
            ne.put("status", 0) // EXISTING
            ne.put("snapshot_id", e.get("snapshot_id"))
            ne.put("sequence_number", entrySeqOf(e, inherited))
            ne.put("data_file",
              try gd.deepCopy(dfSchema,
                e.get("data_file").asInstanceOf[GenericRecord])
              catch { case ex: Exception => throw new IllegalArgumentException(
                "IcebergInterop rewriteManifests: foreign manifest entry " +
                  s"shape diverges from the table schema (${ex.getMessage}) — " +
                  "refusing rather than dropping fields", ex) })
            ne: GenericRecord
        }
      }))
    }
    dataRecs.size
  }

  /** `remove_orphan_files`: physically delete data/manifest files under
    * the table root that NO retained metadata version references —
    * crash debris a failed stage or lost commit race left behind (the
    * rename-based commit protocol makes such debris unreferenced by
    * construction, never corrupt). The reachable set unions EVERY
    * `vN.metadata.json`'s snapshots (manifest list → manifests → data +
    * delete files, all statuses and content kinds), so time travel to
    * any retained version stays intact; [[expireSnapshots]] is the op
    * that shrinks that set first. `olderThanMs` (default 3 days, the
    * real procedure's default) protects still-uncommitted writers.
    * Candidates are `.parquet`/`.avro` files only — `*.metadata.json` /
    * `version-hint.text` are the log itself. Returns the deleted count.
    *
    * Scale: one driver-side metadata walk (bounded by manifest count,
    * memoized per manifest) + one tree listing per maintenance run.
    */
  def removeOrphanFiles(spark: SparkSession, path: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000): Int = {
    require(olderThanMs >= 0, "removeOrphanFiles: negative grace period")
    val fs = fsFor(spark, path)
    open(fs, path)
    def keyOf(p: String): String = CommitKernel.fileKey(fs, new Path(p))
    val reachable = scala.collection.mutable.Set[String]()
    val visitedManifests = scala.collection.mutable.Set[String]()
    val metaDir = new Path(s"$path/metadata")
    val versions = fs.listStatus(metaDir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+\\.metadata\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json").toInt).sorted
    versions.foreach { v =>
      val meta = readMetadata(fs, path, v)
      snapshots(meta).foreach { s =>
        val list = (s \ "manifest-list").extract[String]
        reachable += keyOf(list)
        // an OLD metadata version may reference lists/manifests a later
        // expireSnapshots already deleted — skip those: every file that
        // was reachable ONLY through an expired snapshot was that
        // expire's GC target already, and files still live re-enter the
        // set through the current snapshots' intact lists
        if (fs.exists(new Path(list)))
          readAvro(fs, new Path(list)).foreach { r =>
            val m = r.get("manifest_path").toString
            reachable += keyOf(m)
            if (visitedManifests.add(keyOf(m)) && fs.exists(new Path(m)))
              readAvro(fs, new Path(m)).foreach { e =>
                reachable += keyOf(e.get("data_file")
                  .asInstanceOf[GenericRecord].get("file_path").toString)
              }
          }
      }
    }
    // files the manifests marked visited already contributed their
    // entries; now walk the tree for unreferenced candidates
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = CommitKernel.walk(fs, new Path(path)).collect {
      case (st, rel) if (rel.endsWith(".parquet") || rel.endsWith(".avro")) &&
          !reachable.contains(CommitKernel.fileKey(fs, st.getPath)) &&
          st.getModificationTime < cutoff => st.getPath
    }
    orphans.foreach(fs.delete(_, false))
    orphans.size
  }

  /** `rollback_to_snapshot`: a metadata-only new version whose
    * `current-snapshot-id` points back at `snapshotId` (which must
    * still be retained). Nothing is deleted — the rolled-past snapshots
    * stay in the list and remain time-travelable until
    * [[expireSnapshots]]. Returns the new metadata version.
    */
  def rollbackTo(spark: SparkSession, path: String, snapshotId: Long): Int = {
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val ids = snapshots(t.meta).map(s => (s \ "snapshot-id").extract[Long])
    require(ids.contains(snapshotId),
      s"rollbackTo: snapshot $snapshotId not retained " +
        s"(have ${ids.mkString(", ")})")
    publish(fs, path, t, refsOf(t.meta) + ("main" -> (snapshotId, "branch")))
  }

  /** Live data bytes at a snapshot from the manifests'
    * `file_size_in_bytes` (metadata only) — the planner-statistics
    * number for broadcast decisions.
    */
  def liveBytes(spark: SparkSession, path: String,
      snapshotId: Option[Long] = None): Long = {
    val fs = fsFor(spark, path)
    val t = open(fs, path)
    val target = snapshotId.getOrElse(t.current)
    if (target < 0) 0L // a table with no snapshot yet
    else liveEntries(fs, manifestList(fs, t.meta, target)).map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("file_size_in_bytes").asInstanceOf[Long]).sum
  }

  /** Iceberg's INSPECTION tables (`t.snapshots`, `t.files`,
    * `t.manifests`, `t.refs`, `t.history`) as DataFrames — the
    * operational surface every Iceberg runbook scripts against
    * (retention audits, small-file monitoring, ref inventories).
    * Metadata-only: snapshots/history/refs read the table JSON,
    * manifests reads the current manifest list, files walks the current
    * snapshot's manifests — never a data byte.
    */
  def metadataTable(spark: SparkSession, path: String, table: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, path)
    val meta = open(fs, path).meta
    val snaps = snapshots(meta)
    def currentList = head(meta, "main").toSeq.flatMap(manifestList(fs, meta, _))
    table match {
      case "snapshots" =>
        snaps.map { s =>
          ((s \ "snapshot-id").extract[Long],
            (s \ "parent-snapshot-id").extractOpt[Long],
            (s \ "timestamp-ms").extractOrElse[Long](0L),
            (s \ "summary" \ "operation").extractOrElse[String]("append"),
            (s \ "sequence-number").extractOpt[Long],
            (s \ "manifest-list").extract[String],
            (s \ "summary").extractOrElse[Map[String, String]](Map.empty) - "operation")
        }.toDF("snapshot_id", "parent_id", "committed_at_ms", "operation",
          "sequence_number", "manifest_list", "summary")
          .orderBy(col("committed_at_ms"), col("snapshot_id"))
      case "history" =>
        (meta \ "snapshot-log").extractOrElse[List[JValue]](Nil).map { e =>
          ((e \ "timestamp-ms").extract[Long],
            (e \ "snapshot-id").extract[Long])
        }.zipWithIndex
          .map { case ((ts, id), i) => (i, ts, id, snaps.exists(s =>
            (s \ "snapshot-id").extract[Long] == id)) }
          .toDF("ordinal", "made_current_at_ms", "snapshot_id", "is_retained")
      case "refs" =>
        refsOf(meta).toSeq.sortBy(_._1).map { case (n, (id, t)) => (n, t, id) }
          .toDF("name", "type", "snapshot_id")
      case "manifests" =>
        currentList.map { r =>
          (r.get("manifest_path").toString,
            r.get("manifest_length").asInstanceOf[Long],
            listContentOf(r), listSeqOf(r),
            Option(r.get("added_snapshot_id"))
              .map(_.asInstanceOf[Long]).getOrElse(0L))
        }.toDF("path", "length", "content", "sequence_number",
          "added_snapshot_id").orderBy(col("path"))
      case "files" =>
        liveEntries(fs, currentList).map { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          (d.get("file_path").toString,
            d.get("record_count").asInstanceOf[Long],
            d.get("file_size_in_bytes").asInstanceOf[Long],
            e.get("status").asInstanceOf[Int])
        }.toDF("file_path", "record_count", "file_size_in_bytes", "status")
          .orderBy(col("file_path"))
      case other => throw new IllegalArgumentException(
        s"IcebergInterop: unknown metadata table '$other' — have " +
          "snapshots, history, refs, manifests, files")
    }
  }

  // ---- refs: branches and tags (spec v2 `refs`) ----

  /** The metadata's `refs` map as name → (snapshot-id, type). A table
    * written before refs existed has none; `main` is implicitly the
    * current snapshot (the spec's rule), surfaced here explicitly.
    */
  private def refsOf(meta: JValue): Map[String, (Long, String)] = {
    val explicit = (meta \ "refs") match {
      case JObject(fields) => fields.map { case (name, r) =>
        name -> ((r \ "snapshot-id").extract[Long],
          (r \ "type").extractOrElse[String]("branch"))
      }.toMap
      case _ => Map.empty[String, (Long, String)]
    }
    explicit.get("main") match {
      case Some(_) => explicit
      case None => (meta \ "current-snapshot-id").extractOpt[Long]
        .fold(explicit)(c => explicit + ("main" -> (c, "branch")))
    }
  }

  private def refsJson(refs: Map[String, (Long, String)]): JValue =
    JObject(refs.toList.sortBy(_._1).map { case (name, (id, tpe)) =>
      name -> (JObject("snapshot-id" -> JLong(id),
        "type" -> JString(tpe)): JValue)
    })

  /** All refs of the table, `main` included. */
  def refs(spark: SparkSession, path: String): Map[String, (Long, String)] =
    refsOf(open(fsFor(spark, path), path).meta)

  private def createRef(spark: SparkSession, path: String, name: String,
      tpe: String, at: Option[Long]): Long = {
    require(name.nonEmpty && name != "main",
      s"IcebergInterop: cannot create ref '$name'")
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val existing = refsOf(t.meta)
    require(!existing.contains(name),
      s"IcebergInterop: ref '$name' already exists")
    val target = at.getOrElse(t.current)
    require(snapshotsById(t.meta).contains(target),
      s"IcebergInterop: snapshot $target not retained; cannot ref it")
    publish(fs, path, t, existing + (name -> (target, tpe)))
    target
  }

  /** A BRANCH: an independently-advancing head ([[writeToBranch]]) —
    * the write-audit-publish staging lane. Metadata-only; returns the
    * snapshot the branch starts at.
    */
  def createBranch(spark: SparkSession, path: String, name: String,
      at: Option[Long] = None): Long = createRef(spark, path, name, "branch", at)

  /** A TAG: an immutable named snapshot (release pinning). */
  def createTag(spark: SparkSession, path: String, name: String,
      at: Option[Long] = None): Long = createRef(spark, path, name, "tag", at)

  def dropRef(spark: SparkSession, path: String, name: String): Unit = {
    require(name != "main", "IcebergInterop: cannot drop 'main'")
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val existing = refsOf(t.meta)
    require(existing.contains(name), s"IcebergInterop: no ref '$name'")
    publish(fs, path, t, existing - name)
    ()
  }

  /** Read the table as of a named ref (`main`, a branch head, a tag). */
  def readRef(spark: SparkSession, path: String, name: String): DataFrame = {
    val r = refs(spark, path).getOrElse(name,
      throw new IllegalArgumentException(s"IcebergInterop: no ref '$name'"))
    read(spark, path, snapshotId = Some(r._1))
  }

  /** Append `df` to a BRANCH: the new snapshot's parent and carried
    * manifest list are the branch head's, the branch ref advances, and
    * `main`/current-snapshot-id/snapshot-log stay untouched — readers
    * of the table see nothing until [[fastForward]] publishes. The
    * write-audit-publish lane: stage candidate data on an `audit`
    * branch, validate it there ([[readRef]]), then publish atomically.
    * Sequence numbers stay table-global per the spec. Returns the new
    * snapshot id.
    */
  def writeToBranch(df: DataFrame, path: String,
      branch: String): Long = graft.JobLabel(df.sparkSession, "iceberg.writeToBranch") {
    val fs = fsFor(df.sparkSession, path)
    val t = open(fs, path, write = true)
    val (_, tpe) = refsOf(t.meta).getOrElse(branch,
      throw new IllegalArgumentException(
        s"IcebergInterop: no branch '$branch' (createBranch first)"))
    require(tpe == "branch", s"IcebergInterop: ref '$branch' is a $tpe — " +
      "tags are immutable")
    require(t.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"IcebergInterop branch append: schema must match the table " +
        s"(table ${t.schema.simpleString}, batch ${df.schema.simpleString})")
    commitFiles(fs, path, t, t.schema, t.partFields,
      stageDataFiles(df, path, t.partFields.map(_.name)), overwrite = false, ref = branch)
  }

  /** PUBLISH a branch: fast-forward `main` to the branch head —
    * metadata-only, atomic, and only when main is an ancestor of the
    * head (anything else is not a fast-forward; refuse rather than
    * silently dropping main-side commits). Returns the published
    * snapshot id.
    */
  def fastForward(spark: SparkSession, path: String, branch: String): Long = {
    val fs = fsFor(spark, path)
    val t = open(fs, path, write = true)
    val allRefs = refsOf(t.meta)
    val (head, tpe) = allRefs.getOrElse(branch,
      throw new IllegalArgumentException(s"IcebergInterop: no ref '$branch'"))
    require(tpe == "branch", s"IcebergInterop: '$branch' is a $tpe")
    val current = t.current
    if (head == current) return current // already published
    val byId = snapshotsById(t.meta)
    var cursor = Option(head)
    var isAncestor = false
    while (cursor.isDefined && !isAncestor) {
      if (cursor.get == current) isAncestor = true
      else cursor = byId.get(cursor.get)
        .flatMap(s => (s \ "parent-snapshot-id").extractOpt[Long])
    }
    require(isAncestor,
      s"IcebergInterop fastForward: main ($current) is not an ancestor of " +
        s"'$branch' ($head) — diverged histories need a real merge")
    publish(fs, path, t, allRefs + ("main" -> (head, "branch")))
    head
  }

  /** Driver-checked identity-partitioned table: write orders
    * partitioned by status, then a partition-pruned + stats-pruned
    * read-back — the scan plans only the `F` partition's files (the
    * pruning itself is spec-asserted; the oracle pins the result).
    */
  def icebergPartitionedRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-part") + "/orders_part"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_totalprice"))
    write(orders, out, partitionBy = Seq("o_orderstatus"))
    readWhere(spark, out,
      Some(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"),
        min(col("o_orderdate")).as("first_date"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked maintenance round trip: three disjoint appends,
    * rewrite_data_files packs the partitions, expire_snapshots(1)
    * drops the pre-compaction history and GCs its orphans — the
    * read-back aggregate must equal plain orders, maintenance
    * invisible to results.
    */
  def icebergMaintenanceRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-iceberg-maint") + "/orders_iceberg"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    for (m <- 0L to 2L)
      write(orders.filter(col("o_orderkey") % 3 === m), out,
        partitionBy = Seq("o_orderstatus"))
    compact(spark, out)
    expireSnapshots(spark, out, keepLast = 1)
    read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val ops: Seq[graft.Op] = Seq(
    graft.Op("q_iceberg_maintenance", icebergMaintenanceRoundTrip,
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),
    graft.Op("q_iceberg_partitioned", icebergPartitionedRoundTrip,
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
               min(o_orderdate) AS first_date
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),
    // delete (price>300k), re-append that slice at a higher sequence,
    // delete key%5==0: the net live set is exactly orders minus the
    // key%5 rows — anything else means the sequence rule or the
    // merge-on-read join is wrong
    graft.Op("q_iceberg_merge", icebergMergeRoundTrip,
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
    graft.Op("q_iceberg_posdelete", icebergPosDeleteRoundTrip,
      Some("""
        SELECT o_orderstatus, count(*) AS n_live,
               cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_orderkey % 5 <> 0
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),
    graft.Op("q_iceberg_eqdelete", icebergEqDeleteRoundTrip,
      Some("""
        WITH survivors AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_orderkey % 9 <> 0
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_totalprice > 400000.0)
        SELECT o_orderstatus, count(*) AS n_live,
               cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM survivors
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),
    graft.Op("q_iceberg_wap", icebergWapRoundTrip,
      Some("""
        WITH staged AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_totalprice > 300000.0),
        published AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          UNION ALL SELECT o_orderstatus, o_totalprice FROM staged)
        SELECT p.o_orderstatus, p.n_rows, p.sum_price, b.n_pre, a.n_audit
        FROM (SELECT o_orderstatus, count(*) AS n_rows,
                cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
              FROM published GROUP BY o_orderstatus) p
        JOIN (SELECT o_orderstatus, count(*) AS n_pre
              FROM orders GROUP BY o_orderstatus) b USING (o_orderstatus)
        JOIN (SELECT o_orderstatus, count(*) AS n_audit
              FROM published GROUP BY o_orderstatus) a USING (o_orderstatus)
        ORDER BY o_orderstatus""")),
    graft.Op("q_iceberg_roundtrip", icebergRoundTrip,
      Some("""
        WITH appended AS (
          SELECT o_orderstatus, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders
          WHERE o_totalprice > 200000.0),
        latest AS (
          SELECT o_orderstatus, count(*) AS n_rows,
                 cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
          FROM appended GROUP BY o_orderstatus),
        s1 AS (
          SELECT o_orderstatus, count(*) AS n_rows_s1
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, n_rows, sum_price, n_rows_s1
        FROM latest JOIN s1 USING (o_orderstatus)
        ORDER BY o_orderstatus""")))
}
