package graft.sinks

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Adversarial FOREIGN-writer Iceberg fixture: a v2 table whose
  * metadata, manifest lists, and manifests are hand-written the way the
  * reference Iceberg Java writer emits them — absolute `file:` URI
  * paths, entry/record fields graft's own writer never writes
  * (content, sequence numbers, sort_order_id, split_offsets, partition
  * field summaries), snapshots listed out of order, an EVOLVED schema
  * list where `schemas[0]` is stale and only `current-schema-id` points
  * at the live one, unknown table properties, and v2 position-delete
  * manifests. This is the closest offline proxy for "a real engine
  * wrote this table" while connector jars are environment-blocked:
  * graft must read it (deletes applied), travel it, prune it — and
  * refuse the operations that would corrupt it (compaction/conversion
  * that would orphan the deletes, format versions it doesn't know).
  */
class IcebergForeignSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  // ---- avro schemas, spelled like the Java writer's (superset of graft's) ----

  private val listSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_data_files_count","type":"int","field-id":504},
      {"name":"existing_data_files_count","type":"int","field-id":505},
      {"name":"deleted_data_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},
      {"name":"partitions","type":["null",{"type":"array","items":
        {"type":"record","name":"r508","fields":[
          {"name":"contains_null","type":"boolean","field-id":509}]}}],
        "default":null,"field-id":507}
    ]}""".replace("\n", ""))

  private val entrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"column_sizes","type":["null",{"type":"array","logicalType":"map",
          "items":{"type":"record","name":"k117_v118","fields":[
            {"name":"key","type":"int","field-id":117},
            {"name":"value","type":"long","field-id":118}]}}],"default":null,"field-id":108},
        {"name":"value_counts","type":["null",{"type":"array","logicalType":"map",
          "items":{"type":"record","name":"k119_v120","fields":[
            {"name":"key","type":"int","field-id":119},
            {"name":"value","type":"long","field-id":120}]}}],"default":null,"field-id":109},
        {"name":"null_value_counts","type":["null",{"type":"array","logicalType":"map",
          "items":{"type":"record","name":"k121_v122","fields":[
            {"name":"key","type":"int","field-id":121},
            {"name":"value","type":"long","field-id":122}]}}],"default":null,"field-id":110},
        {"name":"lower_bounds","type":["null",{"type":"array","logicalType":"map",
          "items":{"type":"record","name":"k126_v127","fields":[
            {"name":"key","type":"int","field-id":126},
            {"name":"value","type":"bytes","field-id":127}]}}],"default":null,"field-id":125},
        {"name":"upper_bounds","type":["null",{"type":"array","logicalType":"map",
          "items":{"type":"record","name":"k129_v130","fields":[
            {"name":"key","type":"int","field-id":129},
            {"name":"value","type":"bytes","field-id":130}]}}],"default":null,"field-id":128},
        {"name":"split_offsets","type":["null",{"type":"array","items":"long"}],
          "default":null,"field-id":132},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
          "default":null,"field-id":135},
        {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}
      ]}}
    ]}""".replace("\n", ""))

  private def writeAvro(path: String, schema: Schema,
      meta: Map[String, String], recs: Seq[GenericRecord]): Long = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, f)
    recs.foreach(w.append)
    w.close()
    f.length()
  }

  private def leLong(v: Long): java.nio.ByteBuffer = {
    val b = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putLong(v); b.flip(); b
  }

  private def kv(schema: Schema, field: String,
      pairs: (Int, Any)*): java.util.List[GenericRecord] = {
    val items = schema.getField("data_file").schema()
      .getField(field).schema().getTypes.get(1).getElementType
    pairs.map { case (k, v) =>
      val r = new GenericData.Record(items)
      r.put("key", k); r.put("value", v); r: GenericRecord
    }.asJava
  }

  /** One data parquet written by a plain Spark job, renamed to a
    * foreign-looking name.
    */
  private def plantParquet(dir: String, name: String,
      rows: Seq[(Long, Double)]): java.io.File = {
    val stage = s"$dir/stage-$name"
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$dir/data/$name")
    dst.getParentFile.mkdirs()
    assert(part.renameTo(dst))
    dst
  }

  private def dataEntry(snapId: Long, uri: String, records: Long, bytes: Long,
      idMin: Long, idMax: Long): GenericRecord = {
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1) // ADDED
    e.put("snapshot_id", snapId)
    e.put("sequence_number", null) // real writers leave ADDED entries null
    e.put("file_sequence_number", null)
    val d = new GenericData.Record(entrySchema.getField("data_file").schema())
    d.put("content", 0)
    d.put("file_path", uri)
    d.put("file_format", "PARQUET")
    d.put("partition", new GenericData.Record(
      entrySchema.getField("data_file").schema().getField("partition").schema()))
    d.put("record_count", records)
    d.put("file_size_in_bytes", bytes)
    d.put("value_counts", kv(entrySchema, "value_counts", 1 -> records, 2 -> records))
    d.put("null_value_counts", kv(entrySchema, "null_value_counts", 1 -> 0L, 2 -> 0L))
    d.put("lower_bounds", kv(entrySchema, "lower_bounds", 1 -> leLong(idMin)))
    d.put("upper_bounds", kv(entrySchema, "upper_bounds", 1 -> leLong(idMax)))
    d.put("split_offsets", Seq(java.lang.Long.valueOf(4L)).asJava)
    d.put("sort_order_id", 0)
    e.put("data_file", d)
    e
  }

  private def listEntry(manifestUri: String, len: Long, content: Int,
      seq: Long, snapId: Long, rows: Long): GenericRecord = {
    val r = new GenericData.Record(listSchema)
    r.put("manifest_path", manifestUri)
    r.put("manifest_length", len)
    r.put("partition_spec_id", 0)
    r.put("content", content)
    r.put("sequence_number", seq)
    r.put("min_sequence_number", seq)
    r.put("added_snapshot_id", snapId)
    r.put("added_data_files_count", 1)
    r.put("existing_data_files_count", 0)
    r.put("deleted_data_files_count", 0)
    r.put("added_rows_count", rows)
    r.put("existing_rows_count", 0L)
    r.put("deleted_rows_count", 0L)
    r.put("partitions", null)
    r
  }

  /** Build the full foreign table; returns its root. */
  private def buildForeignTable(): String = {
    val root = Files.createTempDirectory("graft-ice-foreign").toFile.getAbsolutePath
    val f1 = plantParquet(root, "00000-0-foreign-a.parquet",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    val f2 = plantParquet(root, "00001-0-foreign-b.parquet",
      Seq((5L, 50.0), (6L, 60.0), (7L, 70.0), (8L, 80.0)))
    def uri(f: java.io.File) = "file:" + f.getAbsolutePath // Java writer spelling

    // snapshot 1 (append, seq 1): both data files
    val m1 = s"$root/metadata/m-data.avro"
    val m1Len = writeAvro(m1, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2",
        "content" -> "data"),
      Seq(dataEntry(101L, uri(f1), 4L, f1.length(), 1L, 4L),
        dataEntry(101L, uri(f2), 4L, f2.length(), 5L, 8L)))
    writeAvro(s"$root/metadata/snap-101.avro", listSchema, Map.empty,
      Seq(listEntry("file:" + m1, m1Len, content = 0, seq = 1L, 101L, 8L)))

    // position-delete parquet (spec shape: file_path, pos), URI spelling
    val delStage = s"$root/stage-del"
    Seq((uri(f1), 0L), (uri(f2), 1L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(delStage)
    val delPart = new java.io.File(delStage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val delFile = new java.io.File(s"$root/data/00002-0-deletes.parquet")
    assert(delPart.renameTo(delFile))

    // snapshot 2 (delete, seq 2): data manifest carried + delete manifest
    val m2 = s"$root/metadata/m-del.avro"
    val delEntry = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", 102L)
      e.put("sequence_number", null)
      e.put("file_sequence_number", null)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("content", 1) // POSITION_DELETES
      d.put("file_path", uri(delFile))
      d.put("file_format", "PARQUET")
      d.put("partition", new GenericData.Record(
        entrySchema.getField("data_file").schema().getField("partition").schema()))
      d.put("record_count", 2L)
      d.put("file_size_in_bytes", delFile.length())
      d.put("sort_order_id", null)
      e.put("data_file", d)
      e
    }
    val m2Len = writeAvro(m2, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2",
        "content" -> "deletes"),
      Seq(delEntry))
    writeAvro(s"$root/metadata/snap-102.avro", listSchema, Map.empty,
      Seq(listEntry("file:" + m2, m2Len, content = 1, seq = 2L, 102L, 0L),
        listEntry("file:" + m1, m1Len, content = 0, seq = 1L, 101L, 8L)))

    // snapshot 3 (a foreign maintenance rewrite, seq 3): the data
    // manifest is REWRITTEN carrying both files as EXISTING (status 0)
    // entries with their ORIGINAL data sequence stamped at entry level
    // — the spec's inheritance rule. A reader that wrongly inherited
    // the new manifest's list-level seq (3) would conclude the deletes
    // (seq 2) no longer apply and resurrect the deleted rows.
    val m3 = s"$root/metadata/m-rewrite.avro"
    def existingEntry(uri: String, bytes: Long, idMin: Long, idMax: Long): GenericRecord = {
      val e = dataEntry(101L, uri, 4L, bytes, idMin, idMax)
      e.put("status", 0) // EXISTING
      e.put("sequence_number", 1L)
      e.put("file_sequence_number", 1L)
      e
    }
    val m3Len = writeAvro(m3, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "2",
        "content" -> "data"),
      Seq(existingEntry(uri(f1), f1.length(), 1L, 4L),
        existingEntry(uri(f2), f2.length(), 5L, 8L)))
    writeAvro(s"$root/metadata/snap-103.avro", listSchema, Map.empty,
      Seq(listEntry("file:" + m3, m3Len, content = 0, seq = 3L, 103L, 0L),
        listEntry("file:" + m2, m2Len, content = 1, seq = 2L, 102L, 0L)))

    // v3.metadata.json: snapshots OUT OF ORDER, stale schemas[0], unknown
    // properties, v2 bookkeeping fields
    val metaJson =
      s"""{
        "format-version": 2,
        "table-uuid": "0f7cbd6e-0000-4000-8000-000000000042",
        "location": "file:$root",
        "last-sequence-number": 2,
        "last-updated-ms": 1700000002000,
        "last-column-id": 2,
        "current-schema-id": 1,
        "schemas": [
          {"type":"struct","schema-id":0,"fields":[
            {"id":1,"name":"id_old","required":true,"type":"long"}]},
          {"type":"struct","schema-id":1,"fields":[
            {"id":1,"name":"id","required":false,"type":"long"},
            {"id":2,"name":"v","required":false,"type":"double"}]}
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id":0,"fields":[]}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id":0,"fields":[]}],
        "properties": {"write.parquet.compression-codec":"zstd",
          "commit.retry.num-retries":"4",
          "some.engine.specific.knob":"true"},
        "current-snapshot-id": 102,
        "refs": {"main":{"snapshot-id":102,"type":"branch"}},
        "snapshots": [
          {"sequence-number":2,"snapshot-id":102,"parent-snapshot-id":101,
           "timestamp-ms":1700000002000,
           "summary":{"operation":"delete","deleted-position-delete-files":"0"},
           "manifest-list":"file:$root/metadata/snap-102.avro","schema-id":1},
          {"sequence-number":3,"snapshot-id":103,"parent-snapshot-id":102,
           "timestamp-ms":1700000003000,
           "summary":{"operation":"replace","rewritten-data-files":"2"},
           "manifest-list":"file:$root/metadata/snap-103.avro","schema-id":1},
          {"sequence-number":1,"snapshot-id":101,
           "timestamp-ms":1700000001000,
           "summary":{"operation":"append","spark.app.id":"foreign-app"},
           "manifest-list":"file:$root/metadata/snap-101.avro","schema-id":1}
        ],
        "statistics": [],
        "snapshot-log": [
          {"timestamp-ms":1700000001000,"snapshot-id":101},
          {"timestamp-ms":1700000002000,"snapshot-id":102}],
        "metadata-log": [
          {"timestamp-ms":1700000001000,
           "metadata-file":"file:$root/metadata/v2.metadata.json"}]
      }"""
    Files.write(java.nio.file.Paths.get(s"$root/metadata/v3.metadata.json"),
      metaJson.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$root/metadata/version-hint.text"),
      "3".getBytes("UTF-8"))
    root
  }

  private lazy val table = buildForeignTable()

  test("foreign v2 read: current schema resolved by id, deletes applied") {
    val got = IcebergInterop.read(spark, table)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"),
      "must resolve current-schema-id=1, not the stale schemas[0]")
    // pos 0 of file a (id 1) and pos 1 of file b (id 6) are deleted
    assert(got.as[(Long, Double)].collect().toSet ==
      Set((2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0), (7L, 70.0), (8L, 80.0)))
  }

  test("foreign v2 time travel: pre-delete snapshot sees all rows") {
    val got = IcebergInterop.read(spark, table, snapshotId = Some(101L))
    assert(got.count() == 8)
  }

  test("rewritten-manifest EXISTING entries keep their entry-level sequence: deletes still apply") {
    // snapshot 103 carries the data files as EXISTING entries (entry seq
    // 1) inside a seq-3 manifest; the seq-2 deletes must STILL apply —
    // inheriting the list-level seq would resurrect ids 1 and 6
    val got = IcebergInterop.read(spark, table, snapshotId = Some(103L))
    assert(got.as[(Long, Double)].collect().toSet ==
      Set((2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0), (7L, 70.0), (8L, 80.0)))
  }

  test("foreign v2 pruning composes with merge-on-read deletes") {
    // id <= 4 prunes file b on manifest bounds; the delete of id 1 must
    // still apply to the surviving file
    val pruned = IcebergInterop.liveFilesWhere(spark, table,
      Some(col("id") <= 4))
    assert(pruned.size == 1 && pruned.head.contains("foreign-a"),
      s"bounds must prune file b, got $pruned")
    val got = IcebergInterop.readWhere(spark, table, Some(col("id") <= 4))
    assert(got.as[(Long, Double)].collect().toSet ==
      Set((2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("liveFilesWhere never lists delete parquet as data") {
    val all = IcebergInterop.liveFilesWhere(spark, table, None)
    assert(all.size == 2 && all.forall(_.contains("foreign")),
      s"delete file must not appear in the data inventory: $all")
  }

  test("a graft append to the foreign table keeps the metadata fields it does not own") {
    val root = buildForeignTable()
    IcebergInterop.write(Seq((9L, 90.0)).toDF("id", "v"), root)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val meta = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/metadata/v4.metadata.json")), "UTF-8"))
    val log = (meta \ "metadata-log").extract[List[org.json4s.JValue]]
    assert(log.map(e => (e \ "metadata-file").extract[String]) ==
      List(s"file:$root/metadata/v2.metadata.json"), "metadata-log dropped")
    assert((meta \ "statistics") == org.json4s.JArray(Nil), "statistics dropped")
    val props = (meta \ "properties").extract[Map[String, String]]
    assert(props.get("some.engine.specific.knob").contains("true") &&
      props.get("write.parquet.compression-codec").contains("zstd"), props.toString)
    assert((meta \ "table-uuid").extract[String] == "0f7cbd6e-0000-4000-8000-000000000042")
    assert(IcebergInterop.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 5L, 7L, 8L, 9L))
  }

  test("foreign refs metadata: branch/tag spellings with retention fields resolve") {
    // real writers stamp refs with retention bookkeeping graft never
    // writes (min-snapshots-to-keep, max-snapshot-age-ms, max-ref-age-ms);
    // the reader must take the (snapshot-id, type) core and ignore the rest
    val root = Files.createTempDirectory("graft-ice-refs").toFile.getAbsolutePath
    Files.createDirectories(java.nio.file.Paths.get(s"$root/metadata"))
    val orig = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$table/metadata/v3.metadata.json")), "UTF-8")
    val needle = """"refs": {"main":{"snapshot-id":102,"type":"branch"}},"""
    assert(orig.contains(needle), "fixture drifted: refs line not found")
    val withRefs = orig.replace(needle,
      """"refs": {
        "main":{"snapshot-id":102,"type":"branch","min-snapshots-to-keep":5},
        "audit":{"snapshot-id":103,"type":"branch","max-snapshot-age-ms":86400000},
        "v1":{"snapshot-id":101,"type":"tag","max-ref-age-ms":604800000}},""")
    Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      withRefs.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$root/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val refs = IcebergInterop.refs(spark, root)
    assert(refs == Map("main" -> (102L, "branch"),
      "audit" -> (103L, "branch"), "v1" -> (101L, "tag")), refs.toString)
    // branch head reads resolve through the ref (103 carries the
    // rewritten manifests; the seq-2 deletes still apply)
    assert(IcebergInterop.readRef(spark, root, "audit")
      .as[(Long, Double)].collect().toSet ==
      Set((2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0), (7L, 70.0), (8L, 80.0)))
    // tag reads the pre-delete snapshot
    assert(IcebergInterop.readRef(spark, root, "v1").count() == 8)
    // and the datasource ref-by-name spelling sees the same table
    assert(spark.read.format("graft-iceberg").option("path", root)
      .option("ref", "v1").load().count() == 8)
    intercept[IllegalArgumentException] {
      IcebergInterop.readRef(spark, root, "nope")
    }
  }

  test("compact and convert refuse a table carrying position deletes") {
    val e1 = intercept[IllegalArgumentException](
      IcebergInterop.compact(spark, table))
    assert(e1.getMessage.contains("position-delete"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      FormatConvert.icebergToDelta(spark, table,
        Files.createTempDirectory("graft-ice-conv").toFile.getAbsolutePath + "/d"))
    assert(e2.getMessage.contains("position-delete"), e2.getMessage)
  }

  test("unknown format-version refuses loudly (v3 reads serve since r9; v4 refuses)") {
    val root = Files.createTempDirectory("graft-ice-v9").toFile.getAbsolutePath
    Files.createDirectories(java.nio.file.Paths.get(s"$root/metadata"))
    Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      """{"format-version":4,"current-snapshot-id":-1,"schemas":[
        {"type":"struct","schema-id":0,"fields":[]}],"snapshots":[]}"""
        .getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$root/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](IcebergInterop.read(spark, root))
    assert(e.getMessage.contains("format-version"), e.getMessage)
  }

  // ---- format-version 3 fixture: deletion vectors in puffin ----

  /** v3 manifest-entry schema: the v2 shape plus the DV pointer fields
    * (referenced_data_file 143, content_offset 144,
    * content_size_in_bytes 145).
    */
  private val entrySchemaV3 = new Schema.Parser().parse(
    entrySchema.toString(false).replace(
      """{"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}""",
      """{"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140},
        {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
        .replaceAll("\n\\s*", "")))

  private def buildV3Table(): String = {
    val root = Files.createTempDirectory("graft-ice-v3").toFile.getAbsolutePath
    val f1 = plantParquet(root, "00000-0-v3-a.parquet",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    val f2 = plantParquet(root, "00001-0-v3-b.parquet",
      Seq((5L, 50.0), (6L, 60.0), (7L, 70.0), (8L, 80.0)))
    def uri(f: java.io.File) = "file:" + f.getAbsolutePath

    val m1 = s"$root/metadata/m-v3-data.avro"
    val m1Len = writeAvro(m1, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "3",
        "content" -> "data"),
      Seq(dataEntry(301L, uri(f1), 4L, f1.length(), 1L, 4L),
        dataEntry(301L, uri(f2), 4L, f2.length(), 5L, 8L)))
    writeAvro(s"$root/metadata/snap-301.avro", listSchema, Map.empty,
      Seq(listEntry("file:" + m1, m1Len, content = 0, seq = 1L, 301L, 8L)))

    // ONE puffin file, TWO deletion-vector-v1 blobs: f1 loses pos 0
    // (id 1), f2 loses pos 1 (id 6). The reader never parses the
    // container — the manifest entry carries (offset, size) directly —
    // so the file is magic + blobs (+ trailing magic, structurally).
    val blob1 = IcebergDv.blobBytes(Array(0L))
    val blob2 = IcebergDv.blobBytes(Array(1L))
    val puffin = new java.io.File(s"$root/data/00002-0-deletes.puffin")
    puffin.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(puffin)
    try {
      out.write("PFA1".getBytes("US-ASCII"))
      out.write(blob1); out.write(blob2)
      out.write("PFA1".getBytes("US-ASCII"))
    } finally out.close()
    val off1 = 4L
    val off2 = 4L + blob1.length

    def dvEntry(refFile: java.io.File, off: Long, size: Long): GenericRecord = {
      val e = new GenericData.Record(entrySchemaV3)
      e.put("status", 1); e.put("snapshot_id", 302L)
      e.put("sequence_number", null); e.put("file_sequence_number", null)
      val d = new GenericData.Record(entrySchemaV3.getField("data_file").schema())
      d.put("content", 1) // POSITION_DELETES
      d.put("file_path", uri(puffin))
      d.put("file_format", "PUFFIN")
      d.put("partition", new GenericData.Record(
        entrySchemaV3.getField("data_file").schema().getField("partition").schema()))
      d.put("record_count", 1L)
      d.put("file_size_in_bytes", puffin.length())
      d.put("referenced_data_file", uri(refFile))
      d.put("content_offset", off)
      d.put("content_size_in_bytes", size)
      d.put("sort_order_id", null)
      e.put("data_file", d); e
    }
    val m2 = s"$root/metadata/m-v3-dv.avro"
    val m2Len = writeAvro(m2, entrySchemaV3,
      Map("schema" -> "{}", "partition-spec" -> "[]",
        "partition-spec-id" -> "0", "format-version" -> "3",
        "content" -> "deletes"),
      Seq(dvEntry(f1, off1, blob1.length.toLong),
        dvEntry(f2, off2, blob2.length.toLong)))
    writeAvro(s"$root/metadata/snap-302.avro", listSchema, Map.empty,
      Seq(listEntry("file:" + m2, m2Len, content = 1, seq = 2L, 302L, 0L),
        listEntry("file:" + m1, m1Len, content = 0, seq = 1L, 301L, 8L)))

    val metaJson =
      s"""{
        "format-version": 3,
        "table-uuid": "0f7cbd6e-0000-4000-8000-0000000000d3",
        "location": "file:$root",
        "last-sequence-number": 2,
        "last-updated-ms": 1700000002000,
        "last-column-id": 2,
        "next-row-id": 8,
        "current-schema-id": 0,
        "schemas": [
          {"type":"struct","schema-id":0,"fields":[
            {"id":1,"name":"id","required":false,"type":"long"},
            {"id":2,"name":"v","required":false,"type":"double"}]}
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id":0,"fields":[]}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id":0,"fields":[]}],
        "properties": {},
        "current-snapshot-id": 302,
        "snapshots": [
          {"sequence-number":1,"snapshot-id":301,"timestamp-ms":1700000001000,
           "first-row-id":0,
           "summary":{"operation":"append"},
           "manifest-list":"file:$root/metadata/snap-301.avro","schema-id":0},
          {"sequence-number":2,"snapshot-id":302,"parent-snapshot-id":301,
           "timestamp-ms":1700000002000,"first-row-id":8,
           "summary":{"operation":"delete"},
           "manifest-list":"file:$root/metadata/snap-302.avro","schema-id":0}
        ],
        "snapshot-log": [], "metadata-log": []
      }"""
    Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      metaJson.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$root/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    root
  }

  test("format-version 3: deletion vectors in puffin apply on read; travel unaffected") {
    val root = buildV3Table()
    val got = IcebergInterop.read(spark, root).as[(Long, Double)].collect().toSet
    assert(got == Set((2L, 20.0), (3L, 30.0), (4L, 40.0),
      (5L, 50.0), (7L, 70.0), (8L, 80.0)), got.toString)
    assert(IcebergInterop.read(spark, root, snapshotId = Some(301L)).count() == 8)
    // pruning composes with the DV merge-on-read
    val pruned = IcebergInterop.readWhere(spark, root, Some(col("id") <= 4))
      .as[(Long, Double)].collect().toSet
    assert(pruned == Set((2L, 20.0), (3L, 30.0), (4L, 40.0)), pruned.toString)
  }

  test("format-version 3: writes and maintenance refuse by name; corrupt DVs refuse") {
    val root = buildV3Table()
    val e = intercept[IllegalArgumentException](IcebergInterop.write(
      Seq((9L, 90.0)).toDF("id", "v"), root))
    assert(e.getMessage.contains("row lineage"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      IcebergInterop.expireSnapshots(spark, root, keepLast = 1))
    assert(e2.getMessage.contains("row lineage") ||
      e2.getMessage.contains("format-version"), e2.getMessage)
    // a truncated blob (bad CRC / length) refuses with the file named
    val puffin = new java.io.File(s"$root/data").listFiles()
      .find(_.getName.endsWith(".puffin")).get
    val bytes = Files.readAllBytes(puffin.toPath)
    bytes(8) = (bytes(8) ^ 0x7f).toByte // corrupt inside the first vector
    Files.write(puffin.toPath, bytes)
    val e3 = intercept[Exception](IcebergInterop.read(spark, root).collect())
    val msg = Option(e3.getMessage).getOrElse("") +
      Option(e3.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("CRC") || msg.contains("IcebergDv") ||
      msg.contains("roaring") || msg.contains("cookie"), s"$e3")
  }

  test("format-version 3: a v3 initial-default column refuses by name") {
    val root = buildV3Table()
    val metaPath = java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json")
    val orig = new String(Files.readAllBytes(metaPath), "UTF-8")
    val withDefault = orig.replace(
      """{"id":2,"name":"v","required":false,"type":"double"}""",
      """{"id":2,"name":"v","required":false,"type":"double",
        "initial-default":1.5,"write-default":1.5}""".replaceAll("\n\\s*", ""))
    assert(withDefault != orig, "fixture drifted")
    Files.write(metaPath, withDefault.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](IcebergInterop.read(spark, root))
    assert(e.getMessage.contains("initial-default"), e.getMessage)
  }

  test("deletion-vector-v1 blob bytes match the puffin spec exactly (not self-round-trip)") {
    // Hand-assembled per iceberg puffin-spec for positions {1, 3}:
    // u32 BE length 36 | magic D1 D3 39 64 | portable Roaring64
    // (1 bucket, high key 0, cookie 12346, 1 container, card 2,
    // offset 16, array [1, 3]) | u32 BE CRC-32 of (magic + vector).
    // These bytes were NOT produced by IcebergDv — they pin the codec
    // to the spec, so a magic/CRC drift fails here even though every
    // self-round-trip fixture would still pass.
    val specBlob: Array[Byte] = Array(
      0x00, 0x00, 0x00, 0x24, 0xD1, 0xD3, 0x39, 0x64,
      0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
      0x00, 0x00, 0x00, 0x00, 0x3A, 0x30, 0x00, 0x00,
      0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00,
      0x10, 0x00, 0x00, 0x00, 0x01, 0x00, 0x03, 0x00,
      0x68, 0x34, 0x97, 0xA9).map(_.toByte)
    assert(java.util.Arrays.equals(IcebergDv.blobBytes(Array(1L, 3L)), specBlob),
      "writer bytes drifted from the spec blob")
    val dir = Files.createTempDirectory("graft-dv-spec").toFile.getAbsolutePath
    val f = java.nio.file.Paths.get(s"$dir/spec.puffin")
    Files.write(f, "PFA1".getBytes("US-ASCII") ++ specBlob)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val got = IcebergDv.positions(fs, f.toString, offset = 4L,
      size = specBlob.length.toLong)
    assert(got.toSeq == Seq(1L, 3L), got.mkString(","))
  }

  /** Separate fixture: EQUALITY deletes (Flink CDC's delete shape) with
    * the strict-inequality sequence rule — a re-append of the same key
    * at a HIGHER sequence must survive the older delete.
    */
  private def buildEqualityTable(): String = {
    val root = Files.createTempDirectory("graft-ice-eq").toFile.getAbsolutePath
    val fA = plantParquet(root, "00000-0-eq-a.parquet",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    val fB = plantParquet(root, "00001-0-eq-b.parquet",
      Seq((2L, 222.0), (9L, 90.0)))
    def uri(f: java.io.File) = "file:" + f.getAbsolutePath
    // equality-delete parquet: rows of the equality column (id)
    val delStage = s"$root/stage-eqdel"
    Seq(Tuple1(2L), Tuple1(3L)).toDF("id")
      .coalesce(1).write.mode("overwrite").parquet(delStage)
    val delFile = new java.io.File(s"$root/data/00002-0-eqdeletes.parquet")
    assert(new java.io.File(delStage).listFiles()
      .find(_.getName.endsWith(".parquet")).get.renameTo(delFile))

    val mData1 = s"$root/metadata/meq-data1.avro"
    val mData1Len = writeAvro(mData1, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]", "partition-spec-id" -> "0",
        "format-version" -> "2", "content" -> "data"),
      Seq(dataEntry(201L, uri(fA), 4L, fA.length(), 1L, 4L)))
    val mEq = s"$root/metadata/meq-del.avro"
    val eqEntry = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 202L)
      e.put("sequence_number", null); e.put("file_sequence_number", null)
      val d = new GenericData.Record(entrySchema.getField("data_file").schema())
      d.put("content", 2) // EQUALITY_DELETES
      d.put("file_path", uri(delFile))
      d.put("file_format", "PARQUET")
      d.put("partition", new GenericData.Record(
        entrySchema.getField("data_file").schema().getField("partition").schema()))
      d.put("record_count", 2L)
      d.put("file_size_in_bytes", delFile.length())
      d.put("equality_ids", Seq(Integer.valueOf(1)).asJava)
      d.put("sort_order_id", null)
      e.put("data_file", d); e
    }
    val mEqLen = writeAvro(mEq, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]", "partition-spec-id" -> "0",
        "format-version" -> "2", "content" -> "deletes"), Seq(eqEntry))
    val mData2 = s"$root/metadata/meq-data2.avro"
    val mData2Len = writeAvro(mData2, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]", "partition-spec-id" -> "0",
        "format-version" -> "2", "content" -> "data"),
      Seq(dataEntry(203L, uri(fB), 2L, fB.length(), 2L, 9L)))
    writeAvro(s"$root/metadata/snap-203.avro", listSchema, Map.empty,
      Seq(listEntry("file:" + mData2, mData2Len, content = 0, seq = 3L, 203L, 2L),
        listEntry("file:" + mEq, mEqLen, content = 1, seq = 2L, 202L, 0L),
        listEntry("file:" + mData1, mData1Len, content = 0, seq = 1L, 201L, 4L)))
    val metaJson =
      s"""{
        "format-version": 2,
        "table-uuid": "0f7cbd6e-0000-4000-8000-0000000000eq",
        "location": "file:$root",
        "last-sequence-number": 3,
        "last-updated-ms": 1700000003000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
          {"type":"struct","schema-id":0,"fields":[
            {"id":1,"name":"id","required":false,"type":"long"},
            {"id":2,"name":"v","required":false,"type":"double"}]}
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id":0,"fields":[]}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id":0,"fields":[]}],
        "properties": {},
        "current-snapshot-id": 203,
        "snapshots": [
          {"sequence-number":3,"snapshot-id":203,
           "timestamp-ms":1700000003000,
           "summary":{"operation":"append"},
           "manifest-list":"file:$root/metadata/snap-203.avro","schema-id":0}
        ],
        "snapshot-log": [], "metadata-log": []
      }"""
    Files.write(java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      metaJson.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$root/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    root
  }

  test("foreign equality deletes: keyed rows drop, higher-sequence re-append survives") {
    val got = IcebergInterop.read(spark, buildEqualityTable())
      .as[(Long, Double)].collect().toSet
    // seq-1 file loses ids 2 and 3 (eq delete at seq 2, strict <);
    // the seq-3 file's id=2 row is ABOVE the delete and must survive
    assert(got == Set((1L, 10.0), (4L, 40.0), (2L, 222.0), (9L, 90.0)), got.toString)
  }

  test("unknown delete-file content kind refuses by value") {
    val root = buildEqualityTable()
    // rewrite the equality manifest with a bogus content kind
    val m = new java.io.File(root + "/metadata").listFiles()
      .find(_.getName == "meq-del.avro").get
    val recs = {
      val r = new org.apache.avro.file.DataFileReader[GenericRecord](
        m, new org.apache.avro.generic.GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    recs.foreach(_.get("data_file").asInstanceOf[GenericRecord].put("content", 7))
    writeAvro(m.getAbsolutePath, entrySchema,
      Map("schema" -> "{}", "partition-spec" -> "[]", "partition-spec-id" -> "0",
        "format-version" -> "2", "content" -> "deletes"), recs)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.read(spark, root).collect()
    }
    assert(e.getMessage.contains("unknown delete-file content kind 7"), e.getMessage)
  }
}
