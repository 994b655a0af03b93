package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sinks.{CommitKernel, IcebergInterop}

class IcebergInteropSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-iceberg-$tag").toFile.getAbsolutePath + "/t"

  private def sample = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
    .toDF("id", "cat", "v")

  test("round trip through metadata -> manifest list -> manifest -> parquet") {
    val path = tmp("rt")
    IcebergInterop.write(sample, path)
    val back = IcebergInterop.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "cat", "v"))
    assert(back.as[(Long, String, Double)].collect().toSet ==
      sample.as[(Long, String, Double)].collect().toSet)
  }

  test("metadata JSON carries v1 wire shapes: field-ids, name mapping, snapshot log") {
    val path = tmp("wire")
    val s1 = IcebergInterop.write(sample, path)
    implicit val fmts: Formats = DefaultFormats
    assert(scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim == "1")
    val meta = JsonMethods.parse(
      scala.io.Source.fromFile(s"$path/metadata/v1.metadata.json").mkString)
    assert((meta \ "format-version").extract[Int] == 1)
    assert((meta \ "current-snapshot-id").extract[Long] == s1)
    // schema fields carry sequential field-ids — the spec's core invariant
    val fields = (meta \ "schemas")(0) \ "fields"
    assert(fields.extract[List[JValue]].map(f => (f \ "id").extract[Int]) ==
      List(1, 2, 3))
    // name mapping present: lets REAL Iceberg readers resolve our
    // Spark-written parquet (no embedded field-ids) by column name
    val nm = JsonMethods.parse(
      (meta \ "properties" \ "schema.name-mapping.default").extract[String])
    assert(nm.extract[List[JValue]].map(f => (f \ "names")(0).extract[String]) ==
      List("id", "cat", "v"))
    val snap = (meta \ "snapshots")(0)
    assert((snap \ "summary" \ "operation").extract[String] == "append")
    val listPath = (snap \ "manifest-list").extract[String]
    assert(listPath.contains(s"snap-$s1-") && listPath.endsWith(".avro"))
    assert(new java.io.File(listPath).exists())
    assert(((meta \ "snapshot-log")(0) \ "snapshot-id").extract[Long] == s1)
  }

  test("append carries the prior manifest forward; both snapshots time-travel") {
    val path = tmp("tt")
    val s1 = IcebergInterop.write(sample, path)
    val s2 = IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path)
    assert(IcebergInterop.read(spark, path).count() == 4)
    assert(IcebergInterop.read(spark, path, Some(s1)).count() == 3)
    assert(IcebergInterop.read(spark, path, Some(s2)).count() == 4)
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(
      scala.io.Source.fromFile(s"$path/metadata/v2.metadata.json").mkString)
    val snaps = (meta \ "snapshots").extract[List[JValue]]
    assert(snaps.size == 2, "snapshot history accumulates")
    assert((snaps(1) \ "parent-snapshot-id").extract[Long] == s1,
      "snapshot lineage recorded")
  }

  test("overwrite starts a fresh file set; the old snapshot stays readable") {
    val path = tmp("ow")
    val s1 = IcebergInterop.write(sample, path)
    IcebergInterop.write(Seq((9L, "z", 90.0)).toDF("id", "cat", "v"),
      path, overwrite = true)
    assert(IcebergInterop.read(spark, path).as[(Long, String, Double)]
      .collect().toSet == Set((9L, "z", 90.0)))
    assert(IcebergInterop.read(spark, path, Some(s1)).count() == 3)
  }

  test("manifests are valid avro with the spec's counts and statuses") {
    val path = tmp("avro")
    IcebergInterop.write(sample.coalesce(1), path)
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(
      scala.io.Source.fromFile(s"$path/metadata/v1.metadata.json").mkString)
    val listPath = ((meta \ "snapshots")(0) \ "manifest-list").extract[String]
    val reader = new org.apache.avro.file.DataFileReader(
      new java.io.File(listPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    import scala.jdk.CollectionConverters._
    val manifests = reader.iterator().asScala.toList
    reader.close()
    assert(manifests.size == 1)
    val mPath = manifests.head.get("manifest_path").toString
    assert(manifests.head.get("manifest_length").asInstanceOf[Long] ==
      new java.io.File(mPath).length())
    val mr = new org.apache.avro.file.DataFileReader(
      new java.io.File(mPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val entries = mr.iterator().asScala.toList
    // embedded key-value metadata real readers look for
    assert(mr.getMetaString("format-version") == "1")
    assert(mr.getMetaString("partition-spec-id") == "0")
    assert(JsonMethods.parse(mr.getMetaString("schema")) \ "type" == JString("struct"))
    mr.close()
    assert(entries.size == 1, "coalesce(1) -> one data file")
    val e = entries.head
    assert(e.get("status").asInstanceOf[Int] == 1, "ADDED")
    val df = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(df.get("file_format").toString == "PARQUET")
    assert(df.get("record_count").asInstanceOf[Long] == 3L)
    assert(new java.io.File(df.get("file_path").toString).exists())
  }

  test("txn-stamped appends are exactly-once; properties carry forward") {
    val path = tmp("txn")
    IcebergInterop.write(sample, path, txn = Some(("app-1", 0L)))
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"),
      path, txn = Some(("app-1", 1L)))
    assert(IcebergInterop.read(spark, path).count() == 4)
    // replayed batch 1 → no-op (no new snapshot, no duplicate rows)
    val before = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"),
      path, txn = Some(("app-1", 1L)))
    assert(IcebergInterop.read(spark, path).count() == 4)
    assert(scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim == before, "replay must not advance the metadata version")
    // a different app's lineage still lands
    IcebergInterop.write(Seq((5L, "d", 50.0)).toDF("id", "cat", "v"),
      path, txn = Some(("app-2", 0L)))
    assert(IcebergInterop.read(spark, path).count() == 5)
  }

  test("append refuses schema drift; reads refuse non-tables loudly") {
    val path = tmp("guard")
    IcebergInterop.write(sample, path)
    intercept[IllegalArgumentException] {
      IcebergInterop.write(Seq((1L, 2L)).toDF("id", "other"), path)
    }
    intercept[IllegalArgumentException] {
      IcebergInterop.read(spark, tmp("empty"))
    }
  }

  test("manifest entries carry spec-shaped bounds and counts per field-id") {
    val path = tmp("bounds")
    val df = Seq(
      (1L, "alpha", Some(10.0)), (2L, "beta", None), (3L, "gamma", Some(30.0)))
      .toDF("id", "cat", "v").coalesce(1)
    IcebergInterop.write(df, path)
    // walk metadata -> manifest list -> manifest with a raw avro reader
    val metaDir = new java.io.File(s"$path/metadata")
    val manifest = metaDir.listFiles().find(_.getName.endsWith("-m0.avro")).get
    val reader = new org.apache.avro.file.DataFileReader[
      org.apache.avro.generic.GenericRecord](manifest,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val entries = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]()
    while (reader.hasNext) entries += reader.next()
    reader.close()
    assert(entries.size == 1)
    val d = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    def kv(field: String): Map[Int, Any] =
      d.get(field).asInstanceOf[java.util.List[_]].toArray.map { r =>
        val rec = r.asInstanceOf[org.apache.avro.generic.GenericRecord]
        rec.get("key").asInstanceOf[Int] -> rec.get("value")
      }.toMap
    // field-ids are 1-based by position: 1=id(long) 2=cat(string) 3=v(double)
    assert(kv("value_counts") == Map(1 -> 3L, 2 -> 3L, 3 -> 3L))
    assert(kv("null_value_counts") == Map(1 -> 0L, 2 -> 0L, 3 -> 1L))
    def le(b: Any): java.nio.ByteBuffer =
      b.asInstanceOf[java.nio.ByteBuffer].duplicate()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(le(kv("lower_bounds")(1)).getLong == 1L)
    assert(le(kv("upper_bounds")(1)).getLong == 3L)
    assert(le(kv("lower_bounds")(3)).getDouble == 10.0)
    assert(le(kv("upper_bounds")(3)).getDouble == 30.0)
    // string bounds are plain UTF-8 bytes
    val catLo = le(kv("lower_bounds")(2))
    val arr = new Array[Byte](catLo.remaining()); catLo.get(arr)
    assert(new String(arr, "UTF-8") == "alpha")
  }

  test("readWhere prunes data files on manifest bounds, results unchanged") {
    val path = tmp("skip")
    val df = ss.range(0, 1000)
      .withColumn("v", col("id").cast("double"))
      .withColumn("cat", concat(lit("c"), (col("id") % 7).cast("string")))
    IcebergInterop.write(df.repartitionByRange(8, col("id")), path)
    val total = IcebergInterop.liveFilesWhere(spark, path, None).size
    assert(total >= 8)
    val p1 = Some(col("id") >= 100L && col("id") < 150L)
    val kept = IcebergInterop.liveFilesWhere(spark, path, p1).size
    assert(kept < total, s"bounds pruning must drop files (kept $kept of $total)")
    assert(IcebergInterop.readWhere(spark, path, p1)
      .agg(count(lit(1)), sum("v")).as[(Long, Double)].head() ==
      ((50L, (100L until 150L).map(_.toDouble).sum)))
    // nothing matches → zero planned files, empty result, right schema
    val p2 = Some(col("id") > 10000L)
    assert(IcebergInterop.liveFilesWhere(spark, path, p2).isEmpty)
    val empty = IcebergInterop.readWhere(spark, path, p2)
    assert(empty.count() == 0L)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v", "cat"))
    // string bounds prune too
    val p3 = Some(col("cat") === "zzz")
    assert(IcebergInterop.liveFilesWhere(spark, path, p3).isEmpty)
  }

  test("identity-partitioned write: spec JSON, typed partition records, pruning") {
    val path = tmp("part")
    val df = Seq(
      (1L, "a", java.sql.Date.valueOf("2024-01-01"), 10.0),
      (2L, "a", java.sql.Date.valueOf("2024-01-02"), 20.0),
      (3L, "b", java.sql.Date.valueOf("2024-01-01"), 30.0),
      (4L, null.asInstanceOf[String], java.sql.Date.valueOf("2024-01-02"), 40.0))
      .toDF("id", "cat", "d", "v")
    IcebergInterop.write(df, path, partitionBy = Seq("cat", "d"))
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(
      scala.io.Source.fromFile(s"$path/metadata/v1.metadata.json").mkString)
    // the spec's partition fields: identity transforms, field-ids 1000+
    val specFields = ((meta \ "partition-specs")(0) \ "fields").extract[List[JValue]]
    assert(specFields.map(f => ((f \ "name").extract[String],
      (f \ "transform").extract[String], (f \ "field-id").extract[Int])) ==
      List(("cat", "identity", 1000), ("d", "identity", 1001)))
    assert(specFields.map(f => (f \ "source-id").extract[Int]) == List(2, 3))
    // round trip: identity source columns stay physically in data files
    assert(IcebergInterop.read(spark, path)
      .select("id", "cat", "v").as[(Long, Option[String], Double)]
      .collect().toSet ==
      Set((1L, Some("a"), 10.0), (2L, Some("a"), 20.0),
        (3L, Some("b"), 30.0), (4L, None, 40.0)))
    // partition pruning through the manifest partition records
    val total = IcebergInterop.liveFilesWhere(spark, path, None).size
    val onA = IcebergInterop.liveFilesWhere(spark, path, Some(col("cat") === "a"))
    assert(onA.size < total && onA.nonEmpty)
    val onDay = IcebergInterop.liveFilesWhere(spark, path,
      Some(col("d") === java.sql.Date.valueOf("2024-01-01")))
    assert(onDay.size < total && onDay.nonEmpty)
    // null partition value: IS NULL keeps only the null file, IS NOT NULL drops it
    val nullFiles = IcebergInterop.liveFilesWhere(spark, path, Some(col("cat").isNull))
    assert(nullFiles.size == 1)
    assert(!IcebergInterop.liveFilesWhere(spark, path, Some(col("cat").isNotNull))
      .exists(nullFiles.contains))
    assert(IcebergInterop.readWhere(spark, path, Some(col("cat").isNull))
      .select("id").as[Long].collect().toSeq == Seq(4L))
    // conjunction of both partition cols prunes to the single tuple's file
    assert(IcebergInterop.liveFilesWhere(spark, path,
      Some(col("cat") === "a" && col("d") === java.sql.Date.valueOf("2024-01-02")))
      .size == 1)
  }

  test("partitioned append must match the table's spec; values round-trip encoding") {
    val path = tmp("partspec")
    val df = Seq((1L, "x,y=z/w %7E~", 1.0), (2L, "plain", 2.0)).toDF("id", "cat", "v")
    IcebergInterop.write(df, path, partitionBy = Seq("cat"))
    // hostile partition value (separator, '=', '/', '%', '~') survives the
    // staging-token encoding into the manifest record and prunes exactly
    assert(IcebergInterop.read(spark, path)
      .as[(Long, String, Double)].collect().toSet ==
      df.as[(Long, String, Double)].collect().toSet)
    assert(IcebergInterop.liveFilesWhere(spark, path,
      Some(col("cat") === "x,y=z/w %7E~")).size == 1)
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.write(Seq((3L, "c", 3.0)).toDF("id", "cat", "v"), path)
    }
    assert(e.getMessage.contains("partition"))
    // overwrite may change the layout
    IcebergInterop.write(Seq((9L, "z", 9.0)).toDF("id", "cat", "v"), path,
      overwrite = true)
    assert(IcebergInterop.read(spark, path).as[(Long, String, Double)]
      .collect().toSeq == Seq((9L, "z", 9.0)))
  }

  test("compact bin-packs multi-file partitions into a replace snapshot") {
    val path = tmp("compact")
    // 3 appends into cat=a (3 files), 1 into cat=b
    for (i <- 1L to 3L)
      IcebergInterop.write(Seq((i, "a", i.toDouble)).toDF("id", "cat", "v"),
        path, partitionBy = Seq("cat"))
    IcebergInterop.write(Seq((9L, "b", 9.0)).toDF("id", "cat", "v"),
      path, partitionBy = Seq("cat"))
    val filesBefore = IcebergInterop.liveFilesWhere(spark, path, None)
    assert(filesBefore.size == 4)
    val bFiles = IcebergInterop.liveFilesWhere(spark, path,
      Some(col("cat") === "b")).toSet
    IcebergInterop.compact(spark, path)
    val filesAfter = IcebergInterop.liveFilesWhere(spark, path, None)
    assert(filesAfter.size == 2, s"a packs to 1, b untouched (${filesAfter.size})")
    assert(bFiles.subsetOf(filesAfter.toSet), "single-file partition kept verbatim")
    assert(IcebergInterop.read(spark, path).select("id", "v")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (2L, 2.0), (3L, 3.0), (9L, 9.0)), "rows unchanged")
    // partition pruning still works over the compacted manifest
    assert(IcebergInterop.liveFilesWhere(spark, path,
      Some(col("cat") === "a")).size == 1)
    // idempotent: nothing left to pack → same snapshot comes back
    val again = IcebergInterop.compact(spark, path)
    implicit val fmts: Formats = DefaultFormats
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim.toInt
    val meta = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v$hint.metadata.json").mkString)
    assert((meta \ "current-snapshot-id").extract[Long] == again)
    assert(((meta \ "snapshots").extract[List[JValue]].last \ "summary" \
      "operation").extract[String] == "replace")
  }

  test("expireSnapshots trims metadata and garbage-collects expired-only files") {
    val path = tmp("expire")
    for (i <- 1L to 4L)
      IcebergInterop.write(Seq((i, i.toDouble)).toDF("id", "v"), path)
    val before = new java.io.File(s"$path/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 4)
    // overwrite makes the 4 old data files unreachable from the newest snapshot
    IcebergInterop.write(Seq((99L, 99.0)).toDF("id", "v"), path, overwrite = true)
    val (expired, deleted) = IcebergInterop.expireSnapshots(spark, path, keepLast = 1)
    assert(expired == 4 && deleted == 4)
    assert(new java.io.File(s"$path/data").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(IcebergInterop.read(spark, path).select("id").as[Long]
      .collect().toSeq == Seq(99L), "current snapshot intact")
    implicit val fmts: Formats = DefaultFormats
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim.toInt
    val meta = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v$hint.metadata.json").mkString)
    assert((meta \ "snapshots").extract[List[JValue]].size == 1)
    // appends still reachable after expiry (append carries the kept manifest)
    IcebergInterop.write(Seq((100L, 100.0)).toDF("id", "v"), path)
    assert(IcebergInterop.read(spark, path).count() == 2)
    // a no-op expiry when everything fits the window
    assert(IcebergInterop.expireSnapshots(spark, path, keepLast = 5) == ((0, 0)))
  }

  test("deletePositions: merge-on-read delete, v2 upgrade, data bytes untouched") {
    val path = tmp("posdel")
    val six = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "a", 50.0), (6L, "b", 60.0)).toDF("id", "cat", "v")
    IcebergInterop.write(six, path)
    val v0Snap = IcebergInterop.read(spark, path) // force table exists
    val dataBytes = new java.io.File(path + "/data").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("delete-"))
      .map(f => f.getName -> f.length).toMap
    IcebergInterop.deletePositions(spark, path, col("id") % 2 === 0)
    val after = new java.io.File(path + "/data").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("delete-"))
      .map(f => f.getName -> f.length).toMap
    assert(after == dataBytes, "position delete must not rewrite data parquet")
    assert(new java.io.File(path + "/data").listFiles()
      .exists(_.getName.startsWith("delete-")), "delete parquet written")
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L))
    // metadata upgraded to format-version 2 with a sequence number
    val metaTxt = scala.io.Source.fromFile(
      new java.io.File(path + "/metadata").listFiles()
        .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
        .maxBy(_.getName.stripPrefix("v").stripSuffix(".metadata.json").toInt),
      "UTF-8").mkString
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(metaTxt)
    assert((meta \ "format-version").extract[Int] == 2)
    assert((meta \ "last-sequence-number").extract[Long] == 1L)
    // predicate read path agrees
    assert(IcebergInterop.readWhere(spark, path, Some(col("id") <= 3))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("deletePositions: sequence rule scopes the delete to pre-existing files") {
    val path = tmp("posdel-seq")
    IcebergInterop.write(Seq((1L, "x"), (2L, "x")).toDF("id", "s"), path)
    IcebergInterop.deletePositions(spark, path, col("id") === 2)
    // append a NEW row that would match the same predicate values: its
    // file's data sequence (2) is above the delete's (1), so the delete
    // must not touch it even though (file ordinal, pos) could collide
    IcebergInterop.write(Seq((2L, "y")).toDF("id", "s"), path)
    val got = IcebergInterop.read(spark, path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x"), (2L, "y")),
      "old id=2 deleted; appended id=2 survives (higher sequence)")
    // a second delete accumulates and hits the new file too
    IcebergInterop.deletePositions(spark, path, col("s") === "y")
    assert(IcebergInterop.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "x")))
  }

  test("deletePositions on an identity-partitioned table; maintenance refuses MOR") {
    val path = tmp("posdel-part")
    val six = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "a", 50.0), (6L, "b", 60.0)).toDF("id", "cat", "v")
    IcebergInterop.write(six, path, partitionBy = Seq("cat"))
    IcebergInterop.deletePositions(spark, path, col("cat") === "a" && col("id") > 1)
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 4L, 6L))
    // partition pruning on the predicate read path still works
    assert(IcebergInterop.readWhere(spark, path, Some(col("cat") === "a"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L))
    // compaction refuses rather than resurrecting soft-deleted rows
    val e = intercept[IllegalArgumentException] {
      IcebergInterop.compact(spark, path)
    }
    assert(e.getMessage.contains("position-delete"))
    // ...until collapseDeletes rewrites the live state clean — then
    // maintenance runs again and results are unchanged
    IcebergInterop.collapseDeletes(spark, path)
    IcebergInterop.compact(spark, path)
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 4L, 6L))
  }

  test("deleteEquality: keyed delete with NO data-file reads; re-insert survives") {
    val path = tmp("eqdel")
    val six = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "a", 50.0), (6L, "b", 60.0)).toDF("id", "cat", "v")
    IcebergInterop.write(six, path)
    IcebergInterop.deleteEquality(spark, path, Seq(2L, 4L, 99L).toDF("id"))
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L, 5L, 6L))
    // re-insert a deleted key at a higher sequence: the old delete
    // must not touch it (strict-< rule)
    IcebergInterop.write(Seq((2L, "z", 222.0)).toDF("id", "cat", "v"), path)
    assert(IcebergInterop.read(spark, path).as[(Long, String, Double)].collect().toSet
      .contains((2L, "z", 222.0)))
    // composes with a position delete on the same table
    IcebergInterop.deletePositions(spark, path, col("id") === 5)
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 6L))
    // unknown key column / type mismatch refuse loudly
    intercept[IllegalArgumentException] {
      IcebergInterop.deleteEquality(spark, path, Seq(1L).toDF("nope"))
    }
    intercept[IllegalArgumentException] {
      IcebergInterop.deleteEquality(spark, path, Seq("x").toDF("id"))
    }
  }

  test("compact zorderBy clusters files into tight boxes; manifest bounds prune") {
    val path = tmp("zorder")
    val r = new scala.util.Random(11)
    val rows = r.shuffle((0 until 4096).map(i => (i.toLong, i % 64, i / 64)))
    rows.grouped(1024).foreach { chunk =>
      IcebergInterop.write(chunk.toDF("id", "x", "y").repartition(4), path)
    }
    val q = col("x") < 8 && col("y") < 8
    IcebergInterop.compact(spark, path, zorderBy = Seq("x", "y"),
      filesPerPartition = 16)
    // the corner query reads the right rows through manifest-bound
    // pruning (liveFilesWhere is exercised by readWhere)
    assert(IcebergInterop.readWhere(spark, path, Some(q))
      .agg(count(lit(1)), sum(col("id")))
      .as[(Long, Long)].collect()(0) ==
      (64L, rows.filter(t => t._2 < 8 && t._3 < 8).map(_._1).sum))
    assert(IcebergInterop.read(spark, path).count() == 4096)
  }

  test("merge: one MOR snapshot (eq-delete + appends), data parquet untouched") {
    val path = tmp("merge")
    val rows = (0 until 100).map(i => (i.toLong, s"p${i / 25}", i * 1.0))
    IcebergInterop.write(rows.toDF("id", "cat", "v").repartition(col("cat")),
      path, partitionBy = Seq("cat"))
    val dataDir = new java.io.File(s"$path/data")
    def dataParquet() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(dataDir)
    }
    val before = dataParquet()
      .filterNot(_.getName.startsWith("eqdelete"))
      .map(f => f.getPath -> f.lastModified()).toMap
    val src = Seq((3L, 99.0, "U"), (7L, 0.0, "D"), (200L, 42.0, "I"),
      (11L, -1.0, "X")).toDF("id", "v", "op")
    IcebergInterop.merge(spark, path, src, on = Seq("id"), clauses = Seq(
      graft.sinks.VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
      graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")),
        Some(col("s.op") === "U")),
      graft.sinks.VersionedTable.NotMatchedInsert(
        values = Some(Map("id" -> col("s.id"), "cat" -> lit("pX"),
          "v" -> col("s.v"))),
        cond = Some(col("s.op") === "I"))))
    // no pre-existing data parquet rewritten or removed — MOR contract
    before.foreach { case (p, mtime) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.lastModified() == mtime, s"rewritten: $p")
    }
    val got = IcebergInterop.read(spark, path)
      .select("id", "cat", "v").as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 100) // -1 delete +1 insert
    assert(got(3L) == ("p0", 99.0)) // updated
    assert(!got.contains(7L)) // deleted
    assert(got(11L) == ("p0", 11.0)) // matched, no clause held: kept
    assert(got(200L) == ("pX", 42.0)) // inserted
    // sequence rule: a LATER append of a merge-deleted key survives
    IcebergInterop.write(Seq((7L, "p0", 7.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"))
    val again = IcebergInterop.read(spark, path)
    assert(again.filter(col("id") === 7L).count() == 1)
    assert(again.count() == 101)
  }

  test("merge: multiple source rows per key raise; unmatched-only merge appends") {
    val path = tmp("mergedup")
    IcebergInterop.write(sample, path)
    val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("id", "v")
    val e = intercept[Exception] {
      IcebergInterop.merge(spark, path, dup, on = Seq("id"), clauses = Seq(
        graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("multiple source rows")), msgs(e).mkString)
    // no matches + no insert clause: version-preserving no-op
    val cur = IcebergInterop.merge(spark, path,
      Seq((100L, 1.0)).toDF("id", "v"), on = Seq("id"),
      clauses = Seq(graft.sinks.VersionedTable.MatchedUpdate(
        Map("v" -> col("s.v")))))
    assert(IcebergInterop.read(spark, path).count() == 3)
    // insert-only merge on a v1 table stays a plain v1 append
    IcebergInterop.merge(spark, path,
      Seq((9L, "c", 90.0)).toDF("id", "cat", "v"), on = Seq("id"),
      clauses = Seq(graft.sinks.VersionedTable.NotMatchedInsert()))
    implicit val fmts: Formats = DefaultFormats
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim.toInt
    val meta = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v$hint.metadata.json").mkString)
    assert((meta \ "format-version").extract[Int] == 1,
      "insert-only merge must not upgrade the format version")
    assert(IcebergInterop.read(spark, path)
      .filter(col("id") === 9L).count() == 1)
    assert(cur != 0L)
  }

  test("merge with a txn token is exactly-once across replayed batches") {
    val path = tmp("mergetxn")
    IcebergInterop.write(sample, path)
    val src = Seq((1L, 99.0)).toDF("id", "v")
    val clauses = Seq(graft.sinks.VersionedTable.MatchedUpdate(
      Map("v" -> (col("t.v") + col("s.v")))))
    val s1 = IcebergInterop.merge(spark, path, src, on = Seq("id"),
      clauses = clauses, txn = Some(("app", 7L)))
    val s2 = IcebergInterop.merge(spark, path, src, on = Seq("id"),
      clauses = clauses, txn = Some(("app", 7L)))
    assert(s2 == s1, "replayed batch must return the same snapshot, commit nothing")
    def v1(): Double = IcebergInterop.read(spark, path)
      .filter(col("id") === 1L).select("v").as[Double].head()
    assert(v1() == 109.0)
    IcebergInterop.merge(spark, path, src, on = Seq("id"),
      clauses = clauses, txn = Some(("app", 8L)))
    assert(v1() == 208.0)
  }

  test("compact targetFileBytes splits a big partition across several files") {
    val path = tmp("binpack")
    val hot = (0 until 60000).map(i => (i.toLong, "hot", s"payload-$i-${"x" * 40}"))
    val cold = (0 until 10).map(i => (i.toLong, "cold", "small"))
    (hot ++ cold).grouped(20000).foreach { chunk =>
      IcebergInterop.write(chunk.toDF("id", "cat", "s").repartition(2), path,
        partitionBy = Seq("cat"))
    }
    // live file sizes from the manifests give the target
    val bytesBefore = new java.io.File(s"$path/data/cat=hot").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    IcebergInterop.compact(spark, path, zorderBy = Nil,
      targetFileBytes = Some(bytesBefore / 4))
    val hotFiles = new java.io.File(s"$path/data/cat=hot").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // old files still on disk until expire; newest-mtime group is the
    // compacted set — simply assert the READ plans >1 hot file and rows
    // are exact through the manifest chain
    assert(IcebergInterop.read(spark, path).count() == 60010)
    val snapFiles = IcebergInterop.readWhere(spark, path,
      Some(col("cat") === "hot"))
      .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
    assert(snapFiles > 1, s"hot partition must split ($snapFiles live files)")
    assert(hotFiles.nonEmpty)
  }

  test("removeOrphanFiles deletes only unreferenced debris; history stays readable") {
    val path = tmp("orphan")
    val s1 = IcebergInterop.write(sample, path)
    IcebergInterop.write(Seq((4L, "c", 44.0)).toDF("id", "cat", "v"), path)
    // plant crash debris: an unreferenced parquet in data/ and an
    // unreferenced avro in metadata/ (a failed commit's leftovers)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s"$path/data/orphan-debris.parquet",
        s"$path/metadata/orphan-debris.avro").foreach { p =>
      val out = fs.create(new org.apache.hadoop.fs.Path(p), false)
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    // a fresh orphan survives the grace period...
    assert(IcebergInterop.removeOrphanFiles(spark, path) == 0)
    // ...and dies without one
    assert(IcebergInterop.removeOrphanFiles(spark, path, olderThanMs = 0L) == 2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/data/orphan-debris.parquet")))
    // every retained metadata version keeps its files: latest AND the
    // first snapshot still read in full
    assert(IcebergInterop.read(spark, path).count() == 4)
    assert(IcebergInterop.read(spark, path, snapshotId = Some(s1)).count() == 3)
    // idempotent second run
    assert(IcebergInterop.removeOrphanFiles(spark, path, olderThanMs = 0L) == 0)
  }

  test("rollbackTo flips the current snapshot metadata-only; nothing deleted") {
    val path = tmp("rollback")
    val s1 = IcebergInterop.write(sample, path)
    val s2 = IcebergInterop.write(Seq((4L, "c", 44.0)).toDF("id", "cat", "v"), path)
    assert(IcebergInterop.read(spark, path).count() == 4)
    IcebergInterop.rollbackTo(spark, path, s1)
    // current is the rolled-back snapshot...
    assert(IcebergInterop.read(spark, path).as[(Long, String, Double)]
      .collect().toSet == sample.as[(Long, String, Double)].collect().toSet)
    // ...and the rolled-past snapshot is still retained + travelable
    assert(IcebergInterop.read(spark, path, snapshotId = Some(s2)).count() == 4)
    implicit val fmts: Formats = DefaultFormats
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim.toInt
    val meta = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v$hint.metadata.json").mkString)
    assert((meta \ "current-snapshot-id").extract[Long] == s1)
    // the snapshot-log records the rollback as its newest entry
    val log = (meta \ "snapshot-log").extract[List[JValue]]
    assert((log.last \ "snapshot-id").extract[Long] == s1)
    // unknown snapshot refuses loudly
    intercept[IllegalArgumentException] {
      IcebergInterop.rollbackTo(spark, path, 12345L)
    }
  }

  /** Reads the CURRENT snapshot's manifest list as (content, path) pairs. */
  private def currentManifests(path: String): List[(Int, String)] = {
    implicit val fmts: Formats = DefaultFormats
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim.toInt
    val meta = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v$hint.metadata.json").mkString)
    val curId = (meta \ "current-snapshot-id").extract[Long]
    val listPath = (meta \ "snapshots").extract[List[JValue]]
      .find(s => (s \ "snapshot-id").extract[Long] == curId)
      .map(s => (s \ "manifest-list").extract[String]).get
    val reader = new org.apache.avro.file.DataFileReader(
      new java.io.File(listPath),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    import scala.jdk.CollectionConverters._
    val out = reader.iterator().asScala.toList.map { r =>
      val c = Option(r.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
      (c, r.get("manifest_path").toString)
    }
    reader.close()
    out
  }

  test("rewriteManifests collapses data manifests; time travel + data untouched") {
    val path = tmp("rwm")
    val s1 = IcebergInterop.write(sample, path)
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path)
    IcebergInterop.write(Seq((5L, "d", 50.0)).toDF("id", "cat", "v"), path)
    assert(currentManifests(path).size == 3, "one manifest per append")
    val dataFiles = IcebergInterop.read(spark, path)
      .select(input_file_name()).distinct().as[String].collect().sorted.toSeq
    assert(IcebergInterop.rewriteManifests(spark, path) == 3)
    val after = currentManifests(path)
    assert(after.size == 1 && after.head._1 == 0, "ONE data manifest")
    // rows exact, and the very same parquet files back them (metadata-only)
    assert(IcebergInterop.read(spark, path).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(IcebergInterop.read(spark, path)
      .select(input_file_name()).distinct().as[String].collect().sorted.toSeq
      == dataFiles)
    // old snapshots' lists untouched — time travel still works
    assert(IcebergInterop.read(spark, path, Some(s1)).count() == 3)
    // idempotent: a single manifest has nothing to merge
    assert(IcebergInterop.rewriteManifests(spark, path) == 0)
  }

  test("metadata tables: snapshots/files/manifests/refs/history inspect the wire") {
    val path = tmp("inspect")
    val s1 = IcebergInterop.write(sample, path)
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path)
    IcebergInterop.createTag(spark, path, "v1.0", at = Some(s1))
    val snaps = IcebergInterop.metadataTable(spark, path, "snapshots")
    assert(snaps.count() == 2)
    assert(snaps.select("operation").as[String].collect().toSet == Set("append"))
    val files = IcebergInterop.metadataTable(spark, path, "files")
    assert(files.count() >= 2)
    assert(files.agg(sum(col("record_count"))).as[Long].head() == 4L)
    val manifests = IcebergInterop.metadataTable(spark, path, "manifests")
    assert(manifests.count() == 2, "append carries the prior manifest")
    assert(manifests.select("content").as[Int].collect().forall(_ == 0))
    val refs = IcebergInterop.metadataTable(spark, path, "refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.exists(_ == ("v1.0", "tag", s1)))
    assert(refs.exists(r => r._1 == "main" && r._2 == "branch"))
    val hist = IcebergInterop.metadataTable(spark, path, "history")
    assert(hist.count() == 2 &&
      hist.select("is_retained").as[Boolean].collect().forall(identity))
    // the datasource spelling
    val viaDs = spark.read.format("graft-iceberg").option("path", path)
      .option("metadataTable", "files").load()
    assert(viaDs.count() == files.count())
    intercept[IllegalArgumentException] {
      IcebergInterop.metadataTable(spark, path, "nope")
    }
  }

  test("mergeSchema: additive evolution, stable field-ids, old stats still prune") {
    val path = tmp("evolve")
    IcebergInterop.write(sample, path)
    // non-additive drift still refuses, mergeSchema or not
    intercept[IllegalArgumentException] {
      IcebergInterop.write(Seq((9L, 1.0)).toDF("id", "v"), path, mergeSchema = true)
    }
    intercept[IllegalArgumentException] { // required (non-nullable) new field
      IcebergInterop.write(
        Seq((9L, "c", 90.0, 1L)).toDF("id", "cat", "v", "extra")
          .withColumn("extra", col("extra") + 0), // still non-nullable
        path, mergeSchema = false)
    }
    // additive evolution: nullable column appended at the end
    val evolved = Seq((9L, "c", 90.0, Some("web")), (10L, "d", 100.0, None))
      .toDF("id", "cat", "v", "src")
    IcebergInterop.write(evolved, path, mergeSchema = true)
    val back = IcebergInterop.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "cat", "v", "src"))
    // pre-evolution rows read the new column as null
    assert(back.filter(col("id") === 1L).select("src").collect().head.isNullAt(0))
    assert(back.filter(col("id") === 9L).select("src").as[String].head() == "web")
    assert(back.count() == 5)
    // metadata: schemas list accumulated, current-schema-id points at v1,
    // existing field-ids stable (positional prefix)
    implicit val fmts: Formats = DefaultFormats
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text")
      .mkString.trim.toInt
    val meta = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v$hint.metadata.json").mkString)
    val schemas = (meta \ "schemas").extract[List[JValue]]
    assert(schemas.size == 2)
    assert((meta \ "current-schema-id").extract[Int] == 1)
    val ids = (schemas(1) \ "fields").extract[List[JValue]]
      .map(f => ((f \ "name").extract[String], (f \ "id").extract[Int]))
    assert(ids == List(("id", 1), ("cat", 2), ("v", 3), ("src", 4)))
    // stats pruning through PRE-evolution manifests stays valid: an id
    // predicate prunes to the old file set, and predicates on the new
    // column stay conservative but correct
    assert(IcebergInterop.readWhere(spark, path, Some(col("id") <= 2L))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(IcebergInterop.readWhere(spark, path, Some(col("src") === "web"))
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // a same-shape append AFTER evolution carries the schema list through
    IcebergInterop.write(Seq((11L, "e", 110.0, Some("api")))
      .toDF("id", "cat", "v", "src"), path)
    val meta2 = JsonMethods.parse(scala.io.Source.fromFile(
      s"$path/metadata/v${hint + 1}.metadata.json").mkString)
    assert((meta2 \ "schemas").extract[List[JValue]].size == 2)
    assert((meta2 \ "current-schema-id").extract[Int] == 1)
    assert(IcebergInterop.read(spark, path).count() == 6)
  }

  test("branches: write-audit-publish — main blind until fastForward") {
    val path = tmp("wap")
    IcebergInterop.write(sample, path)
    IcebergInterop.createBranch(spark, path, "audit")
    IcebergInterop.writeToBranch(
      Seq((4L, "c", 40.0), (5L, "d", 50.0)).toDF("id", "cat", "v"), path, "audit")
    // main / plain read: unchanged (the staged data is invisible)
    assert(IcebergInterop.read(spark, path).count() == 3)
    assert(IcebergInterop.readRef(spark, path, "main").count() == 3)
    // the branch sees base + staged
    assert(IcebergInterop.readRef(spark, path, "audit")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // second staged batch advances the branch only
    IcebergInterop.writeToBranch(
      Seq((6L, "d", 60.0)).toDF("id", "cat", "v"), path, "audit")
    assert(IcebergInterop.read(spark, path).count() == 3)
    // the datasource spelling reads the branch pre-publish
    assert(spark.read.format("graft-iceberg").option("path", path)
      .option("ref", "audit").load().count() == 6)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-iceberg").option("path", path)
        .option("ref", "nope").load().count()
    }
    // publish: atomic metadata-only fast-forward
    val published = IcebergInterop.fastForward(spark, path, "audit")
    assert(IcebergInterop.read(spark, path).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(IcebergInterop.refs(spark, path)("main")._1 == published)
    // idempotent republish
    assert(IcebergInterop.fastForward(spark, path, "audit") == published)
  }

  test("refs: tags immutable + expiry-proof; diverged fast-forward refuses") {
    val path = tmp("refs")
    IcebergInterop.write(sample, path)
    val s1 = IcebergInterop.refs(spark, path)("main")._1
    IcebergInterop.createTag(spark, path, "v1.0")
    IcebergInterop.createBranch(spark, path, "dev", at = Some(s1))
    // a tag is not writable
    intercept[IllegalArgumentException] {
      IcebergInterop.writeToBranch(sample, path, "v1.0")
    }
    // plain appends carry the refs map through untouched
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path)
    val r = IcebergInterop.refs(spark, path)
    assert(r("v1.0") == (s1, "tag") && r("dev") == (s1, "branch"))
    assert(r("main")._1 != s1, "main advanced with the append")
    // main moved past the branch point AND the branch moved: diverged
    IcebergInterop.writeToBranch(
      Seq((9L, "z", 90.0)).toDF("id", "cat", "v"), path, "dev")
    intercept[IllegalArgumentException] {
      IcebergInterop.fastForward(spark, path, "dev")
    }
    // expiry keeps the tagged snapshot alive and readable
    IcebergInterop.write(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"), path)
    IcebergInterop.expireSnapshots(spark, path, keepLast = 2)
    assert(IcebergInterop.readRef(spark, path, "v1.0").count() == 3)
    // dropRef then re-expire: the old snapshot may now go
    IcebergInterop.dropRef(spark, path, "v1.0")
    IcebergInterop.dropRef(spark, path, "dev")
    intercept[IllegalArgumentException] {
      IcebergInterop.readRef(spark, path, "v1.0")
    }
    assert(IcebergInterop.read(spark, path).count() == 5)
  }

  test("rewriteManifests on v2 carries delete manifests; sequence scoping holds") {
    val path = tmp("rwm2")
    IcebergInterop.write(Seq((1L, "x"), (2L, "x")).toDF("id", "s"), path)
    IcebergInterop.deleteEquality(spark, path, Seq(2L).toDF("id"))   // seq 2
    IcebergInterop.write(Seq((2L, "y")).toDF("id", "s"), path)       // seq 3
    assert(IcebergInterop.rewriteManifests(spark, path) == 2)
    val after = currentManifests(path)
    assert(after.count(_._1 == 0) == 1, "data manifests collapsed")
    assert(after.count(_._1 == 1) == 1, "delete manifest carried untouched")
    // the strict-< rule must still hold: old id=2 (seq 1) dead, new (seq 3) alive
    assert(IcebergInterop.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y")))
    // readWhere still prunes/reads correctly through the merged manifest
    assert(IcebergInterop.readWhere(spark, path, Some(col("id") === 2L))
      .as[(Long, String)].collect().toSet == Set((2L, "y")))
  }

  test("a stale version hint is moved past: reads see the newest version, the next append follows it") {
    val path = tmp("hint")
    IcebergInterop.write(sample, path)
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path)
    // a writer that crashed after publishing v2, before rewriting the hint
    val hint = java.nio.file.Paths.get(s"$path/metadata/version-hint.text")
    Files.write(hint, "1".getBytes("UTF-8"))
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
    IcebergInterop.write(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"), path)
    assert(new java.io.File(s"$path/metadata/v3.metadata.json").exists())
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "3")
    assert(IcebergInterop.read(spark, path).count() == 5)
  }

  test("an append racing a concurrent commit of the same metadata version loses loudly") {
    val path = tmp("race")
    IcebergInterop.write(sample, path)
    val v2 = java.nio.file.Paths.get(s"$path/metadata/v2.metadata.json")
    var winner: Array[Byte] = null
    // a concurrent append lands v2 after this writer chose that name
    CommitKernel.beforePublish = dst => if (dst.getName == "v2.metadata.json") {
      CommitKernel.beforePublish = _ => ()
      IcebergInterop.write(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"), path)
      winner = Files.readAllBytes(v2)
    }
    try intercept[java.util.ConcurrentModificationException](
      IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path))
    finally CommitKernel.beforePublish = _ => ()
    assert(winner != null && Files.readAllBytes(v2).sameElements(winner),
      "the winner's metadata stays byte-identical")
    assert(IcebergInterop.read(spark, path).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 5L))
  }

  /** The table's newest metadata document (the one the hint names). */
  private def latestMeta(path: String): JValue = {
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text").mkString.trim
    JsonMethods.parse(scala.io.Source.fromFile(s"$path/metadata/v$hint.metadata.json").mkString)
  }

  private def avroRecords(file: String)
      : (List[org.apache.avro.generic.GenericRecord], String => String) = {
    import scala.jdk.CollectionConverters._
    val r = new org.apache.avro.file.DataFileReader(new java.io.File(file),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try (r.iterator().asScala.toList, r.getMetaString _) finally r.close()
  }

  private def parquetFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getPath).filter(_.endsWith(".parquet"))
  }

  test("compact, rewriteManifests and writeToBranch stamp the current schema-id after evolution") {
    implicit val fmts: Formats = DefaultFormats
    val path = tmp("schema-id")
    IcebergInterop.write(sample, path)
    def rows(id: Long, src: Option[String]) =
      Seq((id, "a", id * 10.0, src)).toDF("id", "cat", "v", "src")
    IcebergInterop.write(rows(4L, Some("web")), path, mergeSchema = true)
    IcebergInterop.write(rows(5L, None), path)
    IcebergInterop.createBranch(spark, path, "audit")
    val branched = IcebergInterop.writeToBranch(rows(6L, Some("api")), path, "audit")
    assert(IcebergInterop.rewriteManifests(spark, path) == 3)
    val rewritten = (latestMeta(path) \ "current-snapshot-id").extract[Long]
    val compacted = IcebergInterop.compact(spark, path)
    assert(compacted != rewritten, "three files in one partition compact")
    val meta = latestMeta(path)
    val current = (meta \ "current-schema-id").extract[Int]
    assert(current == 1)
    val schemaIds = (meta \ "snapshots").extract[List[JValue]].map(s =>
      (s \ "snapshot-id").extract[Long] -> (s \ "schema-id").extract[Int]).toMap
    Seq("writeToBranch" -> branched, "rewriteManifests" -> rewritten,
        "compact" -> compacted).foreach { case (op, id) =>
      assert(schemaIds(id) == current, s"$op stamped schema-id ${schemaIds(id)}")
    }
    assert(IcebergInterop.read(spark, path).count() == 5)
    assert(IcebergInterop.readRef(spark, path, "audit").count() == 6)
  }

  test("every manifest-list record carries its manifest header's partition-spec-id") {
    implicit val fmts: Formats = DefaultFormats
    val path = tmp("spec-id")
    IcebergInterop.write(sample, path)
    IcebergInterop.write(sample, path, overwrite = true, partitionBy = Seq("cat"))
    IcebergInterop.write(Seq((4L, "c", 40.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"))
    def check(): Unit = {
      val meta = latestMeta(path)
      val cur = (meta \ "current-snapshot-id").extract[Long]
      val list = (meta \ "snapshots").extract[List[JValue]]
        .find(s => (s \ "snapshot-id").extract[Long] == cur).get
      val (records, _) = avroRecords((list \ "manifest-list").extract[String])
      assert(records.nonEmpty)
      records.foreach { r =>
        val (_, header) = avroRecords(r.get("manifest_path").toString)
        assert(r.get("partition_spec_id").toString == header("partition-spec-id"),
          s"${r.get("manifest_path")}: list ${r.get("partition_spec_id")}, " +
            s"header ${header("partition-spec-id")}")
        assert(header("partition-spec-id") == "1")
      }
    }
    check()
    IcebergInterop.deletePositions(spark, path, col("id") === 1L)
    check()
  }

  test("a format-version 3 table refuses every write before staging a file") {
    val path = tmp("v3-gate")
    IcebergInterop.write(sample, path, partitionBy = Seq("cat"))
    IcebergInterop.write(Seq((4L, "a", 40.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"))
    IcebergInterop.createBranch(spark, path, "audit")
    val hint = scala.io.Source.fromFile(s"$path/metadata/version-hint.text").mkString.trim
    val metaFile = java.nio.file.Paths.get(s"$path/metadata/v$hint.metadata.json")
    val doc = latestMeta(path).asInstanceOf[JObject]
    Files.write(metaFile, JsonMethods.compact(JsonMethods.render(JObject(doc.obj.map {
      case ("format-version", _) => "format-version" -> JInt(3)
      case other => other
    }))).getBytes("UTF-8"))
    val files = parquetFiles(s"$path/data").size
    val batch = Seq((5L, "b", 50.0)).toDF("id", "cat", "v")
    val ops: Seq[(String, () => Any)] = Seq(
      "write" -> (() => IcebergInterop.write(batch, path, partitionBy = Seq("cat"))),
      "merge" -> (() => IcebergInterop.merge(spark, path, batch, Seq("id"), Seq(
        graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
        graft.sinks.VersionedTable.NotMatchedInsert()))),
      "deletePositions" -> (() => IcebergInterop.deletePositions(spark, path, col("id") === 1L)),
      "compact" -> (() => IcebergInterop.compact(spark, path)),
      "writeToBranch" -> (() => IcebergInterop.writeToBranch(batch, path, "audit")))
    ops.foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("row lineage"), s"$op: ${e.getMessage}")
      assert(scala.io.Source.fromFile(s"$path/metadata/version-hint.text").mkString.trim == hint,
        s"$op published a metadata version")
      assert(!new java.io.File(s"$path/metadata/v${hint.toInt + 1}.metadata.json").exists(),
        s"$op published a metadata version")
      assert(parquetFiles(s"$path/data").size == files, s"$op staged parquet into data/")
    }
  }

  test("snapshot summaries count the data and delete files each commit adds") {
    val path = tmp("summary")
    IcebergInterop.write((1L to 6L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 10.0))
      .toDF("id", "cat", "v"), path, partitionBy = Seq("cat"))
    val src = Seq((2L, "a", 0.0, "U"), (3L, "b", 0.0, "D"), (5L, "b", 0.0, "U"),
      (7L, "b", 70.0, "I"), (8L, "a", 80.0, "I")).toDF("id", "cat", "v", "op")
    val merged = IcebergInterop.merge(spark, path, src, Seq("id"), Seq(
      graft.sinks.VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
      graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")), Some(col("s.op") === "U")),
      graft.sinks.VersionedTable.NotMatchedInsert(cond = Some(col("s.op") === "I"))))
    val deleted = IcebergInterop.deletePositions(spark, path, col("id") === 1L)
    val summaries = IcebergInterop.metadataTable(spark, path, "snapshots")
      .select("snapshot_id", "summary").as[(Long, Map[String, String])].collect().toMap
    // the files the merge's own manifests added, read back
    implicit val fmts: Formats = DefaultFormats
    val meta = latestMeta(path)
    def added(id: Long): Map[Int, Seq[(String, Long)]] = {
      val snap = (meta \ "snapshots").extract[List[JValue]]
        .find(s => (s \ "snapshot-id").extract[Long] == id).get
      avroRecords((snap \ "manifest-list").extract[String])._1
        .filter(_.get("added_snapshot_id") == id)
        .groupBy(r => Option(r.get("content")).fold(0)(_.asInstanceOf[Int]))
        .map { case (content, rs) => content -> rs.flatMap { r =>
          avroRecords(r.get("manifest_path").toString)._1.map { e =>
            val d = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
            d.get("file_path").toString -> d.get("file_size_in_bytes").asInstanceOf[Long]
          }
        } }
    }
    def rowsIn(files: Seq[(String, Long)]): Long =
      if (files.isEmpty) 0L else spark.read.parquet(files.map(_._1): _*).count()
    val m = added(merged)
    val (data, dels) = (m.getOrElse(0, Nil), m.getOrElse(1, Nil))
    assert(data.nonEmpty && dels.size == 1)
    assert(rowsIn(data) == 4L, "two updated rows and two inserts")
    assert(rowsIn(dels) == 3L, "the keys of two updates and one delete")
    val ms = summaries(merged)
    assert(ms("added-data-files") == data.size.toString)
    assert(ms("added-records") == rowsIn(data).toString)
    assert(ms("added-delete-files") == "1")
    assert(ms("added-equality-delete-files") == "1")
    assert(ms("added-equality-deletes") == rowsIn(dels).toString)
    assert(ms("added-files-size") == (data ++ dels).map(_._2).sum.toString)
    assert(!ms.contains("operation"), "operation is its own column")
    val pos = added(deleted).getOrElse(1, Nil)
    val ds = summaries(deleted)
    assert(ds("added-delete-files") == "1" && ds("added-position-delete-files") == "1")
    assert(ds("added-position-deletes") == rowsIn(pos).toString && rowsIn(pos) == 1L)
    assert(!ds.contains("added-data-files"))
  }

  test("equality deletes on a partitioned table commit under an unpartitioned spec") {
    implicit val fmts: Formats = DefaultFormats
    val path = tmp("eq-spec")
    IcebergInterop.write(sample, path, partitionBy = Seq("cat"))
    val default = (latestMeta(path) \ "default-spec-id").extract[Int]
    IcebergInterop.deleteEquality(spark, path, Seq(1L).toDF("id"))
    // a merge whose delete key lives in another partition than its new row
    IcebergInterop.merge(spark, path, Seq((3L, "a", 33.0)).toDF("id", "cat", "v"), Seq("id"),
      Seq(graft.sinks.VersionedTable.MatchedUpdate(Map("cat" -> col("s.cat"), "v" -> col("s.v")))))
    val meta = latestMeta(path)
    val specs = (meta \ "partition-specs").extract[List[JValue]]
    def fieldsOf(id: Int): List[JValue] = (specs.find(s => (s \ "spec-id").extract[Int] == id)
      .getOrElse(fail(s"spec $id not listed")) \ "fields").extract[List[JValue]]
    assert((meta \ "default-spec-id").extract[Int] == default)
    assert(fieldsOf(default).nonEmpty)
    assert(specs.count(s => (s \ "fields").extract[List[JValue]].isEmpty) == 1,
      "the unpartitioned spec is added once")
    val cur = (meta \ "current-snapshot-id").extract[Long]
    val snap = (meta \ "snapshots").extract[List[JValue]]
      .find(s => (s \ "snapshot-id").extract[Long] == cur).get
    val deletes = avroRecords((snap \ "manifest-list").extract[String])._1
      .filter(_.get("manifest_path").toString.endsWith("-d0.avro"))
    assert(deletes.size == 2)
    deletes.foreach { r =>
      val (_, header) = avroRecords(r.get("manifest_path").toString)
      assert(header("partition-spec") == "[]", header("partition-spec"))
      assert(r.get("partition_spec_id").toString == header("partition-spec-id"))
      assert(fieldsOf(header("partition-spec-id").toInt).isEmpty)
    }
    assert(IcebergInterop.read(spark, path).as[(Long, String, Double)].collect().toSet ==
      Set((2L, "a", 20.0), (3L, "a", 33.0)))
  }
}
