package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sinks.{CommitKernel, DeltaInterop}

class DeltaInteropSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-delta-$tag").toFile.getAbsolutePath + "/t"

  private def sample = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
    .toDF("id", "cat", "v")

  test("partitioned round trip: values, schema, column order exact") {
    val path = tmp("rt")
    val v = DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    assert(v == 0L)
    val back = DeltaInterop.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "cat", "v"))
    assert(back.as[(Long, String, Double)].collect().toSet ==
      sample.as[(Long, String, Double)].collect().toSet)
  }

  test("commit 0 carries spec-shaped protocol, metaData, and add actions") {
    val path = tmp("wire")
    DeltaInterop.write(sample.coalesce(1), path, partitionBy = Seq("cat"))
    val log = new java.io.File(s"$path/_delta_log/${"%020d".format(0L)}.json")
    assert(log.exists(), "commit file must use the 20-digit zero-padded name")
    val lines = scala.io.Source.fromFile(log, "UTF-8").getLines()
      .filter(_.nonEmpty).map(JsonMethods.parse(_)).toList
    implicit val fmts: Formats = DefaultFormats
    val protocol = lines.map(_ \ "protocol").find(_ != JNothing).get
    assert((protocol \ "minReaderVersion").extract[Int] == 1)
    assert((protocol \ "minWriterVersion").extract[Int] == 2)
    val meta = lines.map(_ \ "metaData").find(_ != JNothing).get
    assert((meta \ "format" \ "provider").extract[String] == "parquet")
    assert((meta \ "partitionColumns").extract[Seq[String]] == Seq("cat"))
    // schemaString is Spark's StructType JSON (what Delta itself uses)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson((meta \ "schemaString").extract[String])
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "cat", "v"))
    val adds = lines.map(_ \ "add").filter(_ != JNothing)
    assert(adds.size == 2, "one add per live partition file")
    adds.foreach { a =>
      // '=' stays literal in the RFC 2396 path encoding (how delta-spark
      // spells hive dirs); an URLEncoder-style %3D would still decode but
      // diverge from every real writer
      assert((a \ "path").extract[String].startsWith("cat="))
      assert((a \ "dataChange").extract[Boolean])
      assert((a \ "size").extract[Long] > 0)
      val pv = (a \ "partitionValues").extract[Map[String, String]]
      assert(Set("a", "b").contains(pv("cat")))
    }
  }

  test("append accumulates; overwrite replaces; both stay time-travelable") {
    val path = tmp("tt")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    DeltaInterop.write(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"))
    assert(DeltaInterop.read(spark, path).count() == 5)
    DeltaInterop.write(Seq((9L, "z", 90.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"), overwrite = true)
    assert(DeltaInterop.read(spark, path).as[(Long, String, Double)]
      .collect().toSet == Set((9L, "z", 90.0)))
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(0L)).count() == 4)
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(1L)).count() == 5)
  }

  test("append refuses a drifted schema or layout loudly") {
    val path = tmp("drift")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((1L, "a")).toDF("id", "cat"), path, Seq("cat"))
    }
    intercept[IllegalArgumentException] {
      DeltaInterop.write(sample, path, partitionBy = Nil)
    }
  }

  test("null partition values: hive default dir in, JSON null out, null back") {
    val path = tmp("null")
    val df = Seq((1L, Some("a"), 1.0), (2L, None, 2.0))
      .toDF("id", "cat", "v")
    DeltaInterop.write(df, path, partitionBy = Seq("cat"))
    val back = DeltaInterop.read(spark, path)
      .as[(Long, Option[String], Double)].collect().toSet
    assert(back == Set((1L, Some("a"), 1.0), (2L, None, 2.0)))
    implicit val fmts: Formats = DefaultFormats
    val lines = scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(0L)}.json", "UTF-8").getLines()
      .filter(_.nonEmpty).map(JsonMethods.parse(_)).toList
    val nullAdd = lines.map(_ \ "add").filter(_ != JNothing)
      .find(a => (a \ "path").extract[String].contains("__HIVE_DEFAULT_PARTITION__"))
    assert(nullAdd.isDefined, "null partition writes the hive default dir")
    assert((nullAdd.get \ "partitionValues" \ "cat") == JNull,
      "null partition value must serialize as JSON null, not a string")
  }

  test("checkpoint: replay resumes from the parquet checkpoint alone") {
    val path = tmp("ckpt")
    (0 to 11).foreach { i =>
      DeltaInterop.write(Seq((i.toLong, "a", i.toDouble)).toDF("id", "cat", "v"),
        path, partitionBy = Seq("cat"))
    }
    val ckpt = new java.io.File(
      s"$path/_delta_log/${"%020d".format(10L)}.checkpoint.parquet")
    assert(ckpt.exists(), "checkpoint parquet every 10 commits")
    assert(new java.io.File(s"$path/_delta_log/_last_checkpoint").exists())
    // delete every pre-checkpoint JSON: resolution must still work from
    // the checkpoint + the two later commits
    (0L to 9L).foreach { v =>
      assert(new java.io.File(
        s"$path/_delta_log/${"%020d".format(v)}.json").delete())
    }
    val back = DeltaInterop.read(spark, path)
    assert(back.count() == 12)
    assert(back.agg(sum("v")).as[Double].collect()(0) == (0 to 11).sum.toDouble)
  }

  test("checkpoint replay fails loudly at the named action bound") {
    val path = tmp("ckpt-bound")
    (0 to 10).foreach { i =>
      DeltaInterop.write(Seq((i.toLong, "a", i.toDouble)).toDF("id", "cat", "v"),
        path, partitionBy = Seq("cat"))
    }
    assert(new java.io.File(
      s"$path/_delta_log/${"%020d".format(10L)}.checkpoint.parquet").exists())
    spark.conf.set("graft.delta.maxCheckpointActions", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        DeltaInterop.read(spark, path).count()
      }
      assert(e.getMessage.contains("maxCheckpointActions"),
        s"error must name the knob: ${e.getMessage}")
    } finally spark.conf.unset("graft.delta.maxCheckpointActions")
    // default bound: same replay succeeds
    assert(DeltaInterop.read(spark, path).count() == 11)
  }

  test("streaming batches are exactly-once via the txn action") {
    val path = tmp("txn")
    val writer = DeltaInterop.streamBatchWriter(path, Seq("cat"), appId = "app-1")
    writer(sample, 0L)
    writer(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"), 1L)
    assert(DeltaInterop.read(spark, path).count() == 5)
    // recovery replays batch 1 → must be a no-op, not a duplicate append
    writer(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"), 1L)
    assert(DeltaInterop.read(spark, path).count() == 5)
    assert(DeltaInterop.latestVersion(spark, path) == 1L)
    // a different appId is a different lineage and must land
    DeltaInterop.streamBatchWriter(path, Seq("cat"), appId = "app-2")(
      Seq((6L, "c", 60.0)).toDF("id", "cat", "v"), 0L)
    assert(DeltaInterop.read(spark, path).count() == 6)
  }

  test("reads a foreign hand-written Delta log (reader is not writer-shaped)") {
    val path = tmp("foreign")
    // data file written as plain parquet, log written as raw text the
    // way another engine would emit it
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$path/raw")
    val part = new java.io.File(s"$path/raw").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$path/part-000.snappy.parquet")
    assert(part.renameTo(dst))
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType))).json
      .replace("\"", "\\\"")
    new java.io.File(s"$path/_delta_log").mkdirs()
    val log =
      s"""{"commitInfo":{"operation":"WRITE","engineInfo":"someOtherEngine/1.0"}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"abc-123","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}
         |{"add":{"path":"part-000.snappy.parquet","partitionValues":{},"size":${dst.length()},"modificationTime":1700000000000,"dataChange":true,"stats":"{\\"numRecords\\":2}"}}
         |""".stripMargin
    Files.write(java.nio.file.Paths.get(
      s"$path/_delta_log/${"%020d".format(0L)}.json"), log.getBytes("UTF-8"))
    val back = DeltaInterop.read(spark, path).as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 10.0), (2L, 20.0)))
  }

  test("foreign log with absolute-URI adds reads donor files outside the tree") {
    // the protocol's absolute-path form (CONVERT-style adoption): the
    // add references a file that does NOT live under the table root
    val donorDir = tmp("donor-data")
    Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v").coalesce(1).write.parquet(donorDir)
    val donor = new java.io.File(donorDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val path = tmp("abs-uri")
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType))).json.replace("\"", "\\\"")
    new java.io.File(s"$path/_delta_log").mkdirs()
    val log =
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"abs-1","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}
         |{"add":{"path":"file://${donor.getAbsolutePath}","partitionValues":{},"size":${donor.length()},"modificationTime":1700000000000,"dataChange":true}}
         |""".stripMargin
    Files.write(java.nio.file.Paths.get(
      s"$path/_delta_log/${"%020d".format(0L)}.json"), log.getBytes("UTF-8"))
    val back = DeltaInterop.read(spark, path).as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 1.5), (2L, 2.5)))
  }

  test("reader refuses tables whose features it does not implement") {
    val path = tmp("gate")
    new java.io.File(s"$path/_delta_log").mkdirs()
    val log =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","v2Checkpoint"]}}
        |{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[]}","partitionColumns":[],"configuration":{}}}
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(
      s"$path/_delta_log/${"%020d".format(0L)}.json"), log.getBytes("UTF-8"))
    // deletionVectors is implemented (r7) and passes the gate; the
    // unimplemented v2Checkpoint must still refuse by name
    val e = intercept[IllegalArgumentException](DeltaInterop.read(spark, path))
    assert(e.getMessage.contains("v2Checkpoint"), e.getMessage)
    assert(!e.getMessage.contains("deletionVectors"), e.getMessage)
    // name/id mapping now READS (r7); an unknown future mode refuses
    val path2 = tmp("gate2")
    new java.io.File(s"$path2/_delta_log").mkdirs()
    val log2 =
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
        |{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[]}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"someFutureMode"}}}
        |""".stripMargin
    Files.write(java.nio.file.Paths.get(
      s"$path2/_delta_log/${"%020d".format(0L)}.json"), log2.getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](DeltaInterop.read(spark, path2))
    assert(e2.getMessage.contains("someFutureMode"), e2.getMessage)
  }

  test("concurrent commit to the same version loses loudly, never clobbers") {
    val path = tmp("race")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    // a racer lands version 1 AFTER this writer resolved its target but
    // before it publishes — the deterministic interleaving the hook gives
    CommitKernel.beforePublish = _ =>
      Files.write(java.nio.file.Paths.get(
        s"$path/_delta_log/${"%020d".format(1L)}.json"),
        "{\"add\":{\"path\":\"x.parquet\",\"partitionValues\":{},\"size\":1,\"modificationTime\":1,\"dataChange\":true}}\n"
          .getBytes("UTF-8"))
    try intercept[java.util.ConcurrentModificationException] {
      DeltaInterop.write(Seq((7L, "a", 7.0)).toDF("id", "cat", "v"), path, Seq("cat"))
    } finally CommitKernel.beforePublish = _ => ()
    // the racer's commit survives untouched
    assert(scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(1L)}.json", "UTF-8")
      .mkString.contains("x.parquet"))
  }

  test("mergeSchema append: additive drift evolves the log schema, never types") {
    val path = tmp("evolve")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    // a new nullable column lands in the same commit as its data
    DeltaInterop.write(
      Seq((5L, "c", 50.0, "eu")).toDF("id", "cat", "v", "region"),
      path, partitionBy = Seq("cat"), mergeSchema = true)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.schema.fieldNames.toSeq == Seq("id", "cat", "v", "region"))
    val back = DeltaInterop.read(spark, path)
    assert(back.count() == 5)
    assert(back.filter(col("region").isNull).count() == 4,
      "pre-evolution files read the new column as null")
    assert(back.filter(col("region") === "eu").count() == 1)
    // a batch MISSING an existing column is also additive drift
    DeltaInterop.write(Seq((6L, "c", 6.0)).toDF("id", "cat", "v"),
      path, partitionBy = Seq("cat"), mergeSchema = true)
    val back2 = DeltaInterop.read(spark, path)
    assert(back2.count() == 6)
    assert(back2.filter(col("id") === 6L).select("region").head().isNullAt(0))
    // time travel keeps the pre-evolution schema
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(0L))
      .schema.fieldNames.toSeq == Seq("id", "cat", "v"))
    // a type change is never additive
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((7, "c", 7.0)).toDF("id", "cat", "v"),
        path, partitionBy = Seq("cat"), mergeSchema = true)
    }
    assert(e.getMessage.contains("type"), e.getMessage)
    // and without the flag, drift still refuses loudly
    intercept[IllegalArgumentException] {
      DeltaInterop.write(
        Seq((8L, "c", 8.0, "x", 1L)).toDF("id", "cat", "v", "region", "extra"),
        path, partitionBy = Seq("cat"))
    }
  }

  test("add.stats carries numRecords/min/max/nullCount in the stats JSON domain") {
    val path = tmp("stats")
    val df = Seq(
      (1L, "a", Some(10.0), java.sql.Date.valueOf("2024-01-05")),
      (2L, "a", None, java.sql.Date.valueOf("2024-02-10")),
      (3L, "b", Some(30.0), java.sql.Date.valueOf("2024-03-15")))
      .toDF("id", "cat", "v", "d")
    DeltaInterop.write(df.coalesce(1), path)
    implicit val fmts: Formats = DefaultFormats
    val adds = scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(0L)}.json", "UTF-8").getLines()
      .filter(_.nonEmpty).map(JsonMethods.parse(_)).map(_ \ "add")
      .filter(_ != JNothing).toList
    assert(adds.size == 1)
    val stats = JsonMethods.parse((adds.head \ "stats").extract[String])
    assert((stats \ "numRecords").extract[Long] == 3L)
    assert((stats \ "minValues" \ "id").extract[Long] == 1L)
    assert((stats \ "maxValues" \ "id").extract[Long] == 3L)
    assert((stats \ "minValues" \ "cat").extract[String] == "a")
    assert((stats \ "maxValues" \ "v").extract[Double] == 30.0)
    // dates serialize as yyyy-MM-dd strings (the stats JSON convention)
    assert((stats \ "minValues" \ "d").extract[String] == "2024-01-05")
    assert((stats \ "maxValues" \ "d").extract[String] == "2024-03-15")
    assert((stats \ "nullCount" \ "v").extract[Long] == 1L)
    assert((stats \ "nullCount" \ "id").extract[Long] == 0L)
  }

  test("readWhere skips files by stats and partitions, results unchanged") {
    val path = tmp("skip")
    // 8 appends of disjoint id ranges → disjoint per-file min/max ranges
    (0 until 8).foreach { i =>
      DeltaInterop.write(ss.range(i * 125L, (i + 1) * 125L)
        .withColumn("cat", when(col("id") % 2 === 0, "even").otherwise("odd"))
        .withColumn("v", col("id").cast("double")), path,
        partitionBy = Seq("cat"))
    }
    val snap = DeltaInterop.snapshot(spark, path)
    val total = snap.adds.size
    assert(total >= 8, s"expected >=8 files, got $total")

    // stats pruning on the data column: a tight id range hits few files
    val p1 = Some(col("id") >= 100L && col("id") < 150L)
    val kept1 = DeltaInterop.pruneAdds(spark, snap, p1)
    assert(kept1.size < total,
      s"stats pruning must drop files (kept ${kept1.size} of $total)")
    assert(DeltaInterop.readWhere(spark, path, p1).agg(
      count(lit(1)), sum("v")).as[(Long, Double)].head() ==
      ((50L, (100L until 150L).map(_.toDouble).sum)))

    // partition pruning: cat = 'even' keeps only even-partition files
    val p2 = Some(col("cat") === "even")
    val kept2 = DeltaInterop.pruneAdds(spark, snap, p2)
    assert(kept2.nonEmpty && kept2.size <= total / 2)
    assert(kept2.forall(_.partitionValues("cat").contains("even")))
    assert(DeltaInterop.readWhere(spark, path, p2).count() == 500L)

    // a predicate no file matches plans zero files but still answers
    val p3 = Some(col("id") > 10000L)
    assert(DeltaInterop.pruneAdds(spark, snap, p3).isEmpty)
    assert(DeltaInterop.readWhere(spark, path, p3).count() == 0L)

    // non-prunable shapes (function of a column) keep every file and
    // still filter rows correctly
    val p4 = Some(abs(col("v") - 999.0) < 0.5)
    assert(DeltaInterop.pruneAdds(spark, snap, p4).size == total)
    assert(DeltaInterop.readWhere(spark, path, p4).count() == 1L)
  }

  test("a foreign table without stats never prunes but stays correct") {
    val path = tmp("nostats")
    DeltaInterop.write(sample.repartitionByRange(2, col("id")), path)
    // strip the stats field from every add, as a stats-less writer would
    val log = java.nio.file.Paths.get(s"$path/_delta_log/${"%020d".format(0L)}.json")
    val rewritten = scala.io.Source.fromFile(log.toFile, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val j = JsonMethods.parse(line)
        JsonMethods.compact(JsonMethods.render(j.removeField {
          case ("stats", _) => true
          case _ => false
        }))
      }.mkString("", "\n", "\n")
    Files.write(log, rewritten.getBytes("UTF-8"))
    // drop the stale Hadoop checksum left from the original write
    new java.io.File(log.getParent.toFile,
      s".${log.getFileName}.crc").delete()
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.adds.forall(_.stats.isEmpty))
    val p = Some(col("id") === 1L)
    assert(DeltaInterop.pruneAdds(spark, snap, p).size == snap.adds.size,
      "no stats → no pruning")
    assert(DeltaInterop.readWhere(spark, path, p).count() == 1L)
  }

  test("checkpoint replay preserves add.stats for skipping") {
    val path = tmp("ckptstats")
    (0 until DeltaInterop.CheckpointEvery + 1).foreach { i =>
      DeltaInterop.write(
        Seq((i.toLong, s"c$i", i.toDouble)).toDF("id", "cat", "v")
          .coalesce(1), path)
    }
    assert(new java.io.File(s"$path/_delta_log").listFiles()
      .exists(_.getName.endsWith(".checkpoint.parquet")))
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.adds.forall(_.stats.nonEmpty),
      "stats must survive the parquet checkpoint round trip")
    val kept = DeltaInterop.pruneAdds(spark, snap, Some(col("id") === 3L))
    assert(kept.size == 1, s"checkpoint stats must still prune (kept ${kept.size})")
  }

  test("delete rewrites only stat-overlapping files; untouched adds stay verbatim") {
    val path = tmp("del")
    // 8 range-partitioned files over id 0..999 → a narrow id predicate
    // overlaps 1 file
    val df = ss.range(0, 1000).toDF("id")
      .withColumn("v", col("id").cast("double"))
      .repartitionByRange(8, col("id"))
    DeltaInterop.write(df, path)
    val before = DeltaInterop.snapshot(spark, path)
    assert(before.adds.size >= 8)
    val r = DeltaInterop.delete(spark, path, col("id") >= 100L && col("id") < 120L)
    assert(r.version == 1L)
    assert(r.rewrittenFiles == 1,
      s"narrow delete must rewrite exactly the overlapping file (got ${r.rewrittenFiles})")
    assert(r.untouchedFiles == before.adds.size - 1)
    val after = DeltaInterop.snapshot(spark, path)
    // untouched files keep their identical AddFile entries (same path, stats)
    val beforeByPath = before.adds.map(a => a.path -> a).toMap
    val untouched = after.adds.filter(a => beforeByPath.contains(a.path))
    assert(untouched.size == before.adds.size - 1)
    assert(untouched.forall(a => beforeByPath(a.path) == a))
    // rows: the 20 deleted ids are gone, everything else intact
    assert(DeltaInterop.read(spark, path).count() == 980L)
    assert(DeltaInterop.read(spark, path)
      .filter(col("id") >= 100L && col("id") < 120L).count() == 0L)
    // time travel still sees v0 complete
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(0L)).count() == 1000L)
  }

  test("delete: no-overlap predicate is a no-op commit-wise; full-partition drop adds nothing") {
    val path = tmp("del2")
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("id", "cat", "v")
    DeltaInterop.write(df, path, partitionBy = Seq("cat"))
    // predicate no file can match → version unchanged, no commit written
    val r0 = DeltaInterop.delete(spark, path, col("id") > 100L)
    assert(r0.version == 0L && r0.rewrittenFiles == 0)
    assert(DeltaInterop.latestVersion(spark, path) == 0L)
    // whole-partition delete: removes only, zero survivor files staged
    val r1 = DeltaInterop.delete(spark, path, col("cat") === "a")
    assert(r1.version == 1L && r1.rewrittenFiles >= 1)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.adds.forall(_.partitionValues.get("cat").flatten.contains("b")))
    assert(DeltaInterop.read(spark, path).select("id").as[Long]
      .collect().toSeq == Seq(3L))
    // NULL predicate rows survive (SQL DELETE semantics)
    val path2 = tmp("del3")
    DeltaInterop.write(
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
        .toDF("id", "v"), path2)
    DeltaInterop.delete(spark, path2, col("v") > 2.0)
    assert(DeltaInterop.read(spark, path2).select("id").as[Long]
      .collect().toSet == Set(1L, 2L))
  }

  test("update rewrites matching rows in place; partition-column update moves rows") {
    val path = tmp("upd")
    DeltaInterop.write(
      ss.range(0, 100).toDF("id").withColumn("v", col("id").cast("double"))
        .repartitionByRange(4, col("id")), path)
    val r = DeltaInterop.update(spark, path, col("id") < 10L,
      Map("v" -> (col("v") * 100)))
    assert(r.rewrittenFiles == 1, s"stats must bound the rewrite (${r.rewrittenFiles})")
    val got = DeltaInterop.read(spark, path)
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(got(5L) == 500.0 && got(50L) == 50.0)
    assert(got.size == 100)
    // update that MOVES rows across hive partitions
    val p2 = tmp("updpart")
    DeltaInterop.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "v"),
      p2, partitionBy = Seq("cat"))
    DeltaInterop.update(spark, p2, col("id") === 1L, Map("cat" -> lit("c")))
    val snap = DeltaInterop.snapshot(spark, p2)
    assert(snap.adds.exists(_.partitionValues.get("cat").flatten.contains("c")))
    assert(DeltaInterop.read(spark, p2).filter(col("cat") === "c")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // unknown SET column refuses
    intercept[IllegalArgumentException] {
      DeltaInterop.update(spark, p2, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("replaceWhere: one-commit predicate swap; constraint violations refuse") {
    val path = tmp("rw")
    DeltaInterop.write(
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)).toDF("id", "cat", "v"),
      path, partitionBy = Seq("cat"))
    // replace partition a's rows with a recomputed slice
    val v = DeltaInterop.replaceWhere(
      Seq((10L, "a", 10.0)).toDF("id", "cat", "v"), path, col("cat") === "a")
    assert(v == 1L)
    assert(DeltaInterop.read(spark, path).select("id").as[Long]
      .collect().toSet == Set(10L, 3L))
    // old version intact
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(0L)).count() == 3)
    // incoming rows outside the predicate refuse loudly, nothing committed
    intercept[IllegalArgumentException] {
      DeltaInterop.replaceWhere(
        Seq((11L, "b", 11.0)).toDF("id", "cat", "v"), path, col("cat") === "a")
    }
    assert(DeltaInterop.latestVersion(spark, path) == 1L)
    // predicate cutting THROUGH a file keeps that file's other rows
    val p2 = tmp("rw2")
    DeltaInterop.write(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
      .coalesce(1), p2)
    DeltaInterop.replaceWhere(Seq((9L, 9.0)).toDF("id", "v"), p2, col("id") >= 2L)
    assert(DeltaInterop.read(spark, p2).select("id").as[Long]
      .collect().toSet == Set(1L, 9L))
  }

  test("compact bin-packs multi-file partitions with dataChange=false; vacuum reclaims") {
    val path = tmp("opt")
    // 3 appends → 3 files in cat=a, 1 in cat=b
    Seq((1L, "a", 1.0)).toDF("id", "cat", "v")
      .write.format("graft-delta").option("path", path)
      .option("partitionBy", "cat").save()
    for (i <- 2L to 3L)
      DeltaInterop.write(Seq((i, "a", i.toDouble)).toDF("id", "cat", "v"),
        path, partitionBy = Seq("cat"))
    DeltaInterop.write(Seq((9L, "b", 9.0)).toDF("id", "cat", "v"),
      path, partitionBy = Seq("cat"))
    val before = DeltaInterop.snapshot(spark, path)
    assert(before.adds.count(_.partitionValues.get("cat").flatten.contains("a")) == 3)
    val bFile = before.adds.find(_.partitionValues.get("cat").flatten.contains("b")).get
    val r = DeltaInterop.compact(spark, path)
    assert(r.rewrittenFiles == 3 && r.untouchedFiles == 1)
    val after = DeltaInterop.snapshot(spark, path)
    assert(after.adds.count(_.partitionValues.get("cat").flatten.contains("a")) == 1,
      "cat=a packs to one file")
    assert(after.adds.contains(bFile), "single-file partition untouched verbatim")
    // maintenance commit: every action carries dataChange=false
    val commit = scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(r.version)}.json").mkString
    assert(!commit.contains("\"dataChange\":true"))
    assert(DeltaInterop.read(spark, path).select("id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 9L), "rows unchanged by compaction")
    // a second compact is a no-op
    assert(DeltaInterop.compact(spark, path).rewrittenFiles == 0)
    // vacuum with zero retention deletes exactly the 3 unreferenced files
    val dataFiles = (f: String) => {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles).toSeq.flatten.flatMap(x =>
          if (x.isDirectory) { if (x.getName == "_delta_log") Nil else walk(x) }
          else if (x.getName.endsWith(".parquet")) Seq(x) else Nil)
      walk(new java.io.File(f))
    }
    val nBefore = dataFiles(path).size
    assert(DeltaInterop.vacuum(spark, path, retentionMs = 0L) == 3)
    assert(dataFiles(path).size == nBefore - 3)
    assert(DeltaInterop.read(spark, path).count() == 4, "live data intact")
  }

  test("foreign column-mapped table: physical names resolve, stats prune, writes refuse") {
    val path = tmp("colmap")
    new java.io.File(s"$path/_delta_log").mkdirs()
    // data parquet carries PHYSICAL column names, hive-partitioned by
    // the physical partition column name
    val phys = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("col-aaaa1111", "col-bbbb2222")
    val dataDir = s"$path/pcol-cccc=x"
    phys.coalesce(1).write.parquet(dataDir)
    val part = new java.io.File(dataDir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    // schemaString: logical names with columnMapping metadata
    val schemaJson =
      """{"type":"struct","fields":[
        {"name":"id","type":"long","nullable":true,"metadata":
          {"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaaa1111"}},
        {"name":"v","type":"double","nullable":true,"metadata":
          {"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbbb2222"}},
        {"name":"cat","type":"string","nullable":true,"metadata":
          {"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"pcol-cccc"}}
      ]}""".replaceAll("\\s+", "")
    implicit val fmts: Formats = DefaultFormats
    val schemaStr = JsonMethods.compact(JsonMethods.render(JString(schemaJson)))
    // stats + partitionValues keyed by PHYSICAL names, as real writers do
    val log =
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"cm-1","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":["cat"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}
         |{"add":{"path":"pcol-cccc=x/${part.getName}","partitionValues":{"pcol-cccc":"x"},"size":${part.length},"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":3,\\"minValues\\":{\\"col-aaaa1111\\":1},\\"maxValues\\":{\\"col-aaaa1111\\":3},\\"nullCount\\":{\\"col-aaaa1111\\":0}}"}}
         |""".stripMargin
    Files.write(java.nio.file.Paths.get(
      s"$path/_delta_log/${"%020d".format(0L)}.json"), log.getBytes("UTF-8"))
    val back = DeltaInterop.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "cat"),
      "logical names must come back, not physical")
    assert(back.as[(Long, Double, String)].collect().toSet ==
      Set((1L, 10.0, "x"), (2L, 20.0, "x"), (3L, 30.0, "x")))
    // stats keyed by physical name still prune: a disjoint predicate
    // reads zero files
    assert(DeltaInterop.readWhere(spark, path, Some(col("id") > 100)).count() == 0)
    assert(DeltaInterop.readWhere(spark, path, Some(col("id") <= 2))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // writes refuse rather than emit logical-named parquet
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.delete(spark, path, col("id") === 1)
    }
    assert(e.getMessage.contains("column mapping"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((9L, 9.0, "y")).toDF("id", "v", "cat"), path)
    }
    assert(e2.getMessage.contains("column mapping"), e2.getMessage)
  }

  test("multi-part foreign checkpoint: replay resumes when JSONs are log-cleaned") {
    val path = tmp("ckpt-multi")
    (0 to 10).foreach { i =>
      DeltaInterop.write(Seq((i.toLong, "a", i.toDouble)).toDF("id", "cat", "v"),
        path, partitionBy = Seq("cat"))
    }
    val logDir = new java.io.File(s"$path/_delta_log")
    val single = new java.io.File(logDir,
      s"${"%020d".format(10L)}.checkpoint.parquet")
    assert(single.exists())
    // split the single-part checkpoint into a 2-part set, as a real
    // writer with checkpoint.partSize would have written it
    val rows = spark.read.parquet(single.getAbsolutePath)
    val half = rows.count() / 2
    def writePart(df: org.apache.spark.sql.DataFrame, part: Int): Unit = {
      val stage = s"$path/stage-ckpt-$part"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(f.renameTo(new java.io.File(logDir,
        s"${"%020d".format(10L)}.checkpoint.${"%010d".format(part)}.${"%010d".format(2)}.parquet")))
    }
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val numbered = rows.withColumn("__n", monotonically_increasing_id())
    writePart(numbered.filter(org.apache.spark.sql.functions.col("__n") < half).drop("__n"), 1)
    writePart(numbered.filter(org.apache.spark.sql.functions.col("__n") >= half).drop("__n"), 2)
    assert(single.delete())
    // log-clean everything the checkpoint covers
    (0L to 9L).foreach { v =>
      assert(new java.io.File(logDir, s"${"%020d".format(v)}.json").delete())
    }
    val back = DeltaInterop.read(spark, path)
    assert(back.count() == 11)
    assert(back.agg(sum("v")).as[Double].collect()(0) == (0 to 10).sum.toDouble)
    // an INCOMPLETE multi-part set must be ignored, not half-replayed:
    // with part 2 of 2 missing and no JSONs before v10, replay cannot
    // reach v10 and must fail loudly rather than return partial data
    assert(new java.io.File(logDir,
      s"${"%020d".format(10L)}.checkpoint.${"%010d".format(2)}.${"%010d".format(2)}.parquet").delete())
    intercept[Exception] { DeltaInterop.read(spark, path).count() }
  }

  test("compact ZORDER BY: files become tight boxes, range scans prune, rows exact") {
    val path = tmp("zorder")
    val r = new scala.util.Random(7)
    // rows land SHUFFLED so pre-compaction files span the full (x, y)
    // range and nothing prunes
    val rows = r.shuffle((0 until 4096).map(i => (i.toLong, i % 64, i / 64)))
    rows.grouped(1024).foreach { chunk =>
      DeltaInterop.write(chunk.toDF("id", "x", "y").repartition(4), path)
    }
    val before = DeltaInterop.snapshot(spark, path)
    val q = col("x") < 8 && col("y") < 8
    assert(DeltaInterop.pruneAdds(spark, before, Some(q)).size == before.adds.size,
      "shuffled landing: no file is prunable before the rewrite")
    val res = DeltaInterop.compact(spark, path, zorderBy = Seq("x", "y"),
      filesPerPartition = 16)
    assert(res.rewrittenFiles == before.adds.size)
    val after = DeltaInterop.snapshot(spark, path)
    // z-clustering makes the corner query prune most files
    val kept = DeltaInterop.pruneAdds(spark, after, Some(q))
    assert(kept.size < after.adds.size / 2,
      s"${kept.size} of ${after.adds.size} files kept — z-order should prune")
    // rows exact under the hash-style check
    assert(DeltaInterop.readWhere(spark, path, Some(q))
      .agg(count(lit(1)), sum(col("id"))).as[(Long, Long)].collect()(0) ==
      (64L, rows.filter(t => t._2 < 8 && t._3 < 8).map(_._1).sum))
    assert(DeltaInterop.read(spark, path).count() == 4096)
    // maintenance commit: dataChange=false everywhere (tails skip it)
    implicit val fmts: Formats = DefaultFormats
    val lines = scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(after.version)}.json", "UTF-8")
      .getLines().filter(_.nonEmpty).map(JsonMethods.parse(_)).toList
    lines.flatMap(l => Seq(l \ "add", l \ "remove")).filter(_ != JNothing)
      .foreach(a => assert(!(a \ "dataChange").extract[Boolean]))
  }

  test("compact targetFileBytes: a big partition splits instead of packing to one file") {
    val path = tmp("binpack")
    // one hot partition with real volume, one cold partition
    val hot = (0 until 60000).map(i => (i.toLong, "hot", s"payload-$i-${"x" * 40}"))
    val cold = (0 until 10).map(i => (i.toLong, "cold", "small"))
    (hot ++ cold).grouped(20000).foreach { chunk =>
      DeltaInterop.write(chunk.toDF("id", "cat", "s").repartition(2), path,
        partitionBy = Seq("cat"))
    }
    val before = DeltaInterop.snapshot(spark, path)
    val hotBytes = before.adds
      .filter(_.partitionValues.get("cat").flatten.contains("hot"))
      .map(_.size).sum
    val target = hotBytes / 4 // expect ~4 hot output files
    val res = DeltaInterop.compact(spark, path, zorderBy = Nil,
      targetFileBytes = Some(target))
    // the cold partition landed as ONE file (the writer's per-dir
    // shaping), so compaction rightly leaves it untouched
    val hotBefore = before.adds
      .count(_.partitionValues.get("cat").flatten.contains("hot"))
    assert(res.rewrittenFiles == hotBefore)
    val after = DeltaInterop.snapshot(spark, path)
    val hotFiles = after.adds
      .filter(_.partitionValues.get("cat").flatten.contains("hot"))
    val coldFiles = after.adds
      .filter(_.partitionValues.get("cat").flatten.contains("cold"))
    assert(hotFiles.size > 1, s"hot partition must split (${hotFiles.size})")
    assert(coldFiles.size == 1, s"cold partition packs to one (${coldFiles.size})")
    // no output file wildly overshoots the target
    assert(hotFiles.forall(_.size < target * 3),
      s"max hot file ${hotFiles.map(_.size).max} vs target $target")
    assert(DeltaInterop.read(spark, path).count() == 60010)
  }

  test("merge: clause-ordered update/delete/insert; only genuinely matched files rewrite") {
    val path = tmp("merge")
    val rows = (0 until 100).map(i => (i.toLong, s"p${i / 25}", i * 1.0))
    DeltaInterop.write(rows.toDF("id", "cat", "v").repartition(col("cat")),
      path, partitionBy = Seq("cat"))
    val before = DeltaInterop.snapshot(spark, path)
    assert(before.adds.size == 4)
    // keys 3/7/11 live in p0 only; 200 matches nothing (insert)
    val src = Seq((3L, 99.0, "U"), (7L, 0.0, "D"), (200L, 42.0, "I"),
      (11L, -1.0, "X")).toDF("id", "v", "op")
    val res = DeltaInterop.merge(spark, path, src, on = Seq("id"), clauses = Seq(
      graft.sinks.VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
      graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")),
        Some(col("s.op") === "U")),
      graft.sinks.VersionedTable.NotMatchedInsert(
        values = Some(Map("id" -> col("s.id"), "cat" -> lit("pX"),
          "v" -> col("s.v"))),
        cond = Some(col("s.op") === "I"))))
    // stats envelope [3,200] overlaps every file, but only p0 holds a
    // genuine match — the other three files carry over untouched
    assert(res.rewrittenFiles == 1, s"touched ${res.rewrittenFiles}")
    val after = DeltaInterop.snapshot(spark, path)
    val keptPaths = before.adds.filterNot(_.partitionValues
      .get("cat").flatten.contains("p0")).map(_.path).toSet
    assert(keptPaths.subsetOf(after.adds.map(_.path).toSet))
    val got = DeltaInterop.read(spark, path)
      .select("id", "cat", "v").as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 100) // -1 delete +1 insert
    assert(got(3L) == ("p0", 99.0)) // updated
    assert(!got.contains(7L)) // deleted
    assert(got(11L) == ("p0", 11.0)) // matched, no clause held: kept
    assert(got(200L) == ("pX", 42.0)) // inserted
  }

  test("merge: multiple source rows per target key fail in the plan") {
    val path = tmp("mergedup")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    val src = Seq((1L, 1.0), (1L, 2.0)).toDF("id", "v")
    val e = intercept[Exception] {
      DeltaInterop.merge(spark, path, src, on = Seq("id"), clauses = Seq(
        graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("multiple source rows")), msgs(e).mkString)
  }

  test("merge: no matches and no insert clause is a version-preserving no-op") {
    val path = tmp("mergenoop")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    val src = Seq((100L, 1.0)).toDF("id", "v")
    val res = DeltaInterop.merge(spark, path, src, on = Seq("id"), clauses = Seq(
      graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))))
    assert(res.version == 0L && res.rewrittenFiles == 0)
    assert(DeltaInterop.read(spark, path).count() == 4)
  }

  test("CHECK constraints: v3 protocol, existing-row validation, every DML enforces") {
    val path = tmp("constraints")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    // existing rows violate → refuse to add
    val e0 = intercept[IllegalArgumentException] {
      DeltaInterop.addCheckConstraint(spark, path, "vCap", "v < 20.0")
    }
    assert(e0.getMessage.contains("vCap"))
    DeltaInterop.addCheckConstraint(spark, path, "vPos", "v > 0.0")
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.protocol.minWriterVersion >= 3,
      "CHECK constraints oblige writer v3")
    assert(snap.metaData.configuration
      .get("delta.constraints.vpos").contains("v > 0.0"))
    // append of a violating batch refuses loudly, naming the constraint
    val e1 = intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((9L, "a", -1.0)).toDF("id", "cat", "v"), path,
        partitionBy = Seq("cat"))
    }
    assert(e1.getMessage.contains("vpos"), e1.getMessage)
    // UPDATE that would push a row out of bounds refuses too
    val e2 = intercept[IllegalArgumentException] {
      DeltaInterop.update(spark, path, col("id") === 1L,
        Map("v" -> lit(-5.0)))
    }
    assert(e2.getMessage.contains("vpos"))
    // a NULL result passes (SQL CHECK semantics): valid appends still land
    DeltaInterop.write(
      Seq((10L, "c", 5.0), (11L, "c", Double.NaN)).toDF("id", "cat", "v")
        .withColumn("v", when(col("id") === 11L, lit(null).cast("double"))
          .otherwise(col("v"))),
      path, partitionBy = Seq("cat"))
    assert(DeltaInterop.read(spark, path).count() == 6)
    // drop → the violating append becomes legal
    DeltaInterop.dropCheckConstraint(spark, path, "vPos")
    DeltaInterop.write(Seq((12L, "a", -1.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"))
    assert(DeltaInterop.read(spark, path).count() == 7)
  }

  test("history reads commitInfo; a foreign commit without one yields null op") {
    val path = tmp("history")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.delete(spark, path, col("id") === 1L)                  // v1
    // strip v1's commitInfo the way a minimal foreign writer would omit it
    val f = new java.io.File(s"$path/_delta_log/${"%020d".format(1L)}.json")
    val kept = scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.contains("\"commitInfo\"")).toList
    val w = new java.io.PrintWriter(f, "UTF-8")
    try kept.foreach(w.println) finally w.close()
    // drop the checksum sidecar the local Hadoop FS wrote for the old bytes
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    val h = DeltaInterop.history(spark, path).orderBy(col("version"))
      .collect().map(r => (r.getAs[Long]("version"),
        Option(r.getAs[String]("operation")), Option(r.getAs[String]("engineInfo"))))
    assert(h.length == 2)
    assert(h(0)._1 == 0L && h(0)._2.contains("WRITE"))
    assert(h(0)._3.exists(_.startsWith("graft/")))
    assert(h(1) == (1L, None, None), "commitInfo is optional; nulls, not a refusal")
    // the stripped log still replays (commitInfo is informational only)
    assert(DeltaInterop.read(spark, path).count() == 3)
  }

  test("metadata tables: detail and files inspect the wire") {
    val path = tmp("inspect")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    DeltaInterop.setTableProperties(spark, path, Map("graft.owner" -> "t"))
    val detail = DeltaInterop.metadataTable(spark, path, "detail").collect().head
    assert(detail.getAs[String]("partition_columns") == "cat")
    assert(detail.getAs[Long]("num_files") == 2L)
    assert(detail.getAs[Long]("size_in_bytes") ==
      DeltaInterop.liveBytes(spark, path))
    assert(detail.getAs[String]("properties").contains("graft.owner=t"))
    val files = DeltaInterop.metadataTable(spark, path, "files")
    assert(files.count() == 2)
    assert(files.select("partition").as[String].collect().toSet ==
      Set("cat=a", "cat=b"))
    assert(files.select("has_deletion_vector").as[Boolean].collect()
      .forall(!_))
    // datasource spelling
    assert(spark.read.format("graft-delta").option("path", path)
      .option("metadataTable", "files").load().count() == 2)
    intercept[IllegalArgumentException] {
      DeltaInterop.metadataTable(spark, path, "nope")
    }
  }

  test("shallow clone: metadata-only fork, clone DML never touches the donor") {
    val path = tmp("clonesrc")
    val clone = new java.io.File(new java.io.File(path).getParent, "clonedst").getAbsolutePath
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    DeltaInterop.addCheckConstraint(spark, path, "vPos", "v > 0.0")
    val donorFiles = new java.io.File(path).listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    DeltaInterop.shallowClone(spark, path, clone)
    // zero data under the clone root; adds are absolute donor URIs
    val snap = DeltaInterop.snapshot(spark, clone)
    assert(snap.adds.nonEmpty &&
      snap.adds.forall(_.path.matches("[A-Za-z][A-Za-z0-9+.-]*://.*")))
    assert(DeltaInterop.read(spark, clone).count() == 4)
    // the table id forked, the constraint carried (and still enforces)
    assert(snap.metaData.id != DeltaInterop.snapshot(spark, path).metaData.id)
    intercept[IllegalArgumentException] {
      DeltaInterop.write(Seq((9L, "a", -1.0)).toDF("id", "cat", "v"), clone,
        partitionBy = Seq("cat"))
    }
    // clone DML rewrites donor references into clone-local files
    DeltaInterop.update(spark, clone, col("id") === 1L, Map("v" -> lit(99.0)))
    assert(DeltaInterop.read(spark, clone).filter(col("id") === 1L)
      .select("v").as[Double].head() == 99.0)
    assert(DeltaInterop.read(spark, path).filter(col("id") === 1L)
      .select("v").as[Double].head() == 10.0, "donor rows unchanged")
    // donor bytes untouched; clone VACUUM cannot reach donor files
    DeltaInterop.vacuum(spark, clone, retentionMs = 0)
    donorFiles.foreach { case (f, mt) =>
      val cur = new java.io.File(f)
      assert(cur.exists() && cur.lastModified() == mt, s"donor file touched: $f")
    }
    assert(DeltaInterop.read(spark, path).count() == 4)
    // a DV-bearing source refuses loudly
    DeltaInterop.deleteDv(spark, path, col("id") === 2L)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.shallowClone(spark, path, clone + "2")
    }
    assert(e.getMessage.contains("deletion vectors"))
  }

  test("merge with a txn token is exactly-once: the replayed batch is a no-op") {
    val path = tmp("mergetxn")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    val src = Seq((1L, 99.0)).toDF("id", "v")
    val clauses = Seq(graft.sinks.VersionedTable.MatchedUpdate(
      Map("v" -> (col("t.v") + col("s.v")))))
    val first = DeltaInterop.merge(spark, path, src, on = Seq("id"),
      clauses = clauses, txn = Some(("app", 7L)))
    assert(first.version == 1L)
    // replay with the same (appId, batchId): nothing commits, v stays +99 once
    val replay = DeltaInterop.merge(spark, path, src, on = Seq("id"),
      clauses = clauses, txn = Some(("app", 7L)))
    assert(replay.version == 1L && replay.rewrittenFiles == 0)
    assert(DeltaInterop.read(spark, path).filter(col("id") === 1L)
      .select("v").as[Double].head() == 109.0)
    // a NEWER batch id applies
    DeltaInterop.merge(spark, path, src, on = Seq("id"),
      clauses = clauses, txn = Some(("app", 8L)))
    assert(DeltaInterop.read(spark, path).filter(col("id") === 1L)
      .select("v").as[Double].head() == 208.0)
  }

  test("merge on a CDF table writes pre/post-image, delete, and insert cdc rows") {
    val path = tmp("mergecdf")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    val src = Seq((1L, 99.0, "U"), (3L, 0.0, "D"), (9L, 5.0, "I"))
      .toDF("id", "v", "op")
    DeltaInterop.merge(spark, path, src, on = Seq("id"), clauses = Seq(
      graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")),
        Some(col("s.op") === "U")),
      graft.sinks.VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
      graft.sinks.VersionedTable.NotMatchedInsert(
        values = Some(Map("id" -> col("s.id"), "cat" -> lit("c"),
          "v" -> col("s.v"))),
        cond = Some(col("s.op") === "I"))))                             // v2
    val feed = DeltaInterop.readChangeFeed(spark, path, 1L, 2L)
      .select(col("_change_type"), col("id"), col("v"))
      .as[(String, Long, Double)].collect().toSet
    assert(feed == Set(
      ("update_preimage", 1L, 10.0), ("update_postimage", 1L, 99.0),
      ("delete", 3L, 30.0), ("insert", 9L, 5.0)))
  }

  test("CDF: property commit upgrades protocol; DML writes cdc actions + _change_data") {
    val path = tmp("cdf")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    implicit val fmts: Formats = DefaultFormats
    val v1 = scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(1L)}.json", "UTF-8")
      .getLines().filter(_.nonEmpty).map(JsonMethods.parse(_)).toList
    // legacy (1,2) table upgrades to writer version 4, Delta's CDF floor
    val proto = v1.map(_ \ "protocol").find(_ != JNothing).get
    assert((proto \ "minWriterVersion").extract[Int] == 4)
    val meta = v1.map(_ \ "metaData").find(_ != JNothing).get
    assert((meta \ "configuration" \ "delta.enableChangeDataFeed")
      .extract[String] == "true")
    DeltaInterop.delete(spark, path, col("id") === 2L)                  // v2
    val v2 = scala.io.Source.fromFile(
      s"$path/_delta_log/${"%020d".format(2L)}.json", "UTF-8")
      .getLines().filter(_.nonEmpty).map(JsonMethods.parse(_)).toList
    val cdcs = v2.map(_ \ "cdc").filter(_ != JNothing)
    assert(cdcs.nonEmpty, "a CDF-enabled DELETE must write cdc actions")
    cdcs.foreach { c =>
      assert((c \ "path").extract[String].startsWith("_change_data/"))
      assert(!(c \ "dataChange").extract[Boolean])
    }
    // cdc files are invisible to data reads
    assert(DeltaInterop.read(spark, path).count() == 3)
    // the feed classifies every commit: v0 appends synthesize inserts
    val feed = DeltaInterop.readChangeFeed(spark, path, -1L, 2L)
    val byType = feed.groupBy(col("_change_type")).count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 4L, "delete" -> 1L))
    assert(feed.filter(col("_change_type") === "delete")
      .select(col("id")).as[Long].collect().toSeq == Seq(2L))
    // _commit_version tags the originating commit
    assert(feed.filter(col("_change_type") === "delete")
      .select(col("_commit_version")).as[Long].collect().toSeq == Seq(2L))
  }

  test("CDF: update pre/postimages, DV-path changes, overwrite as delete+insert") {
    val path = tmp("cdf-upd")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    DeltaInterop.update(spark, path, col("id") === 3L,
      Map("v" -> lit(99.0)))                                            // v2
    DeltaInterop.deleteDv(spark, path, col("id") === 4L)                // v3 (soft)
    // a re-match of ONLY already-soft-deleted rows is a logical no-op:
    // no commit (a change-free commit would poison CDF synthesis)
    val r = DeltaInterop.deleteDv(spark, path, col("id") >= 4L)
    assert(r.version == 3L && r.rewrittenFiles == 0)
    assert(DeltaInterop.latestVersion(spark, path) == 3L)
    val feed = DeltaInterop.readChangeFeed(spark, path, 1L, 3L)
    val pre = feed.filter(col("_change_type") === "update_preimage")
      .select(col("id"), col("v")).as[(Long, Double)].collect().toSeq
    val post = feed.filter(col("_change_type") === "update_postimage")
      .select(col("id"), col("v")).as[(Long, Double)].collect().toSeq
    assert(pre == Seq((3L, 30.0)) && post == Seq((3L, 99.0)))
    val dels = feed.filter(col("_change_type") === "delete")
      .select(col("id"), col("_commit_version")).as[(Long, Long)].collect().toSeq
    assert(dels == Seq((4L, 3L)))
    // overwrite on a CDF table: old rows delete + new rows insert
    DeltaInterop.write(Seq((9L, "z", 1.0)).toDF("id", "cat", "v"), path,
      partitionBy = Seq("cat"), overwrite = true)                       // v4
    val ow = DeltaInterop.readChangeFeed(spark, path, 3L, 4L)
      .groupBy(col("_change_type")).count().as[(String, Long)].collect().toMap
    assert(ow == Map("delete" -> 3L, "insert" -> 1L))
  }

  test("DELETE matching only DV-deleted rows publishes nothing; the change feed still reads") {
    val path = tmp("dv-zero")
    DeltaInterop.write(sample.coalesce(1), path)                        // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    DeltaInterop.deleteDv(spark, path, col("id") === 2L)                // v2 (soft)
    // the file's stats still cover id 2, but no LIVE row matches: the
    // rewrite's survivors equal the file's live rows
    val r = DeltaInterop.delete(spark, path, col("id") === 2L)
    assert(r.version == 2L && r.rewrittenFiles == 0)
    assert(DeltaInterop.latestVersion(spark, path) == 2L)
    val feed = DeltaInterop.readChangeFeed(spark, path, 1L,
      DeltaInterop.latestVersion(spark, path))
    assert(feed.select(col("id"), col("_change_type")).as[(Long, String)]
      .collect().toSeq == Seq((2L, "delete")))
  }

  test("CDF: a MERGE whose matched rows fire no clause publishes nothing; the feed still reads") {
    val path = tmp("cdf-merge-keep")
    DeltaInterop.write(sample.coalesce(1), path)                        // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    // every source row matches, but the precombine-style condition is
    // false for all of them: the touched file's rows carry over as is
    val src = Seq((1L, 5.0), (3L, 7.0)).toDF("id", "v")
    val r = DeltaInterop.merge(spark, path, src, on = Seq("id"), clauses = Seq(
      graft.sinks.VersionedTable.MatchedUpdate(Map("v" -> col("s.v")),
        Some(col("s.v") > col("t.v")))))
    assert(r.version == 1L && r.rewrittenFiles == 0)
    assert(DeltaInterop.latestVersion(spark, path) == 1L)
    DeltaInterop.delete(spark, path, col("id") === 2L)                  // v2
    val feed = DeltaInterop.readChangeFeed(spark, path, 1L,
      DeltaInterop.latestVersion(spark, path))
    assert(feed.select(col("id"), col("_change_type")).as[(Long, String)]
      .collect().toSeq == Seq((2L, "delete")))
    assert(DeltaInterop.read(spark, path).as[(Long, String, Double)]
      .collect().toSet == Set((1L, "a", 10.0), (3L, "b", 30.0), (4L, "b", 40.0)))
  }

  test("CDF: a replaceWhere that matches and inserts no row publishes nothing") {
    val path = tmp("cdf-rw-none")
    DeltaInterop.write(sample.coalesce(1), path)                        // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    // the file's id stats cover 2.5, no row equals it
    val none = sample.filter(lit(false))
    assert(DeltaInterop.replaceWhere(none, path, col("id") === 2.5) == 1L)
    assert(DeltaInterop.latestVersion(spark, path) == 1L)
    assert(DeltaInterop.readChangeFeed(spark, path, -1L, 1L).count() == 4L)
  }

  test("CDF: a RESTORE that moves only fully soft-deleted files changes no row") {
    val path = tmp("cdf-restore-dv")
    DeltaInterop.write(Seq((1L, "a", 1.0)).toDF("id", "cat", "v"), path) // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    DeltaInterop.deleteDv(spark, path, col("id") === 1L)                // v2 {A+dv}
    DeltaInterop.write(Seq((2L, "a", 2.0)).toDF("id", "cat", "v"), path) // v3
    DeltaInterop.compact(spark, path)                                   // v4 {B}
    DeltaInterop.deleteDv(spark, path, col("id") === 2L)                // v5 {B+dv}
    // v2 and v5 share no file and neither holds a live row
    assert(DeltaInterop.restore(spark, path, 2L) == 6L)                 // v6
    assert(DeltaInterop.read(spark, path).count() == 0L)
    val feed = DeltaInterop.readChangeFeed(spark, path, 4L, 6L)
    assert(feed.select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSeq == Seq((2L, "delete", 5L)))
  }

  test("vacuum reclaims stage debris of a write that crashed mid-staging") {
    val path = tmp("stage-debris")
    DeltaInterop.write(sample, path)
    val root = new java.io.File(s"$path/_delta_log/.graft_stage")
    def debris(name: String, ageMs: Long): java.io.File = {
      val d = new java.io.File(root, name)
      d.mkdirs()
      val f = new java.io.File(d, "part-00000-dead.parquet")
      Files.write(f.toPath, Array[Byte](1, 2, 3))
      val t = System.currentTimeMillis() - ageMs
      f.setLastModified(t); d.setLastModified(t)
      d
    }
    val crashed = debris("crashed-uuid", 48L * 3600_000L)
    val active = debris("active-uuid", 0L)
    assert(DeltaInterop.vacuum(spark, path, retentionMs = 3600_000L) == 1)
    assert(!crashed.exists(), "stage debris older than retention must be swept")
    assert(active.exists(), "a young stage dir may belong to a live writer")
    assert(DeltaInterop.read(spark, path).count() == 4L)
  }

  test("CDF: a pre-enablement rewrite refuses; zero-match DML is a no-op commit-wise") {
    val path = tmp("cdf-refuse")
    // one multi-row file so the delete is a genuine REWRITE (remove +
    // survivor add); a remove-only commit would synthesize fine
    DeltaInterop.write(sample.coalesce(1), path)                        // v0
    DeltaInterop.delete(spark, path, col("id") === 1L)                  // v1, no cdc
    // the rewrite commit has adds+removes and no cdc — not synthesizable
    val e = intercept[Exception] {
      DeltaInterop.readChangeFeed(spark, path, -1L, 1L).count()
    }
    assert(e.getMessage.contains("cdc"))
    // a range that stops before the rewrite still reads
    assert(DeltaInterop.readChangeFeed(spark, path, -1L, 0L).count() == 4)
    // zero actual matches (stats overlap, no row): no commit published
    val before = DeltaInterop.latestVersion(spark, path)
    val r = DeltaInterop.delete(spark, path, col("id") === 2L && col("v") < 0.0)
    assert(r.version == before && r.rewrittenFiles == 0)
    assert(DeltaInterop.latestVersion(spark, path) == before)
  }

  test("delta_changes SQL table function serves the wire-format feed") {
    val path = tmp("cdf-tvf")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))
    DeltaInterop.delete(spark, path, col("id") === 2L)
    val got = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM delta_changes('$path', -1, 2) " +
        "GROUP BY _change_type ORDER BY _change_type")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("delete", 1L), ("insert", 4L)))
  }

  test("RESTORE: file set and metaData revert in one commit, history preserved") {
    val path = tmp("restore")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.delete(spark, path, col("cat") === "a")                // v1
    DeltaInterop.write(Seq((5L, "c", 50.0)).toDF("id", "cat", "v"),
      path, partitionBy = Seq("cat"))                                   // v2
    val rv = DeltaInterop.restore(spark, path, 0L)                      // v3
    assert(rv == 3L)
    // latest equals v0 exactly
    assert(DeltaInterop.read(spark, path).as[(Long, String, Double)]
      .collect().toSet == sample.as[(Long, String, Double)].collect().toSet)
    // restore is a commit, not a rewind: v2 still reads
    assert(DeltaInterop.read(spark, path, versionAsOf = Some(2L)).count() == 3)
    // restoring to the current version is a no-op
    assert(DeltaInterop.restore(spark, path, 3L) == 3L)
    assert(DeltaInterop.latestVersion(spark, path) == 3L)
  }

  test("RESTORE on a CDF table lands the diff as insert/delete changes") {
    val path = tmp("restore-cdf")
    DeltaInterop.write(sample, path, partitionBy = Seq("cat"))          // v0
    DeltaInterop.setTableProperties(spark, path,
      Map("delta.enableChangeDataFeed" -> "true"))                      // v1
    DeltaInterop.delete(spark, path, col("id") <= 2L)                   // v2
    DeltaInterop.restore(spark, path, 1L)                               // v3
    val feed = DeltaInterop.readChangeFeed(spark, path, 2L, 3L)
    val ins = feed.filter(col("_change_type") === "insert")
      .select(col("id")).as[Long].collect().toSet
    assert(ins == Set(1L, 2L), "restore must re-report the resurrected rows")
    assert(feed.filter(col("_change_type") === "delete").count() == 0)
  }
}
