package graft

import java.io.DataOutputStream
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sinks.{HudiInterop, HudiLogFormat, HudiMor}
import graft.sinks.HudiLogFormat.LogBlock

class HudiMorSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-mor-$tag").toFile.getAbsolutePath + "/t"

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sample = Seq(
    (1L, "a", 10.0, 100L), (2L, "a", 20.0, 100L),
    (3L, "b", 30.0, 100L), (4L, "b", 40.0, 100L))
    .toDF("id", "cat", "v", "ts")

  private def snap(path: String): Map[Long, Double] =
    HudiInterop.read(spark, path).select(col("id"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("log format: blocks round-trip framing, headers, content") {
    val path = tmp("codec")
    val f = fs(path)
    f.mkdirs(new Path(path))
    val p = new Path(s"$path/block.log")
    val b1 = LogBlock(HudiLogFormat.AvroDataBlock,
      Map(HudiLogFormat.InstantTime -> "20240101000000000",
        HudiLogFormat.SchemaKey -> """{"type":"record","name":"r","fields":[]}"""),
      Array[Byte](1, 2, 3), Map(HudiLogFormat.TargetInstantTime -> "x"))
    val b2 = LogBlock(HudiLogFormat.CommandBlock,
      Map(HudiLogFormat.TargetInstantTime -> "20240101000000000",
        HudiLogFormat.CommandBlockType -> "0"), Array.emptyByteArray)
    val out = new DataOutputStream(f.create(p, true))
    try { HudiLogFormat.writeBlock(out, b1); HudiLogFormat.writeBlock(out, b2) }
    finally out.close()
    val read = HudiLogFormat.readBlocks(f, p)
    assert(read.size == 2)
    assert(read(0).blockType == HudiLogFormat.AvroDataBlock)
    assert(read(0).header == b1.header && read(0).footer == b1.footer)
    assert(read(0).content.toSeq == Seq[Byte](1, 2, 3))
    assert(read(1).blockType == HudiLogFormat.CommandBlock)
    assert(read(1).header == b2.header)
    // truncated trailing block refuses loudly
    val raw = {
      val in = f.open(p); try {
        val all = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        in.readFully(all); all
      } finally in.close()
    }
    val p2 = new Path(s"$path/trunc.log")
    val o2 = f.create(p2, true); o2.write(raw.dropRight(7)); o2.close()
    val e = intercept[Exception](HudiLogFormat.readBlocks(f, p2))
    assert(e.getMessage.contains("trunc") || e.getMessage.contains("block length"),
      e.getMessage)
  }

  test("MOR upsert: base bootstrap + log blocks collapse latest-wins") {
    val path = tmp("upsert")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    // base slices exist, no logs yet
    val f = fs(path)
    assert(f.listStatus(new Path(s"$path/cat=a"))
      .exists(_.getPath.getName.endsWith(".parquet")))
    HudiMor.upsert(Seq((1L, "a", 99.0, 900L), (5L, "a", 50.0, 100L))
      .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    // the update landed as a hidden log file, not a base rewrite
    val logs = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.contains(".log."))
    assert(logs.length == 1, logs.mkString(","))
    assert(f.listStatus(new Path(s"$path/cat=a"))
      .count(_.getPath.getName.endsWith(".parquet")) == 1, "no base rewrite")
    assert(snap(path) == Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0, 5L -> 50.0))
    // later delta commit wins over earlier for the same key
    HudiMor.upsert(Seq((1L, "a", 7.0, 50L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(snap(path)(1L) == 7.0, "later block wins (OverwriteWithLatest)")
  }

  test("MOR delete blocks tombstone keys; later upsert resurrects") {
    val path = tmp("delete")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    HudiMor.delete(Seq((2L, "a"), (3L, "b")).toDF("id", "cat"),
      path, "id", Seq("cat"))
    assert(snap(path) == Map(1L -> 10.0, 4L -> 40.0))
    HudiMor.upsert(Seq((2L, "a", 22.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(snap(path) == Map(1L -> 10.0, 2L -> 22.0, 4L -> 40.0))
  }

  test("time travel: asOf an instant hides later blocks") {
    val path = tmp("asof")
    val i1 = HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    HudiMor.upsert(Seq((1L, "a", 99.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    val v1 = HudiMor.read(spark, path, asOf = Some(i1))
      .select(col("id"), col("v")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v1(1L) == 10.0)
    assert(snap(path)(1L) == 99.0)
  }

  test("rollback command block hides its target instant's records") {
    val path = tmp("rollback")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    val i2 = HudiMor.upsert(Seq((1L, "a", 99.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(snap(path)(1L) == 99.0)
    // append a rollback block targeting i2 into the SAME slice's next log
    val f = fs(path)
    val logName = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.contains(".log.")).head
    // .<fileId>_<base>.log.<v>_<token> -> bump version
    val parts = logName.split("\\.log\\.")
    val next = parts(0) + ".log." + (parts(1).split("_")(0).toInt + 1) + "_0-0-0"
    val out = new DataOutputStream(f.create(new Path(s"$path/cat=a/$next"), true))
    try HudiLogFormat.writeBlock(out, LogBlock(HudiLogFormat.CommandBlock,
      Map(HudiLogFormat.InstantTime -> i2,
        HudiLogFormat.TargetInstantTime -> i2,
        HudiLogFormat.CommandBlockType -> "0"), Array.emptyByteArray))
    finally out.close()
    assert(snap(path)(1L) == 10.0, "rolled-back block must not surface")
  }

  test("compaction: new base slices under a .commit, results unchanged") {
    val path = tmp("compact")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    HudiMor.upsert(Seq((1L, "a", 99.0, 900L), (5L, "b", 50.0, 100L))
      .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    HudiMor.delete(Seq((4L, "b")).toDF("id", "cat"), path, "id", Seq("cat"))
    val before = snap(path)
    val ci = HudiMor.compact(spark, path, Seq("cat"))
    assert(snap(path) == before, "compaction must be invisible to results")
    val f = fs(path)
    assert(f.exists(new Path(s"$path/.hoodie/$ci.commit")),
      "compaction completes a .commit instant")
    // compaction preserved per-record commit times (incremental contract):
    // carried rows keep their original instant, so nothing re-emits
    val commitTimes = HudiInterop.read(spark, path)
      .select(col("_hoodie_commit_time")).distinct().collect().map(_.getString(0))
    assert(!commitTimes.contains(ci), "no record may carry the compaction instant")
  }

  test("COW write/clean refuse MOR; MOR writers refuse COW; round trip matches oracle") {
    val morPath = tmp("refusals")
    HudiMor.upsert(sample, morPath, "id", "ts", Seq("cat"))
    val e1 = intercept[IllegalArgumentException](
      HudiInterop.upsert(sample, morPath, "id", "ts", Seq("cat")))
    assert(e1.getMessage.contains("MERGE_ON_READ"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      HudiInterop.clean(spark, morPath, retainCommits = 1))
    assert(e2.getMessage.contains("MERGE_ON_READ"), e2.getMessage)
    val cowPath = tmp("cow")
    HudiInterop.insert(sample, cowPath, "id", "ts", Seq("cat"))
    val e3 = intercept[IllegalArgumentException](
      HudiMor.upsert(sample, cowPath, "id", "ts", Seq("cat")))
    assert(e3.getMessage.contains("COPY_ON_WRITE"), e3.getMessage)
    // the registered driver query against its own oracle algebra
    val dir = "/root/testdata/sf0.001"
    val got = HudiMor.hudiMorRoundTrip(spark, dir).collect()
    val orders = graft.sources.Tables.orders(spark, dir)
    val expect = orders
      .filter(!(col("o_orderkey") % 7 === 0))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows")).orderBy(col("o_orderstatus"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(expect(r.getString(0)) == r.getLong(1),
      s"row counts must match the merge algebra: $r"))
  }

  test("foreign shapes: kryo delete blocks and hfile blocks refuse; log-only groups serve") {
    val path = tmp("foreign")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    val f = fs(path)
    val base = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
    val Array(fileId, _, instantExt) = base.split("_")
    val baseInstant = instantExt.stripSuffix(".parquet")
    // a realistic foreign writer spelling: 38-char fileId form is
    // covered by the COW fixtures; here exercise token + version parse
    def appendBlock(name: String, b: LogBlock): Unit = {
      val out = new DataOutputStream(f.create(new Path(s"$path/cat=a/$name"), true))
      try HudiLogFormat.writeBlock(out, b) finally out.close()
    }
    // kryo (content v2) delete block → named refusal
    val kryoContent = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      d.writeInt(2); d.writeInt(4); d.write(Array[Byte](9, 9, 9, 9)); d.flush()
      bos.toByteArray
    }
    appendBlock(s".${fileId}_$baseInstant.log.1_1-0-1",
      LogBlock(HudiLogFormat.DeleteBlock,
        Map(HudiLogFormat.InstantTime -> baseInstant), kryoContent))
    val e = intercept[Exception](snap(path))
    assert(e.getMessage != null && e.getMessage.contains("Kryo"),
      s"${e.getMessage}")
    f.delete(new Path(s"$path/cat=a/.${fileId}_$baseInstant.log.1_1-0-1"), false)
    // hfile data block → named refusal
    appendBlock(s".${fileId}_$baseInstant.log.1_0-0-0",
      LogBlock(4, Map(HudiLogFormat.InstantTime -> baseInstant), Array[Byte](1)))
    val e2 = intercept[Exception](snap(path))
    assert(e2.getMessage != null && e2.getMessage.contains("block type 4"),
      s"${e2.getMessage}")
    f.delete(new Path(s"$path/cat=a/.${fileId}_$baseInstant.log.1_0-0-0"), false)
    // a log-only group whose blocks carry NO visible instant (crash
    // debris / an unbound command block) contributes nothing — and no
    // longer refuses the whole read (r8 held refusal; r9 serves)
    val ghost = java.util.UUID.randomUUID().toString
    appendBlock(s".${ghost}_$baseInstant.log.1_0-0-0",
      LogBlock(HudiLogFormat.CommandBlock,
        Map(HudiLogFormat.TargetInstantTime -> "x"), Array.emptyByteArray))
    assert(snap(path) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0),
      "command-only ghost group must be ignored, not refused")
    // a log-only group with a VISIBLE avro block (bucket-index insert
    // shape: committed delta commit, no base slice ever) SERVES its rows
    val schemaJson = {
      def f(n: String, t: String) =
        s"""{"name":"$n","type":["null","$t"],"default":null}"""
      Seq(f("_hoodie_commit_time", "string"), f("_hoodie_commit_seqno", "string"),
        f("_hoodie_record_key", "string"), f("_hoodie_partition_path", "string"),
        f("_hoodie_file_name", "string"), f("id", "long"), f("cat", "string"),
        f("v", "double"), f("ts", "long"))
        .mkString("""{"type":"record","name":"graft_hudi_record","namespace":"graft","fields":[""",
          ",", "]}")
    }
    val avro = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val visibleInstant = baseInstant // completed bootstrap instant
    val rec = new org.apache.avro.generic.GenericData.Record(avro)
    rec.put("_hoodie_commit_time", visibleInstant)
    rec.put("_hoodie_commit_seqno", s"${visibleInstant}_0_777")
    rec.put("_hoodie_record_key", "42")
    rec.put("_hoodie_partition_path", "cat=a")
    rec.put("_hoodie_file_name", s".${ghost}_$baseInstant.log.2_0-0-0")
    rec.put("id", 42L); rec.put("cat", "a"); rec.put("v", 4.2); rec.put("ts", 1L)
    appendBlock(s".${ghost}_$baseInstant.log.2_0-0-0",
      LogBlock(HudiLogFormat.AvroDataBlock,
        Map(HudiLogFormat.InstantTime -> visibleInstant,
          HudiLogFormat.SchemaKey -> schemaJson),
        HudiLogFormat.avroDataContent(
          Seq(HudiLogFormat.encodeAvro(avro, rec)))))
    assert(snap(path)(42L) == 4.2, "log-only group rows must serve")
    // the files inspection table lists the log-only group's logs
    val inv = HudiInterop.metadataTable(spark, path, "files")
      .select(col("path")).collect().map(_.getString(0))
    assert(inv.exists(_.contains(ghost)), inv.mkString(","))
    // compaction refuses BY NAME on the log-only group (identity has no
    // base to rebind)
    val e4 = intercept[Exception](HudiMor.compact(spark, path, Seq("cat")))
    assert(e4.getMessage != null && e4.getMessage.contains("log-only"),
      s"${e4.getMessage}")
  }

  test("datasource API + incremental pull serve MOR tables") {
    val path = tmp("dsv1")
    val i1 = HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    HudiMor.upsert(Seq((1L, "a", 99.0, 900L), (5L, "b", 50.0, 100L))
      .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    // relation creation computes sizeInBytes from metadata (base + log
    // bytes) — this crashed while liveBytes refused MOR
    val ds = spark.read.format("graft-hudi").option("path", path).load()
    assert(ds.count() == 5)
    assert(ds.filter(col("id") === 1L).select(col("v"))
      .collect().head.getDouble(0) == 99.0, "merged values through the datasource")
    // incremental window: only the second deltacommit's records
    val incr = HudiInterop.readIncremental(spark, path, sinceInstant = i1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(incr == Set(1L, 5L), incr.toString)
    // completedInstants now counts deltacommits (exists-probe contract)
    assert(HudiInterop.completedInstants(spark, path).size == 2,
      "bootstrap deltacommit + log deltacommit")
    // the files inspection table lists base slices AND their bound logs
    val files = HudiInterop.metadataTable(spark, path, "files")
      .select(col("path")).collect().map(_.getString(0))
    assert(files.count(_.endsWith(".parquet")) == 2, files.mkString(","))
    assert(files.count(_.contains(".log.")) == 2, files.mkString(","))
  }

  test("streaming tail follows a MOR table: log commits emit, carries don't") {
    import org.apache.spark.sql.streaming.Trigger
    val path = tmp("mortail")
    val ckpt = tmp("mortail-ckpt")
    val out = tmp("mortail-out")
    HudiMor.upsert(Seq((1L, "a", 1.0, 100L), (2L, "a", 2.0, 100L))
      .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-hudi").option("path", path)
        .option("beginInstant", "0").load()
        .drop(HudiInterop.MetaCols: _*)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 2, "bootstrap deltacommit emits")
    // a LOG-block deltacommit: the window emits only the new row versions
    // (merged read scoped by _hoodie_commit_time — carried rows keep
    // their original instant and drop out)
    HudiMor.upsert(Seq((1L, "a", 9.0, 200L), (3L, "a", 3.0, 100L))
      .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    drain()
    val got = spark.read.parquet(out).select("id", "v").as[(Long, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == Set(1.0, 9.0), got.toString)
    assert(got(2L) == Set(2.0), "carried base row is NOT re-emitted")
    assert(got(3L) == Set(3.0))
  }

  test("bucketed layout: N file groups per dir, per-group routing, compaction keeps identity") {
    val path = tmp("buckets")
    val rows = (1L to 40L).map(i => (i, "a", i * 1.0, 100L))
      .toDF("id", "cat", "v", "ts")
    HudiMor.upsert(rows, path, "id", "ts", Seq("cat"), numFileGroups = 4)
    val f = fs(path)
    def baseNames = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
    val fids = baseNames.map(_.takeWhile(_ != '_')).distinct
    assert(fids.length >= 2 && fids.length <= 4,
      s"40 keys must spread across the 4 buckets: $fids")
    val nBases = baseNames.length
    // updates route per group: logs only, no base rewrite, one instant
    HudiMor.upsert(Seq((1L, "a", 99.0, 900L), (2L, "a", 98.0, 900L),
      (40L, "a", 97.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(baseNames.length == nBases, "updates must not rewrite bases")
    val s1 = snap(path)
    assert(s1(1L) == 99.0 && s1(40L) == 97.0 && s1(3L) == 3.0)
    // deletes route per bucket
    HudiMor.delete(Seq((2L, "a")).toDF("id", "cat"), path, "id", Seq("cat"))
    assert(!snap(path).contains(2L))
    // compaction preserves group identity and results
    val before = snap(path)
    HudiMor.compact(spark, path, Seq("cat"))
    assert(snap(path) == before, "compaction must be invisible to results")
    val fidsAfter = baseNames.map(_.takeWhile(_ != '_')).distinct
    assert(fidsAfter.toSet == fids.toSet,
      s"compaction must rewrite the SAME groups: $fids -> $fidsAfter")
  }

  test("log-block chunking: a big group batch streams as multiple blocks in ONE log file") {
    val path = tmp("chunk")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    val old = HudiMor.logBlockChunkRecords
    HudiMor.logBlockChunkRecords = 2
    try {
      HudiMor.upsert((1L to 7L).map(i => (i, "a", i * 10.0, 900L))
        .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    } finally HudiMor.logBlockChunkRecords = old
    val f = fs(path)
    val logs = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.contains(".log."))
    assert(logs.length == 1, logs.mkString(","))
    val blocks = HudiLogFormat.readBlocks(f, new Path(s"$path/cat=a/${logs.head}"))
    assert(blocks.length == 4, s"7 rows / chunk 2 = 4 blocks, got ${blocks.length}")
    assert(blocks.forall(_.blockType == HudiLogFormat.AvroDataBlock))
    val s = snap(path)
    (1L to 7L).foreach(i => assert(s(i) == i * 10.0, s"key $i: ${s.get(i)}"))
  }

  test("broadcast-join routing (the >limit branch) writes and reads identically") {
    // above LiteralRoutingLimit pairs the writers swap literal isin/map
    // expressions for broadcast joins — force that branch small and pin
    // the full upsert/update/delete/read cycle through it
    val path = tmp("bigroute")
    val old = graft.sinks.HudiInterop.LiteralRoutingLimit
    graft.sinks.HudiInterop.LiteralRoutingLimit = 2
    try {
      val rows = (1L to 30L).map(i => (i, "a", i * 1.0, 100L))
        .toDF("id", "cat", "v", "ts")
      HudiMor.upsert(rows, path, "id", "ts", Seq("cat"), numFileGroups = 4)
      HudiMor.upsert(Seq((1L, "a", 99.0, 900L), (2L, "a", 98.0, 900L),
        (31L, "b", 31.0, 100L)).toDF("id", "cat", "v", "ts"),
        path, "id", "ts", Seq("cat"))
      HudiMor.delete(Seq((3L, "a")).toDF("id", "cat"), path, "id", Seq("cat"))
      val s = snap(path)
      assert(s(1L) == 99.0 && s(2L) == 98.0 && s(31L) == 31.0 &&
        !s.contains(3L) && s(4L) == 4.0 && s.size == 30, s.toString)
      // COW side through the same branch
      val cow = tmp("bigroute-cow")
      HudiInterop.insert(rows, cow, "id", "ts", Seq("cat"), numFileGroups = 4)
      HudiInterop.upsert(Seq((5L, "a", 55.0, 900L)).toDF("id", "cat", "v", "ts"),
        cow, "id", "ts", Seq("cat"))
      val c = HudiInterop.read(spark, cow).select(col("id"), col("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(c(5L) == 55.0 && c(6L) == 6.0 && c.size == 30, c.toString)
    } finally graft.sinks.HudiInterop.LiteralRoutingLimit = old
  }

  test("mixed fresh+existing upsert publishes ONE atomic delta commit") {
    val path = tmp("atomic")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat")) // cats a, b
    val i2 = HudiMor.upsert(Seq((1L, "a", 99.0, 900L), (9L, "c", 90.0, 100L))
      .toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat"))
    // r8 split this into TWO delta commits (bootstrap + log append) —
    // readers could observe the half-applied batch; r9 stages both
    // under one instant
    assert(HudiInterop.completedInstants(spark, path).size == 2,
      "bootstrap+log batch must be one instant")
    val f = fs(path)
    val cBase = f.listStatus(new Path(s"$path/cat=c"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
    assert(cBase.endsWith(s"_$i2.parquet"), cBase)
    val aLog = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.contains(".log."))
    assert(aLog.length == 1, aLog.mkString(","))
    assert(snap(path) == Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0,
      4L -> 40.0, 9L -> 90.0))
    // incremental pull: exactly the batch's rows carry the new instant
    val incr = HudiInterop.readIncremental(spark, path, sinceInstant = "0")
      .filter(col("_hoodie_commit_time") === i2)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(incr == Set(1L, 9L), incr.toString)
  }

  test("delete with no matching live groups is a no-op returning the latest instant") {
    val path = tmp("noop")
    val i1 = HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    val r = HudiMor.delete(Seq((99L, "zzz")).toDF("id", "cat"),
      path, "id", Seq("cat"))
    assert(r == i1, s"no-op delete must return the latest instant, got $r")
    assert(HudiInterop.completedInstants(spark, path).size == 1,
      "no empty delta commit may land")
    assert(snap(path).size == 4)
  }

  test("empty upsert batch is a no-op returning the latest instant; empty table refuses") {
    val path = tmp("emptyup")
    val i1 = HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    // emptiness rides the routing-pair probe the upsert runs anyway (the
    // streaming body runs no separate isEmpty action per micro-batch)
    val r = HudiMor.upsert(sample.filter(lit(false)), path, "id", "ts", Seq("cat"))
    assert(r == i1, s"empty upsert must return the latest completed instant, got $r")
    assert(HudiInterop.completedInstants(spark, path).size == 1,
      "no empty commit may land")
    assert(snap(path).size == 4)
    // an empty batch into an EMPTY table has no instant to report: refuse
    val fresh = tmp("emptyfresh")
    val e = intercept[IllegalArgumentException] {
      HudiMor.upsert(sample.filter(lit(false)), fresh, "id", "ts", Seq("cat"))
    }
    assert(e.getMessage.contains("empty batch into an empty table"))
  }

  test("stream body: an empty first batch commits nothing, then batches upsert") {
    val path = tmp("streamempty")
    val body = HudiMor.streamBatchUpserter(path, "id", "ts", Seq("cat"))
    // the first micro-batch of a stream can be empty; the direct upsert
    // refuses it (no instant to report), the stream body must not
    body(sample.filter(lit(false)), 0L)
    assert(HudiInterop.completedInstants(spark, path).isEmpty, "no commit may land")
    body(sample, 1L)
    assert(snap(path).size == 4)
    body(sample.filter(lit(false)), 2L)
    assert(HudiInterop.completedInstants(spark, path).size == 1,
      "an empty batch into an existing table commits nothing")
    body(Seq((1L, "a", 11.0, 200L)).toDF("id", "cat", "v", "ts"), 3L)
    assert(snap(path) == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("asOf read ignores groups bootstrapped after asOf, even once they take log appends") {
    val path = tmp("asofboot")
    val i1 = HudiMor.upsert(Seq((1L, "a", 1.0, 100L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    HudiMor.upsert(Seq((2L, "b", 2.0, 100L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    HudiMor.upsert(Seq((2L, "b", 9.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    // r8's unscoped orphan check misclassified cat=b's log as log-only
    // debris for the asOf=i1 read and refused; the group's base simply
    // is not visible YET (ADVICE r8)
    val v1 = HudiMor.read(spark, path, asOf = Some(i1))
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v1 == Map(1L -> 1.0), v1.toString)
    assert(snap(path) == Map(1L -> 1.0, 2L -> 9.0))
  }

  test("log-side ADDITIVE schema evolution serves: new column appended, old rows null") {
    val path = tmp("evolve")
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    val f = fs(path)
    val base = f.listStatus(new Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
    val Array(fileId, _, instantExt) = base.split("_")
    val baseInstant = instantExt.stripSuffix(".parquet")
    // a block whose schema carries a column the base never saw — since
    // r10 this is SERVED additively (the brand_new column joins the
    // read schema; rows that never wrote it read null), the same rule
    // VersionedTable/Iceberg additive evolution applies
    val schemaJson =
      """{"type":"record","name":"r","fields":[
        |{"name":"_hoodie_record_key","type":["null","string"],"default":null},
        |{"name":"_hoodie_partition_path","type":["null","string"],"default":null},
        |{"name":"id","type":["null","long"],"default":null},
        |{"name":"brand_new","type":["null","string"],"default":null}]}"""
        .stripMargin.replaceAll("\n", "")
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("_hoodie_record_key", "1"); rec.put("_hoodie_partition_path", "cat=a")
    rec.put("id", 1L); rec.put("brand_new", "x")
    val content = HudiLogFormat.avroDataContent(
      Seq(HudiLogFormat.encodeAvro(schema, rec)))
    val out = new DataOutputStream(
      f.create(new Path(s"$path/cat=a/.${fileId}_$baseInstant.log.1_0-0-0"), true))
    try HudiLogFormat.writeBlock(out, LogBlock(HudiLogFormat.AvroDataBlock,
      Map(HudiLogFormat.InstantTime -> baseInstant,
        HudiLogFormat.SchemaKey -> schemaJson), content))
    finally out.close()
    val df = HudiInterop.read(spark, path)
    assert(df.schema.fieldNames.contains("brand_new"), df.schema.treeString)
    val byId = df.select(col("id"), col("brand_new"), col("v"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getString(1))),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // the log row REPLACES key 1 wholesale (overwrite-with-latest): v
    // reads null because the block never carried it
    assert(byId(1L) == ((Some("x"), None)), byId.toString)
    assert(byId(2L) == ((None, Some(20.0))), byId.toString)
    assert(byId(3L) == ((None, Some(30.0))), byId.toString)
  }

  test("routing-map ceiling: too many touched (dir, bucket) pairs refuse at plan time") {
    val path = tmp("ceiling")
    val old = HudiMor.MaxRoutedPairs
    HudiMor.MaxRoutedPairs = 1 // sample spans cat=a AND cat=b: 2 pairs
    try {
      val e = intercept[IllegalArgumentException](
        HudiMor.upsert(sample, path, "id", "ts", Seq("cat")))
      assert(e.getMessage.contains("MaxRoutedPairs"), e.getMessage)
    } finally HudiMor.MaxRoutedPairs = old
    // under the ceiling the same batch writes and reads back
    HudiMor.upsert(sample, path, "id", "ts", Seq("cat"))
    assert(snap(path) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    // the delete path shares the ceiling
    HudiMor.MaxRoutedPairs = 1
    try {
      val e2 = intercept[IllegalArgumentException](HudiMor.delete(
        sample.select(col("id"), col("cat")), path, "id", Seq("cat")))
      assert(e2.getMessage.contains("MaxRoutedPairs") &&
        e2.getMessage.contains("delete"), e2.getMessage)
    } finally HudiMor.MaxRoutedPairs = old
  }
}
