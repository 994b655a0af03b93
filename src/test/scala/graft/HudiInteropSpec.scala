package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{CommitKernel, HudiInterop}

class HudiInteropSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-hudi-$tag").toFile.getAbsolutePath + "/t"

  private def sample = Seq(
    (1L, "a", 10.0, 100L), (2L, "a", 20.0, 100L),
    (3L, "b", 30.0, 100L), (4L, "b", 40.0, 100L))
    .toDF("id", "cat", "v", "ts")

  test("metadata tables: timeline and files inspect the wire") {
    val path = tmp("inspect")
    val i1 = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    val i2 = HudiInterop.upsert(Seq((1L, "a", 99.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    val tl = HudiInterop.metadataTable(spark, path, "timeline")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(tl.count(_._2 == "commit") == 2, "two completed commits")
    assert(tl.exists(t => t._1 == i1 && t._2 == "commit" && t._3))
    assert(tl.exists(t => t._1 == i2 && t._2 == "commit" && t._3))
    val files = HudiInterop.metadataTable(spark, path, "files")
    assert(files.count() == 2, "one live slice per partition file group")
    // partition 'a' resolved to the UPSERT's slice, 'b' kept the insert's
    val byPart = files.collect()
      .map(r => r.getAs[String]("partition") -> r.getAs[String]("instant")).toMap
    assert(byPart("cat=a") == i2 && byPart("cat=b") == i1)
    // datasource spelling
    assert(spark.read.format("graft-hudi").option("path", path)
      .option("metadataTable", "files").load().count() == 2)
    intercept[IllegalArgumentException] {
      HudiInterop.metadataTable(spark, path, "nope")
    }
  }

  test("composite record keys: ComplexKeyGenerator encoding + upsert by the pair") {
    val path = tmp("complexkey")
    // (region, id) is the identity — same id lives in two regions
    val base = Seq(
      ("eu", Some(1L), 10.0, 100L), ("us", Some(1L), 11.0, 100L),
      ("eu", Some(2L), 20.0, 100L), ("us", None, 0.0, 100L))
      .toDF("region", "id", "v", "ts")
    HudiInterop.insert(base, path, "region,id", "ts", Seq("region"))
    val snap0 = HudiInterop.read(spark, path)
    // ComplexKeyGenerator encoding: col:val pairs, nulls as __null__
    val keys0 = snap0.select("_hoodie_record_key").as[String].collect().toSet
    assert(keys0 == Set("region:eu,id:1", "region:us,id:1",
      "region:eu,id:2", "region:us,id:__null__"), keys0.toString)
    // upsert touches ONLY (eu, 1): (us, 1) must keep its original value
    HudiInterop.upsert(Seq(("eu", 1L, 99.0, 900L)).toDF("region", "id", "v", "ts"),
      path, "region,id", "ts", Seq("region"))
    val byKey = HudiInterop.read(spark, path)
      .select("_hoodie_record_key", "v").as[(String, Double)].collect().toMap
    assert(byKey("region:eu,id:1") == 99.0, "composite-key row upserted")
    assert(byKey("region:us,id:1") == 11.0, "sibling key in other region untouched")
    assert(byKey.size == 4)
    // precombineBatch dedups by the composite pair, not a single column
    val dup = Seq(("eu", 1L, 1.0, 5L), ("eu", 1L, 2.0, 9L), ("us", 1L, 3.0, 1L))
      .toDF("region", "id", "v", "ts")
    val combined = HudiInterop.precombineBatch(dup, "region,id", "ts")
      .select("region", "id", "v").as[(String, Long, Double)].collect().toSet
    assert(combined == Set(("eu", 1L, 2.0), ("us", 1L, 3.0)))
  }

  test("insert + snapshot round trip; meta columns carry the wire shapes") {
    val path = tmp("rt")
    val i = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    assert(i.matches("\\d{17}"), s"17-digit instant, got $i")
    val snap = HudiInterop.read(spark, path)
    assert(snap.drop(HudiInterop.MetaCols: _*)
      .select("id", "cat", "v", "ts").as[(Long, String, Double, Long)]
      .collect().toSet == sample.as[(Long, String, Double, Long)].collect().toSet)
    val metas = snap.select(HudiInterop.MetaCols.map(col): _*).collect()
    metas.foreach { r =>
      assert(r.getString(0) == i, "commit time = the publishing instant")
      assert(r.getString(1).startsWith(i + "_"), "seqno is instant-prefixed")
      assert(r.getString(2).toLong >= 1L && r.getString(2).toLong <= 4L,
        "record key stringified")
      assert(r.getString(3).startsWith("cat="), "hive-style partition path")
      assert(r.getString(4).matches("[0-9a-f-]{36}_\\d+-0-0_\\d{17}\\.parquet"),
        s"slice file name, got ${r.getString(4)}")
    }
    // file_name matches the actual file on disk
    val onDisk = new java.io.File(s"$path/cat=a").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val claimed = snap.filter(col("_hoodie_partition_path") === "cat=a")
      .select("_hoodie_file_name").distinct().as[String].collect().toSet
    assert(claimed.subsetOf(onDisk), s"claimed $claimed, on disk $onDisk")
  }

  test("upsert is latest-wins; carried rows keep their commit time; incremental pull") {
    val path = tmp("up")
    val i1 = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    val i2 = HudiInterop.upsert(
      Seq((2L, "a", 99.0, 200L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(i2 > i1)
    val snap = HudiInterop.read(spark, path)
    val byId = snap.select("id", "v", "_hoodie_commit_time")
      .as[(Long, Double, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(2L) == ((99.0, i2)), "winner stamped with the new instant")
    assert(byId(1L) == ((10.0, i1)),
      "co-resident carried row keeps its ORIGINAL commit time through the rewrite")
    assert(byId(3L)._2 == i1, "untouched partition keeps its slice")
    // incremental pull returns exactly the changed record
    val inc = HudiInterop.readIncremental(spark, path, i1)
      .select("id").as[Long].collect().toSeq
    assert(inc == Seq(2L), s"incremental must be the changed keys only, got $inc")
    // time travel to the first instant sees the pre-upsert values
    val asOf = HudiInterop.read(spark, path, asOf = Some(i1))
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(asOf(2L) == 20.0)
  }

  test("a stale upsert (lower precombine) loses to the existing row") {
    val path = tmp("stale")
    HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    HudiInterop.upsert(
      Seq((2L, "a", 1.0, 50L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    val v = HudiInterop.read(spark, path).filter(col("id") === 2L)
      .select("v").as[Double].collect()
    assert(v.toSeq == Seq(20.0), "ts=50 < existing ts=100 must not replace")
  }

  test("uncommitted file slices are invisible (crash debris ignored)") {
    val path = tmp("crash")
    HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    // a validly-named slice whose instant never reached .commit
    val orphan = new java.io.File(
      s"$path/cat=a/${java.util.UUID.randomUUID()}_0-0-0_99999999999999999.parquet")
    Seq((666L, "a", 666.0, 1L)).toDF("id", "cat", "v", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/.tmp_orphan")
    val part = new java.io.File(s"$path/.tmp_orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(part.renameTo(orphan))
    val ids = HudiInterop.read(spark, path).select("id").as[Long].collect().toSet
    assert(!ids.contains(666L), "slice without a completed instant must not be read")
  }

  test("timeline wire shapes: properties, commit JSON, transient states cleaned") {
    val path = tmp("tl")
    val i = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    val props = scala.io.Source.fromFile(s"$path/.hoodie/hoodie.properties").mkString
    assert(props.contains("hoodie.table.type=COPY_ON_WRITE"))
    assert(props.contains("hoodie.table.name="))
    assert(props.contains("hoodie.datasource.write.hive_style_partitioning=true"))
    val commit = org.json4s.jackson.JsonMethods.parse(
      scala.io.Source.fromFile(s"$path/.hoodie/$i.commit").mkString)
    val stats = commit \ "partitionToWriteStats"
    assert(stats != org.json4s.JNothing)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert((commit \ "operation").extract[String] == "INSERT")
    assert(!new java.io.File(s"$path/.hoodie/$i.inflight").exists(),
      "inflight marker removed after completion")
    assert(!new java.io.File(s"$path/.hoodie/$i.commit.requested").exists())
    assert(new java.io.File(s"$path/cat=a/.hoodie_partition_metadata").exists())
  }

  test("unpartitioned table: slices at the root, full lifecycle works") {
    val path = tmp("flat")
    val i1 = HudiInterop.insert(sample, path, "id", "ts", Nil)
    HudiInterop.upsert(Seq((1L, "a", 77.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Nil)
    val snap = HudiInterop.read(spark, path)
    assert(snap.count() == 4)
    assert(snap.filter(col("id") === 1L).select("v").as[Double].collect().toSeq
      == Seq(77.0))
    assert(HudiInterop.read(spark, path, asOf = Some(i1))
      .filter(col("id") === 1L).select("v").as[Double].collect().toSeq == Seq(10.0))
  }

  test("precombineBatch keeps one row per key (highest precombine wins)") {
    val dup = Seq(
      (1L, "a", 10.0, 100L), (1L, "a", 11.0, 200L), // key 1: ts 200 wins
      (2L, "b", 20.0, 300L),                        // key 2: singleton
      (3L, "c", 30.0, 50L), (3L, "c", 31.0, 50L))   // key 3: tie → one survives
      .toDF("id", "cat", "v", "ts")
    val out = HudiInterop.precombineBatch(dup, "id", "ts")
      .select("id", "ts").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 200L, 2L -> 300L, 3L -> 50L))
    assert(HudiInterop.precombineBatch(dup, "id", "ts").count() == 3)
  }

  test("clean keeps the retained-commit slice versions, deletes the rest") {
    val path = tmp("clean")
    HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    // 3 upserts to key 1 → 4 slice versions of cat=a's file group
    for (i <- 1 to 3)
      HudiInterop.upsert(Seq((1L, "a", i * 100.0, 100L + i)).toDF("id", "cat", "v", "ts"),
        path, "id", "ts", Seq("cat"))
    def sliceFiles(sub: String) = new java.io.File(s"$path/$sub").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(sliceFiles("cat=a") == 4)
    val commits = HudiInterop.completedInstants(spark, path)
    val deleted = HudiInterop.clean(spark, path, retainCommits = 2)
    // horizon = 3rd commit; keep versions >= horizon (2) + latest before it (1)
    assert(deleted == 1, s"deleted $deleted")
    assert(sliceFiles("cat=a") == 3)
    // snapshot read unchanged; time travel within retention unchanged
    assert(HudiInterop.read(spark, path).filter(col("id") === 1L)
      .select("v").as[Double].collect().toSeq == Seq(300.0))
    assert(HudiInterop.read(spark, path, asOf = Some(commits(2)))
      .filter(col("id") === 1L).select("v").as[Double].collect().toSeq == Seq(200.0))
    // the clean instant landed on the timeline
    assert(new java.io.File(s"$path/.hoodie").listFiles()
      .exists(_.getName.endsWith(".clean")))
    // nothing more to clean at the same retention
    assert(HudiInterop.clean(spark, path, retainCommits = 2) == 0)
  }

  test("a duplicate-bearing FIRST batch converges to one copy per key at insert") {
    // the reference's duplicate repro shape: same key lands twice in the
    // bootstrap micro-batch, before any table state exists
    val path = tmp("dupfirst")
    val dup = Seq((1L, "a", 1.0, 100L), (1L, "a", 2.0, 200L))
      .toDF("id", "cat", "v", "ts")
    HudiInterop.insert(HudiInterop.precombineBatch(dup, "id", "ts"),
      path, "id", "ts", Seq("cat"))
    val snap = HudiInterop.read(spark, path)
    assert(snap.count() == 1)
    assert(snap.select("v").as[Double].collect().toSeq == Seq(2.0))
  }

  test("restoreToInstant deletes later slices and instants; as-of state returns") {
    val path = tmp("restore")
    val i1 = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    HudiInterop.upsert(
      Seq((2L, "a", 999.0, 200L), (5L, "b", 50.0, 200L))
        .toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(HudiInterop.read(spark, path).count() == 5)
    // restore-to-latest is a no-op
    val latest = HudiInterop.completedInstants(spark, path).last
    assert(HudiInterop.restoreToInstant(spark, path, latest) == 0)
    val deleted = HudiInterop.restoreToInstant(spark, path, i1)
    assert(deleted > 0)
    // snapshot is the as-of-i1 state exactly
    val back = HudiInterop.read(spark, path)
      .select(col("id"), col("v")).as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // rolled-back instants left the timeline; a .restore instant landed
    assert(HudiInterop.completedInstants(spark, path) == Seq(i1))
    val meta = new java.io.File(s"$path/.hoodie").listFiles().map(_.getName)
    assert(meta.exists(_.endsWith(".restore")))
    // the table stays writable after a restore
    HudiInterop.upsert(Seq((6L, "a", 60.0, 300L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(HudiInterop.read(spark, path).count() == 5)
    // an unknown instant refuses loudly
    intercept[IllegalArgumentException] {
      HudiInterop.restoreToInstant(spark, path, "00000000000000000")
    }
  }

  test("restoreToInstant refuses past a clean horizon (slices already deleted)") {
    val path = tmp("restore-clean")
    val i1 = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    HudiInterop.upsert(Seq((2L, "a", 21.0, 200L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    HudiInterop.upsert(Seq((2L, "a", 22.0, 300L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    // cleaner deletes i1's slice version in the hot group
    assert(HudiInterop.clean(spark, path, retainCommits = 1) > 0)
    // restoring to i1 would resurface slices the cleaner deleted: refuse
    val e = intercept[IllegalArgumentException] {
      HudiInterop.restoreToInstant(spark, path, i1)
    }
    assert(e.getMessage.contains("clean horizon"))
    // restore within the retained window still works
    val latest = HudiInterop.completedInstants(spark, path).last
    assert(HudiInterop.restoreToInstant(spark, path, latest) == 0)
  }

  test("bucketed COW: N groups per dir, upsert rewrites ONLY the touched bucket") {
    val path = tmp("cowbuckets")
    val rows = (1L to 40L).map(i => (i, "a", i * 1.0, 100L))
      .toDF("id", "cat", "v", "ts")
    HudiInterop.insert(rows, path, "id", "ts", Seq("cat"), numFileGroups = 4)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slices = f.listStatus(new org.apache.hadoop.fs.Path(s"$path/cat=a"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
    val fids0 = slices.map(_.takeWhile(_ != '_')).distinct
    assert(fids0.length >= 2 && fids0.length <= 4,
      s"40 keys must spread across the buckets: $fids0")
    val n0 = slices.length
    // one-key upsert: the COW rewrite is O(touched bucket), not
    // O(partition) — exactly ONE new slice lands, in key 7's group
    HudiInterop.upsert(Seq((7L, "a", 777.0, 900L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(slices.length == n0 + 1,
      s"one-bucket rewrite expected: $n0 -> ${slices.length}")
    val got = HudiInterop.read(spark, path)
      .select(col("id"), col("v")).as[(Long, Double)].collect().toMap
    assert(got(7L) == 777.0 && got(8L) == 8.0 && got.size == 40)
    // untouched keys in OTHER buckets keep their original commit time
    // (incremental pull only sees the rewritten bucket's winners)
    val changed = HudiInterop.read(spark, path)
      .filter(col("_hoodie_commit_time") >
        HudiInterop.completedInstants(spark, path).head)
      .select(col("id")).as[Long].collect().toSet
    assert(changed == Set(7L),
      s"only the upsert WINNER may restamp (carried bucket rows keep " +
        s"their commit time): $changed")
    // the cleaner reasons per group: retain 1 leaves one slice per group
    HudiInterop.upsert(Seq((7L, "a", 778.0, 901L)).toDF("id", "cat", "v", "ts"),
      path, "id", "ts", Seq("cat"))
    assert(HudiInterop.clean(spark, path, retainCommits = 1) > 0)
    assert(HudiInterop.read(spark, path).count() == 40)
  }

  test("an upsert racing a writer that claimed the same instant loses loudly") {
    val path = tmp("race")
    val i1 = HudiInterop.insert(sample, path, "id", "ts", Seq("cat"))
    val claim = "claimed by a concurrent writer".getBytes("UTF-8")
    var claimed: java.nio.file.Path = null
    // the racer claims this writer's instant first
    CommitKernel.beforePublish = dst => if (dst.getName.endsWith(".commit.requested")) {
      CommitKernel.beforePublish = _ => ()
      claimed = java.nio.file.Paths.get(dst.toUri.getPath)
      Files.write(claimed, claim)
    }
    try intercept[java.util.ConcurrentModificationException](HudiInterop.upsert(
      Seq((2L, "a", 99.0, 200L)).toDF("id", "cat", "v", "ts"), path, "id", "ts", Seq("cat")))
    finally CommitKernel.beforePublish = _ => ()
    assert(claimed != null && Files.readAllBytes(claimed).sameElements(claim),
      "the winner's claim stays byte-identical")
    assert(HudiInterop.completedInstants(spark, path) == Seq(i1))
    assert(HudiInterop.read(spark, path).filter(col("id") === 2L)
      .select("v").as[Double].collect().toSeq == Seq(20.0))
  }
}
