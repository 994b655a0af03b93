package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.TableSink
import graft.sinks.TableSink.SinkConfig
import graft.sources.Tables

class SinkSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._


  test("parquet sink writes hive-partitioned layout; reads prune partitions") {
    val out = Files.createTempDirectory("graft-sink").toFile.getAbsolutePath + "/t"
    val ev = Tables.events(spark, sf)
      .withColumn("event_date", col("ts").cast("date"))
    TableSink.writeBatch(ev, SinkConfig(
      format = "parquet", path = out, partitionBy = Seq("event_date"), mode = "overwrite"))

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("event_date=")), dirs.mkString(","))

    val firstDate = dirs.map(_.stripPrefix("event_date=")).min
    val pruned = TableSink.read(spark, out).filter(col("event_date") === lit(firstDate))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // count matches the source for that date → layout + pruning are lossless
    val expected = ev.filter(col("event_date") === lit(firstDate)).count()
    assert(pruned.count() == expected)
  }

  test("compact merges per-batch small files and preserves every row") {
    val out = Files.createTempDirectory("graft-compact").toFile.getAbsolutePath + "/t"
    val ev = Tables.events(spark, sf).withColumn("event_date", col("ts").cast("date"))
    // simulate many tiny ingest batches: 8 files per partition
    ev.repartition(8).write.partitionBy("event_date").parquet(out)
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
    }
    val before = dataFiles().size
    val expected = ev.count()
    TableSink.compact(spark, out, Seq("event_date"))
    val after = dataFiles().size
    assert(after < before, s"$before -> $after")
    val back = TableSink.read(spark, out)
    assert(back.count() == expected)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(after <= dirs.length, "at most one file per (small) partition")
  }

  test("incremental compaction rewrites only fragmented partitions") {
    val out = Files.createTempDirectory("graft-compact-inc").toFile.getAbsolutePath + "/t"
    // partition a: 8 tiny files (fragmented); partition b: 1 file (healthy)
    Seq.tabulate(40)(i => (i.toLong, "a")).toDF("k", "p")
      .repartition(8).write.partitionBy("p").parquet(out)
    Seq.tabulate(5)(i => (100L + i, "b")).toDF("k", "p")
      .coalesce(1).write.mode("append").partitionBy("p").parquet(out)
    def files(part: String) =
      new java.io.File(s"$out/p=$part").listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val bBefore = files("b")
    assert(files("a").size == 8)

    val done = TableSink.compactPartitions(spark, out, Seq("p"), maxFilesPerPartition = 4)
    assert(done.size == 1 && done.head.endsWith("p=a"), done)
    assert(files("a").size < 8, files("a"))
    assert(files("b") == bBefore, "healthy partition must keep its files")
    val back = TableSink.read(spark, out).select("k").collect().map(_.getLong(0)).toSet
    assert(back == (Seq.tabulate(40)(_.toLong) ++ Seq.tabulate(5)(100L + _)).toSet)
    // second run: nothing left to do
    assert(TableSink.compactPartitions(spark, out, Seq("p"), maxFilesPerPartition = 4).isEmpty)
  }

  test("compact recovers from crash leftovers (stale tmp/backup, missing table)") {
    val base = Files.createTempDirectory("graft-compact-crash").toFile.getAbsolutePath
    val out = s"$base/t"
    val ev = Tables.events(spark, sf).withColumn("event_date", col("ts").cast("date"))
      .limit(1000)
    ev.repartition(4).write.partitionBy("event_date").parquet(out)
    val expected = spark.read.parquet(out).count()

    // Crash scenario 1: abandoned rewrite left stale tmp + backup next to
    // a live table — compact must drop both and still succeed.
    spark.range(3).write.parquet(out + ".compact-tmp")
    spark.range(3).write.parquet(out + ".compact-old")
    TableSink.compact(spark, out, Seq("event_date"))
    assert(spark.read.parquet(out).count() == expected)
    assert(!new java.io.File(out + ".compact-tmp").exists())
    assert(!new java.io.File(out + ".compact-old").exists())

    // Crash scenario 2: died between the two renames (backup exists, no
    // live table) — compact must restore the backup before rewriting.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(out), new org.apache.hadoop.fs.Path(out + ".compact-old")))
    TableSink.compact(spark, out, Seq("event_date"))
    assert(spark.read.parquet(out).count() == expected)
  }

  test("table stream picks up newly landed files exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-tail").toFile.getAbsolutePath
    val (tbl, ckpt, out) = (s"$base/t", s"$base/ckpt", s"$base/out")
    val r = Tables.region(spark, sf)
    r.write.parquet(tbl)
    def drain(): Long = {
      val q = TableSink.readStream(spark, tbl, r.schema)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    assert(drain() == r.count())
    // second landing: only the new files flow through the same checkpoint
    r.write.mode("append").parquet(tbl)
    assert(drain() == 2 * r.count(), "exactly the newly landed rows must be appended")
  }

  test("approx quantile is within 1% of the exact percentile") {
    val approx = graft.operators.Relational.approxQuantiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    graft.operators.Relational.percentiles(spark, sf).collect().foreach { r =>
      val exact = r.getDouble(1) // p50
      val a = approx(r.getString(0))
      assert(math.abs(a - exact) / exact <= 0.01, s"${r.getString(0)}: $a vs $exact")
    }
  }

  test("approx distinct is within 5% of exact") {
    val approx = graft.operators.Relational.approxDistinct(spark, sf)
      .collect()(0).getLong(0).toDouble
    val exact = graft.operators.Relational.distinctCount(spark, sf)
      .collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05, s"approx=$approx exact=$exact")
  }

  test("sketch audits: exact anchors plus in-plan invariant booleans hold") {
    // The driver-facing audit shapes: exact values DuckDB recomputes,
    // invariants the sketches must satisfy as booleans in the same row.
    val d = graft.operators.Relational.approxDistinctAudited(spark, sf).collect()(0)
    val exact = graft.operators.Relational.distinctCount(spark, sf).collect()(0).getLong(0)
    assert(d.getAs[Long]("n_distinct_exact") == exact)
    assert(d.getAs[Boolean]("approx_ok"))
    val q = graft.operators.Relational.approxQuantilesAudited(spark, sf).collect()
    assert(q.nonEmpty && q.forall(_.getAs[Boolean]("p50_rank_ok")), q.mkString(","))
    val lsh = graft.operators.Similarity.lshRecallAudit(spark, sf).collect()(0)
    assert(lsh.getAs[Long]("n_queries") == 5L && lsh.getAs[Boolean]("mean_recall_ok"), lsh)
    val ivf = graft.operators.Similarity.ivfRecallAudit(spark, sf).collect()(0)
    assert(ivf.getAs[Long]("n_queries") == 5L && ivf.getAs[Boolean]("mean_recall_ok"), ivf)
  }

  test("upsert merges latest-wins by key, inserts new keys, preserves untouched partitions") {
    val out = Files.createTempDirectory("graft-upsert-spec").toFile.getAbsolutePath + "/t"
    val base = Seq(
      (1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L),
      (3L, "b", 30.0, 1L), (4L, "c", 40.0, 1L))
      .toDF("k", "p", "v", "version")
    TableSink.writeBatch(base, SinkConfig(
      format = "parquet", path = out, partitionBy = Seq("p"), mode = "overwrite"))
    def files(part: String) =
      new java.io.File(s"$out/p=$part").listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val cBefore = files("c")

    // update k=1 (version 2 wins), stale update k=3 (version 0 loses),
    // brand-new k=9 in a brand-new partition d; partition c untouched
    val updates = Seq(
      (1L, "a", 11.0, 2L), (3L, "b", 99.0, 0L), (9L, "d", 90.0, 2L))
      .toDF("k", "p", "v", "version")
    TableSink.upsert(spark, out, updates, key = "k", precombine = "version", partitionCols = Seq("p"))

    val got = TableSink.read(spark, out)
      .select("k", "p", "v", "version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "a", 11.0, 2L), (2L, "a", 20.0, 1L),
      (3L, "b", 30.0, 1L), (4L, "c", 40.0, 1L), (9L, "d", 90.0, 2L)), got)
    // dynamic overwrite must not have rewritten the untouched partition
    assert(files("c") == cBefore, "partition c files were rewritten")
  }

  test("upsert on a missing table bootstraps it (first-write path)") {
    val out = Files.createTempDirectory("graft-upsert-boot").toFile.getAbsolutePath + "/t"
    val updates = Seq((1L, "a", 1.0, 5L), (1L, "a", 2.0, 7L)).toDF("k", "p", "v", "version")
    TableSink.upsert(spark, out, updates, key = "k", precombine = "version", partitionCols = Seq("p"))
    val got = TableSink.read(spark, out).select("k", "v", "version").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // intra-batch dup resolves by precombine too
    assert(got == Set((1L, 2.0, 7L)), got)
  }

  test("lakehouse formats route to the native wire-format engines, jar-free") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft-sink-lake").toFile.getAbsolutePath
    val region = Tables.region(spark, sf)
    val n = region.count()

    TableSink.writeBatch(region, SinkConfig(format = "delta", path = s"$base/d"))
    assert(new java.io.File(s"$base/d/_delta_log").isDirectory, "real Delta log on disk")
    assert(graft.sinks.DeltaInterop.read(spark, s"$base/d").count() == n)

    TableSink.writeBatch(region, SinkConfig(format = "hudi", path = s"$base/h",
      upsertKey = Some("r_regionkey"), precombine = Some("r_regionkey")))
    assert(new java.io.File(s"$base/h/.hoodie").isDirectory, "real Hudi timeline on disk")
    assert(graft.sinks.HudiInterop.read(spark, s"$base/h").count() == n)
    // a second batch through the SAME config surface becomes an upsert
    TableSink.writeBatch(region, SinkConfig(format = "hudi", path = s"$base/h",
      upsertKey = Some("r_regionkey"), precombine = Some("r_regionkey")))
    assert(graft.sinks.HudiInterop.read(spark, s"$base/h").count() == n,
      "keyed re-land converges, no duplicates")

    TableSink.writeBatch(region, SinkConfig(format = "iceberg", path = s"$base/i"))
    assert(new java.io.File(s"$base/i/metadata/version-hint.text").exists(),
      "real Iceberg metadata on disk")
    assert(graft.sinks.IcebergInterop.read(spark, s"$base/i").count() == n)

    // hudi without its keys still fails fast with a named option
    val e = intercept[IllegalArgumentException] {
      TableSink.writeBatch(region, SinkConfig(format = "hudi", path = s"$base/h2"))
    }
    assert(e.getMessage.contains("recordkey"), e.getMessage)
    intercept[IllegalArgumentException] {
      TableSink.writeBatch(region, SinkConfig(format = "bogus", path = "/t"))
    }
  }

  test("readBatch dispatches all four formats; where prunes delta/iceberg files") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-readbatch").toFile.getAbsolutePath
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val keyRange = col("o_orderkey") < 100L

    orders.write.parquet(s"$base/p")
    assert(TableSink.readBatch(spark, "parquet", s"$base/p",
      Some(keyRange)).count() == orders.filter(keyRange).count())

    // range-partitioned delta → the where must reach add.stats pruning
    TableSink.writeBatch(orders.repartitionByRange(6, col("o_orderkey")),
      SinkConfig(format = "delta", path = s"$base/d"))
    val snap = graft.sinks.DeltaInterop.snapshot(spark, s"$base/d")
    assert(graft.sinks.DeltaInterop.pruneAdds(spark, snap,
      Some(keyRange)).size < snap.adds.size, "delta readBatch path prunes files")
    assert(TableSink.readBatch(spark, "delta", s"$base/d",
      Some(keyRange)).count() == orders.filter(keyRange).count())

    TableSink.writeBatch(orders.repartitionByRange(6, col("o_orderkey")),
      SinkConfig(format = "iceberg", path = s"$base/i"))
    assert(graft.sinks.IcebergInterop.liveFilesWhere(spark, s"$base/i",
      Some(keyRange)).size < graft.sinks.IcebergInterop.liveFilesWhere(
      spark, s"$base/i", None).size, "iceberg readBatch path prunes files")
    assert(TableSink.readBatch(spark, "iceberg", s"$base/i",
      Some(keyRange)).count() == orders.filter(keyRange).count())

    TableSink.writeBatch(orders, SinkConfig(format = "hudi", path = s"$base/h",
      upsertKey = Some("o_orderkey"), precombine = Some("o_orderkey")))
    assert(TableSink.readBatch(spark, "hudi", s"$base/h",
      Some(keyRange)).count() == orders.filter(keyRange).count())
  }

  test("a real stream lands in Delta via streamBatch, exactly-once across restart") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-stream-delta").toFile.getAbsolutePath
    val feed = s"$base/feed"
    new java.io.File(feed).mkdirs()
    Tables.region(spark, sf).coalesce(1).write.mode("overwrite")
      .parquet(s"$base/staged")
    new java.io.File(s"$base/staged").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath,
        new java.io.File(feed, f.getName).toPath))
    val cfg = SinkConfig(format = "delta", path = s"$base/table")
    def run(): Unit = {
      val q = spark.readStream
        .schema(Tables.region(spark, sf).schema)
        .parquet(feed)
        .writeStream
        .foreachBatch(TableSink.streamBatch(cfg, appId = "stream-delta-spec"))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val n = Tables.region(spark, sf).count()
    assert(graft.sinks.DeltaInterop.read(spark, cfg.path).count() == n)
    // restart with the same checkpoint: no new data -> no duplicates,
    // and the Delta table's txn action guards a batch replay too
    run()
    assert(graft.sinks.DeltaInterop.read(spark, cfg.path).count() == n,
      "restart must not duplicate the feed")
  }
}
