package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.queue.{DirectoryQueueClient, FileNotification, FileNotificationCache}

import graft.streaming.{EventRollup, IngestPipeline, Sessionize}
import graft.sources.Tables

class StreamingSpec extends SparkSpec {

  test("sessionize step handles out-of-order arrivals without corrupting sessions") {
    import java.time.Instant
    import org.apache.spark.sql.streaming.TestGroupState
    val gapUs = 3600L * 1000000L // 1h gap
    def ev(sec: Long) = Sessionize.Ev(1L, Instant.ofEpochSecond(sec), 1.0)
    // open session [100s, 200s] in state; a late event at 50s (within
    // gap of the start) must extend the session BACKWARDS
    val s1 = TestGroupState.create[Sessionize.OpenSession](
      org.apache.spark.api.java.Optional.of(
        Sessionize.OpenSession(100L * 1000000, 200L * 1000000, 2L, 2.0)),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      1000L, org.apache.spark.api.java.Optional.of(1L), hasTimedOut = false)
    val out1 = Sessionize.step(gapUs)(1L, Iterator(ev(50)), s1).toSeq
    assert(out1.isEmpty)
    assert(s1.get == Sessionize.OpenSession(50L * 1000000, 200L * 1000000, 3L, 3.0))
    // an event FAR before the open session (beyond the gap) is its own
    // immediately-closed session — it must NOT merge into the open one
    val s2 = TestGroupState.create[Sessionize.OpenSession](
      org.apache.spark.api.java.Optional.of(
        Sessionize.OpenSession(100000L * 1000000, 100100L * 1000000, 2L, 2.0)),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      1000L, org.apache.spark.api.java.Optional.of(1L), hasTimedOut = false)
    val out2 = Sessionize.step(gapUs)(1L, Iterator(ev(10)), s2).toSeq
    assert(out2.map(s => (s.session_start.getEpochSecond, s.n_events)) == Seq((10L, 1L)))
    assert(s2.get.startUs == 100000L * 1000000, "open session untouched by the disjoint event")
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("session_window merges events exactly one gap apart (touching windows share a session)") {
    val ssl = SparkSpec.spark
    import ssl.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:30:00", 1.0), // exactly the 30-min gap: SAME session
      (1L, "2024-01-01 01:30:01", 1.0)) // > gap from the previous: new session
      .toDF("user_id", "tss", "value")
      .withColumn("ts", col("tss").cast("timestamp"))
    val out = EventRollup.nativeSessions(ev)
      .select("session_start", "session_end", "n_events")
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().sortBy(_._1.getTime)
    // compare epochs from the SAME session's cast — Timestamp.toString
    // renders in the JVM default timezone, which is host-dependent
    val ts = ev.select("ts").as[java.sql.Timestamp].collect().sortBy(_.getTime)
    assert(out.length == 2, s"touching windows must merge: ${out.toSeq}")
    assert(out(0)._3 == 2L && out(0)._1.getTime == ts(0).getTime &&
      out(0)._2.getTime == ts(1).getTime + 30 * 60 * 1000L)
    assert(out(1)._3 == 1L && out(1)._1.getTime == ts(2).getTime)
  }

  test("FileNotificationCache: dedup, ordered batching, age purge, redelivery") {
    val c = new FileNotificationCache(maxAgeMs = 100)
    c.add(FileNotification("f1", 10, "h1"))
    c.add(FileNotification("f2", 20, "h2"))
    c.add(FileNotification("f3", 5, "h3"))
    assert(!c.isNewFile("f1") && c.isNewFile("f4"))
    // oldest-first, bounded
    assert(c.getUncommitted(2).map(_._1) == Seq("f3", "f1"))
    c.markCommitted("f3"); c.markCommitted("f1")
    assert(c.getUncommitted(0).map(_._1) == Seq("f2"))
    // redelivery of a committed file is NOT new (exactly-once guard)
    assert(!c.isNewFile("f1"))
    // age purge: latest=200 → horizon 100, drops f1(10) f2(20) f3(5)
    c.add(FileNotification("f5", 200, "h5"))
    assert(c.purge() == 3)
    assert(c.size == 1 && !c.isNewFile("f5"))
  }

  test("DirectoryQueueClient: poll parses messages, ack deletes them") {
    val q = tmp("graft-queue")
    Files.write(Paths.get(s"$q/m1.json"),
      """{"path": "/data/a.parquet", "timestamp": 111}""".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$q/m2.json"),
      """{"timestamp": 222, "path": "/data/b.parquet"}""".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$q/junk.txt"), "nope".getBytes(StandardCharsets.UTF_8))
    // malformed .json message: skipped, never crashes the poll loop
    Files.write(Paths.get(s"$q/m3.json"),
      """{"timestamp": "not-a-number"}""".getBytes(StandardCharsets.UTF_8))
    val client = new DirectoryQueueClient(q)
    val polled = client.poll()
    assert(polled.map(_.path) == Seq("/data/a.parquet", "/data/b.parquet"))
    client.ack(polled.map(_.ackHandle))
    assert(client.poll().isEmpty)
  }

  test("graft-queue source: ingests exactly the notified files, acks, checkpoints") {
    val work = tmp("graft-queue-e2e")
    val events = Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts"))) // raw long feed shape
    // two data files, only one notified initially
    events.filter(col("event_id") < 500).coalesce(1).write.parquet(s"$work/data/part1")
    events.filter(col("event_id") >= 500).coalesce(1).write.parquet(s"$work/data/part2")
    def dataFiles(sub: String): Seq[String] =
      Files.list(Paths.get(s"$work/data/$sub")).iterator().asScala.toSeq
        .map(_.toString).filter(_.endsWith(".parquet"))
    Files.createDirectories(Paths.get(s"$work/q"))
    def notify(id: String, path: String, ts: Long): Unit =
      Files.write(Paths.get(s"$work/q/$id.json"),
        s"""{"path": "$path", "timestamp": $ts}""".getBytes(StandardCharsets.UTF_8))
    dataFiles("part1").zipWithIndex.foreach { case (f, i) => notify(s"a$i", f, 100 + i) }

    val schema = org.apache.spark.sql.types.StructType(
      IngestPipeline.rawEventSchema.filterNot(_.name == "ts") :+
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType))
    def startQuery() = spark.readStream
      .format("graft-queue")
      .schema(schema)
      .option("queue.dir", s"$work/q")
      .option("fileFormat", "parquet")
      .option("maxFilesPerTrigger", "4")
      .load()
      .writeStream
      .format("parquet")
      .option("checkpointLocation", s"$work/ckpt")
      .option("path", s"$work/sink")
      .start()

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(s"$work/sink").count() == 500)
    // messages are acked after the batch is logged
    assert(Files.list(Paths.get(s"$work/q")).iterator().asScala.isEmpty)

    // second wave + a REDELIVERY of part1's notification: restart from
    // checkpoint, must ingest only part2 (no duplicates)
    dataFiles("part2").zipWithIndex.foreach { case (f, i) => notify(s"b$i", f, 200 + i) }
    dataFiles("part1").zipWithIndex.foreach { case (f, i) => notify(s"dup$i", f, 201 + i) }
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val sunk = spark.read.parquet(s"$work/sink")
    assert(sunk.count() == events.count(), "redelivered file must not duplicate rows")
    assert(sunk.select("event_id").distinct().count() == events.count())
  }

  test("queue source never acks redeliveries of PENDING files (message may be the only copy)") {
    val work = tmp("graft-queue-pending")
    Files.createDirectories(Paths.get(s"$work/q"))
    def notify(id: String, path: String, ts: Long): Unit =
      Files.write(Paths.get(s"$work/q/$id.json"),
        s"""{"path": "$path", "timestamp": $ts}""".getBytes(StandardCharsets.UTF_8))
    notify("m1", s"$work/data/f1.parquet", 100)
    notify("m2", s"$work/data/f2.parquet", 200)
    notify("m3", s"$work/data/f3.parquet", 300)
    def msg(id: String) = Files.exists(Paths.get(s"$work/q/$id.json"))
    val src = new org.apache.spark.sql.graft.queue.QueueFileSource(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      s"$work/meta",
      Map("queue.dir" -> s"$work/q", "maxFilesPerTrigger" -> "1"),
      org.apache.spark.sql.types.StructType(Nil))
    // trigger 1: f1's batch is logged and acked; f2/f3 stay PENDING —
    // their messages are the only copy of the notification
    src.getOffset
    assert(!msg("m1") && msg("m2") && msg("m3"))
    // trigger 2: m2/m3 re-poll as dups. f2's batch is cut (acked); f3 is
    // still pending — acking its redelivery here would delete the only
    // message BEFORE the batch is logged (a crash then loses the file)
    src.getOffset
    assert(!msg("m2"))
    assert(msg("m3"), "pending redelivery was acked before its batch was logged")
    // trigger 3: f3 commits and only then acks
    src.getOffset
    assert(!msg("m3"))
  }

  test("graft-table streaming sink: exactly-once keyed upsert per micro-batch by format name") {
    import graft.sinks.VersionedTable
    val work = tmp("graft-table-sink")
    val events = Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")))
    val schema = org.apache.spark.sql.types.StructType(
      IngestPipeline.rawEventSchema.filterNot(_.name == "ts") :+
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType))
    events.filter(col("event_id") < 500).write.parquet(s"$work/src")
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$work/src")
        .writeStream.format("graft-table")
        .option("path", s"$work/tbl")
        .option("key", "event_id").option("precombine", "ts")
        .option("checkpointLocation", s"$work/ckpt")
        .partitionBy("event_type")
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    def tbl = VersionedTable.read(spark, s"$work/tbl")
    assert(tbl.count() == 500)
    assert(tbl.inputFiles.exists(_.contains("event_type=")),
      "sink must honor writeStream.partitionBy")
    // the same rows landing again (new files, same keys) upsert, not append
    events.filter(col("event_id") < 500).write.mode("append").parquet(s"$work/src")
    run()
    assert(tbl.count() == 500, "re-landed keys must dedup through the upsert")
    // new keys insert; the full corpus converges exactly once
    events.filter(col("event_id") >= 500).write.mode("append").parquet(s"$work/src")
    run()
    assert(tbl.count() == events.count())
    assert(tbl.select("event_id").distinct().count() == events.count())
    // plain append mode (no key): exactly-once txn'd appends
    val q2 = spark.readStream.schema(schema).parquet(s"$work/src")
      .writeStream.format("graft-table")
      .option("path", s"$work/tbl2")
      .option("checkpointLocation", s"$work/ckpt2")
      .start()
    q2.processAllAvailable(); q2.stop()
    // src holds 500 dups of <500 keys, so append keeps them all
    assert(VersionedTable.read(spark, s"$work/tbl2").count() ==
      events.count() + 500)
    // mergeOnRead mode: each micro-batch is a delta append; the merged
    // read collapses the dup-landed keys exactly once
    val q3 = spark.readStream.schema(schema).parquet(s"$work/src")
      .writeStream.format("graft-table")
      .option("path", s"$work/tbl3")
      .option("key", "event_id").option("precombine", "ts")
      .option("mergeOnRead", "true")
      .option("checkpointLocation", s"$work/ckpt3")
      .start()
    q3.processAllAvailable(); q3.stop()
    assert(VersionedTable.read(spark, s"$work/tbl3").count() == events.count(),
      "MOR sink must collapse dup-landed keys on read")
    // and compaction materializes the same state
    VersionedTable.compactDeltas(spark, s"$work/tbl3")
    assert(VersionedTable.read(spark, s"$work/tbl3").count() == events.count())
  }

  test("graft-table streaming source tails appends exactly-once; rewrites need ignoreChanges") {
    import graft.sinks.VersionedTable
    val ssl = SparkSpec.spark
    import ssl.implicits._
    val work = tmp("graft-table-tail")
    val t = s"$work/tbl"
    def df3(rows: (Long, String, Long)*) = rows.toDF("k", "p", "v")
    VersionedTable.write(spark, t, df3((1L, "a", 1L)), Seq("p"))
    def startQ() = spark.readStream.format("graft-table")
      .option("path", t).option("startingVersion", "0")
      .load()
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$work/ckpt")
      .option("path", s"$work/out")
      .start()
    val q = startQ(); q.processAllAvailable()
    // a plain append and a MOR delta upsert both flow through live
    VersionedTable.write(spark, t, df3((2L, "a", 2L)), Seq("p"), mode = "append")
    VersionedTable.upsertMOR(spark, t, df3((3L, "b", 3L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    q.processAllAvailable(); q.stop()
    def outKeys() = spark.read.parquet(s"$work/out")
      .select("k").as[Long].collect().sorted.toSeq
    assert(outKeys() == Seq(1L, 2L, 3L))
    // appends while stopped: restart catches up from the checkpoint, once
    VersionedTable.write(spark, t, df3((4L, "b", 4L)), Seq("p"), mode = "append")
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    assert(outKeys() == Seq(1L, 2L, 3L, 4L))
    // maintenance rewrites (compaction, optimize) are dataChange=false:
    // a STRICT stream skips them silently, neither dying nor duplicating
    VersionedTable.compactDeltas(spark, t)
    VersionedTable.write(spark, t, df3((5L, "a", 5L)), Seq("p"), mode = "append")
    val q3 = startQ(); q3.processAllAvailable(); q3.stop()
    assert(outKeys() == Seq(1L, 2L, 3L, 4L, 5L))
    VersionedTable.optimize(spark, t, maxFilesPerPartition = 1)
    VersionedTable.write(spark, t, df3((6L, "b", 6L)), Seq("p"), mode = "append")
    val q4 = startQ(); q4.processAllAvailable(); q4.stop()
    assert(outKeys() == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "optimize must not re-emit or drop rows for a strict tail")
    // a REAL rewrite (COW upsert) breaks the strict append contract
    VersionedTable.upsert(spark, t, df3((1L, "a", 100L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val q5 = startQ()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q5.processAllAvailable()
    }
    assert(e.getMessage.contains("not append-only"), e.getMessage)
    q5.stop()
    // ignoreChanges streams past the rewrite (rewrite copies allowed)
    val q6 = spark.readStream.format("graft-table")
      .option("path", t).option("startingVersion", "0")
      .option("ignoreChanges", "true")
      .load()
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$work/ckpt2")
      .option("path", s"$work/out2")
      .start()
    q6.processAllAvailable(); q6.stop()
    assert(spark.read.parquet(s"$work/out2")
      .select("k").distinct().as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // expired log versions under a lagging checkpoint fail LOUDLY
    (7 to 30).foreach(i =>
      VersionedTable.write(spark, t, df3((i.toLong, "a", i.toLong)), Seq("p"), mode = "append"))
    val gone = VersionedTable.expireLog(spark, t, keepVersions = 5)
    assert(gone.nonEmpty, "test setup: expiry must drop versions")
    val q7 = startQ() // checkpoint still at the old offset
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q7.processAllAvailable()
    }
    assert(e2.getMessage.contains("expired from the log"), e2.getMessage)
    q7.stop()
  }

  test("graft-queue source under burst load: bounded batches, measured throughput") {
    val work = tmp("graft-queue-load")
    val events = Tables.events(spark, sf)
      .withColumn("ts", unix_micros(col("ts")))
    events.repartition(12).write.parquet(s"$work/data")
    val files = Files.list(Paths.get(s"$work/data")).iterator().asScala.toSeq
      .map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(files.size == 12)
    Files.createDirectories(Paths.get(s"$work/q"))
    files.zipWithIndex.foreach { case (f, i) =>
      Files.write(Paths.get(s"$work/q/m$i.json"),
        s"""{"path": "$f", "timestamp": ${100 + i}}""".getBytes(StandardCharsets.UTF_8))
    }
    val schema = org.apache.spark.sql.types.StructType(
      IngestPipeline.rawEventSchema.filterNot(_.name == "ts") :+
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType))
    val t0 = System.nanoTime()
    val q = spark.readStream
      .format("graft-queue")
      .schema(schema)
      .option("queue.dir", s"$work/q")
      .option("fileFormat", "parquet")
      .option("maxFilesPerTrigger", "4")
      .load()
      .writeStream
      .format("parquet")
      .option("checkpointLocation", s"$work/ckpt")
      .option("path", s"$work/sink")
      .start()
    q.processAllAvailable()
    val sec = (System.nanoTime() - t0) / 1e9
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    val n = events.count()
    assert(spark.read.parquet(s"$work/sink").count() == n,
      "burst must ingest every notified file exactly once")
    // 12 files at maxFilesPerTrigger=4 → at least 3 data batches
    assert(dataBatches >= 3, s"expected bounded batches, got $dataBatches")
    info(f"queue burst: $n rows / 12 files in $sec%.1f s " +
      f"(${n / sec}%.0f rows/s, $dataBatches data batches)")
  }

  test("streaming dedup guard drops duplicate ingest_ids") {
    val work = tmp("graft-dedup")
    val ev = Tables.events(spark, sf)
    // land the same FEED file twice (the reference's Hudi duplicate
    // scenario) — staged in the int64-nanos feed shape rawEventSchema
    // declares, never a verbatim copy of the table file (its physical ts
    // encoding is the generator's choice)
    IngestPipeline.stageFeed(ev, s"$work/staged")
    val part = Files.list(Paths.get(s"$work/staged")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).next()
    Files.createDirectories(Paths.get(s"$work/in"))
    Files.copy(part, Paths.get(s"$work/in/a.parquet"))
    Files.copy(part, Paths.get(s"$work/in/b.parquet"))
    val q = IngestPipeline.start(spark, s"$work/in", s"$work/sink", s"$work/ckpt",
      dedup = true, maxFilesPerTrigger = 2)
    q.awaitTermination()
    val sunk = spark.read.parquet(s"$work/sink")
    assert(sunk.count() == ev.count(), "dedup must collapse the doubled file")
  }

  test("streaming windowed rollup equals batch rollup (complete mode)") {
    val work = tmp("graft-rollup")
    IngestPipeline.stageFeed(Tables.events(spark, sf), s"$work/in")
    val stream = EventRollup.rollupStream(IngestPipeline.transform(
      IngestPipeline.source(spark, s"$work/in")).select("ts", "event_type", "value"))
    val q = stream.writeStream
      .format("memory").queryName("rollup_mem").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("rollup_mem")
      .orderBy("window_start", "event_type").collect()
    val batch = EventRollup.batch(spark, sf).collect()
    assert(streamed.length == batch.length)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("streaming sessionization closes the same sessions as batch") {
    import org.apache.spark.sql.{Encoders => E}
    val work = tmp("graft-sess")
    IngestPipeline.stageFeed(Tables.events(spark, sf), s"$work/in")
    val evs = IngestPipeline.transform(IngestPipeline.source(spark, s"$work/in"))
      .select(col("user_id"), col("ts"), col("value"))
      .as(E.product[Sessionize.Ev])
    val q = Sessionize.stream(evs).writeStream
      .format("memory").queryName("sess_mem").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sess_mem")
      .select("user_id", "session_start", "n_events")
      .orderBy("user_id", "session_start").collect()
    val batch = Sessionize.batch(Tables.events(spark, sf))
      .select("user_id", "session_start", "n_events")
      .orderBy("user_id", "session_start").collect()
    // Streaming emits the prefix of sessions the watermark closed; every
    // emitted session must exactly match its batch twin.
    assert(streamed.nonEmpty, "watermark should close most sessions on this data")
    val batchByKey = batch.map(r => (r.getLong(0), r.getTimestamp(1)) -> r).toMap
    streamed.foreach { s =>
      val twin = batchByKey.get((s.getLong(0), s.getTimestamp(1)))
      assert(twin.isDefined, s"streamed session $s missing from batch")
      assert(twin.get.getLong(2) == s.getLong(2), s"n_events mismatch for $s")
    }
  }

  test("sliding rollup places every event in exactly two windows") {
    val total = Tables.events(spark, sf).count()
    val windowed = EventRollup.slidingBatch(spark, sf)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(windowed == 2 * total, s"$windowed vs 2x$total")
  }

  test("stream-stream interval join equals the batch interval join") {
    val streamed = graft.streaming.StreamJoin.roundTrip(spark, sf).collect()
    val ev = Tables.events(spark, sf).select("user_id", "ts", "event_id", "event_type")
    val batch = ev.alias("e").join(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_event_id"))
          .alias("c"),
        expr("e.user_id = c.user_id AND e.ts >= c.cts AND e.ts < c.cts + interval 1 hour"))
      .select(col("e.event_id"), col("c.click_event_id"))
      .orderBy("event_id", "click_event_id").collect()
    assert(streamed.nonEmpty && streamed.length == batch.length,
      s"${streamed.length} vs ${batch.length}")
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("withMicroBatchDml turns AQE off for its own stream only") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.streaming.Trigger
    val aqe = "spark.sql.adaptive.enabled"
    val dir = java.nio.file.Files.createTempDirectory("graft-two-streams").toFile.getAbsolutePath
    spark.range(10).toDF("id").write.parquet(s"$dir/in")
    val held = new CountDownLatch(1) // stream a is inside withMicroBatchDml
    val seen = new CountDownLatch(1) // stream b and the batch query have looked
    val inA, inB = new java.util.concurrent.atomic.AtomicReference("")
    def start(name: String)(body: DataFrame => Unit) =
      spark.readStream.schema("id BIGINT").parquet(s"$dir/in").writeStream
        .foreachBatch((b: DataFrame, _: Long) => body(b))
        .option("checkpointLocation", s"$dir/ckpt-$name")
        .trigger(Trigger.AvailableNow()).start()
    val a = start("a") { b =>
      GraftSession.withMicroBatchDml(b) {
        inA.set(b.sparkSession.conf.get(aqe))
        held.countDown()
        assert(seen.await(60, TimeUnit.SECONDS), "stream b never looked")
      }
    }
    var b = Option.empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      assert(held.await(60, TimeUnit.SECONDS), "stream a never entered its body")
      b = Some(start("b") { b => inB.set(b.sparkSession.conf.get(aqe)) })
      b.get.awaitTermination()
      val plan = spark.range(100).groupBy(col("id") % 3).count().queryExecution.executedPlan
      seen.countDown()
      a.awaitTermination()
      assert(inA.get == "false")
      assert(inB.get == "true", "stream b saw stream a's AQE setting")
      assert(spark.conf.get(aqe) == "true")
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], s"batch query planned without AQE:\n$plan")
    } finally { seen.countDown(); a.stop(); b.foreach(_.stop()) }
  }
}
