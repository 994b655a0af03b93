package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Op
import graft.operators.Enrich

/** Streaming ingest: file source → enrichment → partitioned parquet sink
  * with checkpointed exactly-once semantics.
  *
  * Reference: `jobs/S3ToParquetStreamJob.scala:55-87` (readStream with
  * schema + maxFilesPerTrigger → withColumn enrichment → writeStream
  * parquet partitioned by (Date, Country), Append, checkpointLocation).
  *
  * Spark-first changes:
  *  - `Trigger.AvailableNow` for bounded runs (tests/backfills) instead of
  *    `awaitAnyTermination` forever;
  *  - optional watermarked `dropDuplicates` on the deterministic ingest id
  *    — the exactly-once guard whose absence caused the reference's Hudi
  *    duplicate repro (README.md:115-122);
  *  - partition column is the derived event_date: low cardinality, so the
  *    sink writes ~1 file per partition per micro-batch; at 100 TB the
  *    layout stays prune-friendly and small-file pressure is bounded by
  *    trigger rate, not key cardinality.
  */
object IngestPipeline {

  /** Raw schema of the events FEED as landed (ts = int64 nanos — the
    * reference's queue feed shape). Streaming sources need an explicit
    * schema, so the staged feed dirs are materialized in exactly this
    * shape ([[stagedEventsDir]]/[[stagedEventsMultiDir]]) regardless of
    * the physical encoding of the source-of-truth events table —
    * verbatim-copying the table file here is what broke when the
    * generator switched TIMESTAMP(NANOS) → timestamp[us].
    */
  val rawEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Normalize the raw feed (whatever ts shape it carries — int64 nanos,
    * NTZ, or timestamp), then standard enrichment.
    */
  def transform(raw: DataFrame): DataFrame =
    Enrich.enrichFrame(graft.sources.Tables.normalizeTs(raw, "events-feed"))

  /** Materialize normalized events rows at `path` in the declared FEED
    * shape ([[rawEventSchema]]: ts = int64 NANOS). THE single spelling
    * of the feed encoding — every staging site (round trips, demos,
    * specs) goes through here, so the next feed-contract change is one
    * edit, not a hunt.
    */
  def stageFeed(events: DataFrame, path: String, nFiles: Int = 1): Unit = {
    val feed = events.withColumn("ts", unix_micros(col("ts")) * 1000L)
    (if (nFiles == 1) feed.coalesce(1) else feed.repartition(nFiles))
      .write.mode("overwrite").parquet(path)
  }

  /** File-source config: format + explicit schema + reader options, with
    * the reference's maxFilesPerTrigger batching (`S3ToParquetStreamJob
    * .scala:55-63` reads csv with header+schema the same way).
    */
  final case class FileSourceConfig(
      schema: StructType,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      maxFilesPerTrigger: Int = 4)

  def source(spark: SparkSession, path: String, cfg: FileSourceConfig): DataFrame =
    spark.readStream
      .format(cfg.format)
      .schema(cfg.schema)
      .options(cfg.options)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger.toString)
      .load(path)

  /** Parquet events feed (nanos-as-long, see [[rawEventSchema]]). */
  def source(spark: SparkSession, path: String, maxFilesPerTrigger: Int = 4): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    source(spark, path, FileSourceConfig(rawEventSchema, maxFilesPerTrigger = maxFilesPerTrigger))
  }

  /** Enriched stream with the exactly-once dedup guard: drop events whose
    * deterministic ingest_id was already seen within the watermark. The
    * watermarked event-time column must be PART of the dedup key subset —
    * Structured Streaming only evicts dropDuplicates state for keys that
    * include it; keying on the id alone grows state forever. Duplicates
    * carry an identical deterministic ts, so adding it leaves the
    * semantics unchanged while bounding state to the watermark horizon.
    * The shuffle keys on the 128-bit id — uniform by construction.
    */
  def withDedup(enriched: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    enriched
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("ingest_id", "ts")

  /** Start the full pipeline; AvailableNow processes the backlog in
    * maxFilesPerTrigger-bounded batches then stops. The sink goes through
    * [[graft.sinks.TableSink]] so format/partitioning/upsert config is the
    * same surface batch writers use.
    */
  def start(
      spark: SparkSession,
      sourcePath: String,
      sinkPath: String,
      checkpointPath: String,
      dedup: Boolean = false,
      maxFilesPerTrigger: Int = 4,
      partitionBy: Seq[String] = Seq("event_date")): StreamingQuery = {
    val enriched = transform(source(spark, sourcePath, maxFilesPerTrigger))
    val out = if (dedup) withDedup(enriched) else enriched
    startSink(out, sinkPath, checkpointPath, partitionBy)
  }

  private[graft] def startSink(
      out: DataFrame, sinkPath: String, checkpointPath: String,
      partitionBy: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // Repartition on the hive partition columns before the sink: each
    // output directory is then written by exactly one task (1 file per
    // dir per micro-batch — the layout compact() targets), and the
    // per-directory creates run in PARALLEL across tasks. Without this a
    // single-split source writes all |dates×categories| directories
    // sequentially from one task — on a slow-create filesystem that
    // serial chain IS the pipeline's wall clock.
    val shaped =
      if (partitionBy.isEmpty) out
      else out.repartition(partitionBy.map(col): _*)
    graft.sinks.TableSink.streamWriter(
        shaped.writeStream,
        graft.sinks.TableSink.SinkConfig(
          format = "parquet", path = sinkPath, partitionBy = partitionBy,
          mode = "append"),
        checkpointPath)
      .trigger(trigger)
      .start()
  }

  /** Staged INPUT directories are cached per source dir — they are test
    * harness setup (a file stream reads landed-file DIRECTORIES, the
    * reference's S3 prefix), not pipeline work, and re-materializing them
    * on every round-trip run would bill staging to the pipeline. Sink and
    * checkpoint dirs stay fresh per run (a reused checkpoint would make
    * AvailableNow a no-op).
    */
  private val stagedInputs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[streaming] def stagedEventsDir(spark: SparkSession, dir: String): String =
    stagedInputs.computeIfAbsent("parquet:" + dir, { _ =>
      val work = graft.Scratch.dir("graft-ingest-in")
      // Stage the FEED shape from the normalized table — never copy the
      // table file verbatim: its physical ts encoding is the generator's
      // choice, not the feed contract, and a silent encoding drift then
      // reads as garbage longs.
      stageFeed(graft.sources.Tables.events(spark, dir), work)
      work
    })

  private def stagedEventsCsvDir(spark: SparkSession, dir: String): String =
    stagedInputs.computeIfAbsent("csv:" + dir, { _ =>
      val work = graft.Scratch.dir("graft-csv-in")
      graft.sources.Tables.events(spark, dir)
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("header", "true").csv(work)
      work
    })

  /** Events staged as N parquet files with ts as an int64-nanos column —
    * the feed shape [[rawEventSchema]]/[[transform]] expect — so the
    * queue round trip exercises real maxFilesPerTrigger batching.
    */
  private[streaming] def stagedEventsMultiDir(spark: SparkSession, dir: String): String =
    stagedInputs.computeIfAbsent("multi:" + dir, { _ =>
      val work = graft.Scratch.dir("graft-queue-in")
      stageFeed(graft.sources.Tables.events(spark, dir), work, nFiles = 8)
      work
    })

  /** Driver-checkable op for the queue-notification Source (the
    * reference's SqsSource pipeline, `jobs/S3SQSToParquetStreamJob.scala`
    * + `sqs/SqsSource.scala:42-116`): land one file-created notification
    * per staged events file in a fresh queue dir, stream through
    * `graft-queue` (dedup cache, batching, ack-after-commit) → enrich →
    * partitioned sink, read the sink back. Same oracle as
    * `q_stream_ingest` — the transport must not change the data.
    */
  def queueIngestRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val data = stagedEventsMultiDir(spark, dir)
    val files = new java.io.File(data).listFiles()
      .map(_.getAbsolutePath).filter(_.endsWith(".parquet")).sorted
    // Queue + checkpoint are fresh per run: messages are acked (deleted)
    // on commit, so a reused queue dir would replay nothing.
    val work = graft.Scratch.dir("graft-queue-rt")
    Files.createDirectories(java.nio.file.Paths.get(s"$work/q"))
    files.zipWithIndex.foreach { case (f, i) =>
      Files.write(java.nio.file.Paths.get(s"$work/q/m$i.json"),
        s"""{"path": "$f", "timestamp": ${100 + i}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val raw = spark.readStream
      .format("graft-queue")
      .schema(rawEventSchema)
      .option("queue.dir", s"$work/q")
      .option("fileFormat", "parquet")
      .option("maxFilesPerTrigger", "4")
      .load()
    // The custom Source is driven by the default micro-batch trigger
    // (its admission control is the queue itself + maxFilesPerTrigger);
    // processAllAvailable drains the queue, then the query stops.
    val q = StreamTuning.withStatePartitions(spark) {
      startSink(transform(raw), s"$work/sink",
        StreamTuning.scratchDir("graft-queue-rt-ckpt"), Seq("event_date"),
        trigger = Trigger.ProcessingTime(0L))
    }
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(s"$work/sink")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Driver-checkable op: run the real streaming pipeline over the events
    * parquet, then read the partitioned sink back. Deterministic columns
    * only (ingest_ts excluded); the oracle is the equivalent batch SQL.
    */
  def ingestRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-ingest")
    val q = StreamTuning.withStatePartitions(spark) {
      start(spark, stagedEventsDir(spark, dir), s"$work/sink",
        StreamTuning.scratchDir("graft-ingest-ckpt"))
    }
    q.awaitTermination()
    spark.read.parquet(s"$work/sink")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Driver-checked streaming→Delta round trip THROUGH THE WIRE FORMAT —
    * the reference's flagship job shape (`jobs/S3ToDeltaStreamJob.scala`:
    * readStream → enrich → `.format("delta")` partitioned sink), with
    * the Delta log written by [[graft.sinks.DeltaInterop]] instead of a
    * connector jar. Each micro-batch is one txn-stamped append commit
    * (exactly-once), event_date becomes the hive partition layout +
    * `partitionValues`, and the read-back replays the commit log — so
    * the whole log/stats/partition machinery sits under the DuckDB hash
    * gate: the result must equal ONE enriched copy of the events table.
    */
  def deltaStreamRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-delta-stream-rt")
    val enriched = transform(source(spark, stagedEventsDir(spark, dir)))
    val q = enriched.writeStream
      .format("graft-delta")
      .option("path", s"$work/tbl")
      .partitionBy("event_date")
      .option("appId", "graft-delta-stream-rt")
      .option("checkpointLocation", StreamTuning.scratchDir("graft-dstream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sinks.DeltaInterop.read(spark, s"$work/tbl")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Streaming→Hudi round trip through the wire format, fed the
    * DUPLICATE-landing feed: the reference's Hudi duplicate repro
    * (README.md:115-122) is exactly this shape — and here the keyed
    * upsert (`TableSink.streamBatch`, record key = event_id,
    * precombine latest-wins) makes re-landed events converge to ONE
    * copy, the lakehouse fix the reference reached for. Hudi replays
    * are idempotent rather than txn-skipped, so the oracle equality is
    * the convergence proof.
    */
  def hudiStreamRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-hudi-stream-rt")
    val enriched = transform(source(spark, stagedDupEventsDir(spark, dir)))
    val q = enriched.writeStream
      .format("graft-hudi")
      .option("path", s"$work/tbl")
      .partitionBy("event_date")
      .option("recordKey", "event_id")
      .option("precombine", "event_id")
      .option("appId", "graft-hudi-stream-rt")
      .option("checkpointLocation", StreamTuning.scratchDir("graft-hstream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sinks.HudiInterop.read(spark, s"$work/tbl")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Streaming→Hudi MERGE_ON_READ round trip — the reference's Hudi job
    * with `hoodie.datasource.write.table.type=MERGE_ON_READ`
    * (`S3ToHudiStreamJob.scala`), fed the DUPLICATE-landing feed one
    * file per micro-batch: batch 0 bootstraps base slices under a
    * deltacommit, each later batch appends AVRO LOG BLOCKS to the
    * touched file groups — zero base rewrites on the hot path, the
    * trade MOR exists for. Convergence story: re-landed events append
    * another log block with identical values and the latest-wins
    * collapse still yields ONE copy, so the oracle equality proves the
    * read-side merge (base + logs across micro-batches) end to end.
    */
  def hudiMorStreamRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-hudi-mor-stream")
    val path = s"$work/tbl"
    val enriched = transform(
      source(spark, stagedDupEventsDir(spark, dir), maxFilesPerTrigger = 1))
    val q = enriched.writeStream
      .option("checkpointLocation", StreamTuning.scratchDir("graft-hmstream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch(graft.sinks.HudiMor.streamBatchUpserter(path,
        recordKey = "event_id", precombine = "event_id", partitionBy = Seq("event_date")))
      .start()
    q.awaitTermination()
    graft.sinks.HudiInterop.read(spark, path)
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Streaming→Iceberg round trip through the wire format (the
    * reference's `S3ToIcebergStreamJob` without the runtime jar): one
    * snapshot per micro-batch, `graft.txn` property exactly-once,
    * read-back resolves metadata → manifest list → manifests.
    */
  def icebergStreamRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-iceberg-stream-rt")
    val enriched = transform(source(spark, stagedEventsDir(spark, dir)))
    val q = enriched.writeStream
      .format("graft-iceberg")
      .option("path", s"$work/tbl")
      .option("appId", "graft-iceberg-stream-rt")
      .option("checkpointLocation", StreamTuning.scratchDir("graft-istream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sinks.IcebergInterop.read(spark, s"$work/tbl")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Streaming MERGE→Delta round trip through the wire format, fed the
    * DUPLICATE-landing feed one file per micro-batch: batch 0 bootstraps
    * the table, each later batch first collapses in-batch copies
    * (MERGE's multiple-source-rows contract) and then merges keyed on
    * event_id — matched rows update, new rows insert — under an
    * (appId, batchId) txn action ([[graft.sinks.DeltaInterop.merge]]).
    * Re-landed events converge to ONE copy whatever the batch split,
    * and a recovery-replayed batch is a no-op: the CDC-upsert sink,
    * exactly-once end to end (the third convergence spelling next to
    * Hudi's idempotent-replay upsert and the dropDuplicates guard).
    */
  def deltaStreamMergeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{DeltaInterop, VersionedTable}
    val work = graft.Scratch.dir("graft-delta-merge-stream")
    val path = s"$work/tbl"
    val enriched = transform(
      source(spark, stagedDupEventsDir(spark, dir), maxFilesPerTrigger = 1))
    val q = enriched.writeStream
      .option("checkpointLocation", StreamTuning.scratchDir("graft-dmstream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.GraftSession.withMicroBatchDml(batch) {
          val b = batch.dropDuplicates("event_id").persist()
          try {
            // no emptiness probe: a txn-stamped write that stages no row
            // publishes nothing (no v0 from an empty batch), and merge
            // answers it from the key-envelope aggregate it runs anyway
            if (DeltaInterop.latestVersion(b.sparkSession, path) < 0)
              DeltaInterop.write(b, path, partitionBy = Seq("event_date"),
                txn = Some(("graft-delta-merge-stream", batchId)))
            else {
              val set = b.columns.filterNot(_ == "event_id").toSeq
                .map(c => c -> col(s"s.$c")).toMap
              DeltaInterop.merge(b.sparkSession, path, b,
                on = Seq("event_id"),
                clauses = Seq(VersionedTable.MatchedUpdate(set),
                  VersionedTable.NotMatchedInsert()),
                txn = Some(("graft-delta-merge-stream", batchId)))
            }
            ()
          } finally { b.unpersist(); () }
        }
      }
      .start()
    q.awaitTermination()
    DeltaInterop.read(spark, path)
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** CDC REPLICATION end to end: a Delta source table takes real DML
    * (append, predicate delete, keyed update, late inserts), and a
    * REPLICA converges to the identical end state by consuming ONLY the
    * source's change feed — `readStream.format("graft-delta")
    * .option("readChangeFeed")` tail → per-batch last-change-per-key
    * collapse (`_commit_version` ordering; a batch may carry many
    * commits) → txn-stamped MERGE (update/insert) + delete clauses into
    * the replica. Runs the stream TWICE against one checkpoint — the
    * second pass resumes from the persisted offset and applies only the
    * new commits, which is the restart contract a production replica
    * lives by. The oracle pins the replica's full row set equal to the
    * source's end-state algebra.
    *
    * 100 TB shape: the feed moves only changed rows; the collapse is one
    * bounded window per batch; the merge prunes the replica by the
    * batch's key envelope. This is the cross-region-replica / dev-mirror
    * pattern, wire-format only — no connector jars.
    */
  def deltaCdcReplicationRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{DeltaInterop, VersionedTable}
    import org.apache.spark.sql.expressions.Window
    val work = graft.Scratch.dir("graft-delta-repl")
    val src = s"$work/src"
    val dst = s"$work/replica"
    val ckpt = StreamTuning.scratchDir("graft-repl-ckpt")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val dataCols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")

    def applyBatch(batch: DataFrame, batchId: Long): Unit =
      graft.GraftSession.withMicroBatchDml(batch) {
      val sparkB = batch.sparkSession
      // a batch may span several commits touching one key: the LAST
      // change wins; preimages are bookkeeping, never state
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("_commit_version").desc)
      val last = batch
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(dataCols.map(col) :+
          (col("_change_type") === "delete").as("__del"): _*)
        .persist()
      try {
        // no emptiness probe: a txn-stamped write that stages no row
        // publishes nothing (no v0 from an empty or delete-only batch),
        // and merge's own key envelope answers it on the merge branch
        if (DeltaInterop.latestVersion(sparkB, dst) < 0) {
          DeltaInterop.write(
            last.filter(!col("__del")).select(dataCols.map(col): _*), dst,
            txn = Some(("graft-delta-repl", batchId)))
          ()
        } else {
          val set = dataCols.filterNot(_ == "o_orderkey")
            .map(c => c -> col(s"s.$c")).toMap
          DeltaInterop.merge(sparkB, dst, last, on = Seq("o_orderkey"),
            clauses = Seq(
              VersionedTable.MatchedDelete(Some(col("s.__del"))),
              VersionedTable.MatchedUpdate(set, Some(!col("s.__del"))),
              VersionedTable.NotMatchedInsert(
                values = Some(dataCols.map(c => c -> col(s"s.$c")).toMap),
                cond = Some(!col("s.__del")))),
            txn = Some(("graft-delta-repl", batchId)))
          ()
        }
      } finally { last.unpersist(); () }
    }

    def runFeed(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("path", src).option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(applyBatch _)
        .start()
      q.awaitTermination()
    }

    // phase 1: bootstrap + CDF on + predicate delete, then replicate
    DeltaInterop.write(orders, src)                                   // v0
    DeltaInterop.setTableProperties(spark, src,
      Map("delta.enableChangeDataFeed" -> "true"))                    // v1
    DeltaInterop.delete(spark, src, col("o_totalprice") > 400000.0)   // v2
    runFeed()
    // phase 2: keyed update + fresh inserts land AFTER the first pass;
    // the resumed stream applies only the new commits
    DeltaInterop.update(spark, src, col("o_orderkey") % 10 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0))))     // v3
    DeltaInterop.write(orders.filter(col("o_totalprice") > 450000.0)
      .withColumn("o_orderkey", -col("o_orderkey")), src)             // v4
    runFeed()
    DeltaInterop.read(spark, dst)
      .select(dataCols.map(col): _*)
      .orderBy(col("o_orderkey"))
  }

  /** Streaming MERGE→Iceberg round trip — the Flink-CDC upsert-stream
    * shape on the wire format: the duplicate-landing feed, one file per
    * micro-batch, each batch one MERGE-ON-READ snapshot (equality
    * delete + appends at one sequence) keyed on event_id under a
    * `graft.txn` token ([[graft.sinks.IcebergInterop.merge]]). The
    * read-back resolves the sequence-scoped delete chain; convergence
    * to one copy per event IS the oracle equality.
    */
  def icebergStreamMergeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{IcebergInterop, VersionedTable}
    val work = graft.Scratch.dir("graft-iceberg-merge-stream")
    val path = s"$work/tbl"
    val enriched = transform(
      source(spark, stagedDupEventsDir(spark, dir), maxFilesPerTrigger = 1))
    val q = enriched.writeStream
      .option("checkpointLocation", StreamTuning.scratchDir("graft-imstream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.GraftSession.withMicroBatchDml(batch) {
          val b = batch.dropDuplicates("event_id").persist()
          try {
            // no emptiness probe: a txn-stamped write that stages no row
            // publishes nothing (no empty-table commit), and merge answers
            // it from its own key envelope
            if (!IcebergInterop.tableExists(b.sparkSession, path))
              IcebergInterop.write(b, path,
                txn = Some(("graft-iceberg-merge-stream", batchId)))
            else {
              val set = b.columns.filterNot(_ == "event_id").toSeq
                .map(c => c -> col(s"s.$c")).toMap
              IcebergInterop.merge(b.sparkSession, path, b,
                on = Seq("event_id"),
                clauses = Seq(VersionedTable.MatchedUpdate(set),
                  VersionedTable.NotMatchedInsert()),
                txn = Some(("graft-iceberg-merge-stream", batchId)))
            }
            ()
          } finally { b.unpersist(); () }
        }
      }
      .start()
    q.awaitTermination()
    IcebergInterop.read(spark, path)
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** CSV ingest round-trip — the reference's primary pipeline shape
    * (retail CSV with header + explicit schema → string-timestamp parse →
    * two-level hive partitioning (Date, Country) ≙ (event_date,
    * event_type)). The op stages the events table as CSV with a string
    * timestamp, streams it through the csv file source in
    * maxFilesPerTrigger batches, enriches (multi-format parse,
    * deterministic uuid), writes the partitioned sink, reads it back.
    */
  val csvEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_str", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  def csvIngestRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-csv-ingest")
    val raw = source(spark, stagedEventsCsvDir(spark, dir),
      FileSourceConfig(csvEventSchema, format = "csv", options = Map("header" -> "true")))
    val enriched = Enrich.enrichFrame(
      raw.withColumn("ts", Enrich.parseEventTime(col("ts_str"))))
    val q = StreamTuning.withStatePartitions(spark) {
      startSink(enriched, s"$work/sink",
        StreamTuning.scratchDir("graft-csv-ckpt"),
        Seq("event_date", "event_type"))
    }
    q.awaitTermination()
    spark.read.parquet(s"$work/sink")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("event_type"), col("ingest_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** The exactly-once guard, driver-checked: the SAME events file landed
    * TWICE (the duplicate-delivery scenario behind the reference's Hudi
    * dup repro, README.md:115-122), streamed through the watermarked
    * dropDuplicates on the deterministic ingest_id. Output must equal ONE
    * copy — the oracle is the plain events table. The watermark spans the
    * data's full horizon so the guarantee holds however the files split
    * across micro-batches.
    */
  /** The dup-landing feed: TWO copies of the staged feed file (same
    * int64-nanos shape as [[stagedEventsDir]] — reuse its part file
    * rather than re-copying the table verbatim, see the note there).
    *
    * The base feed resolves BEFORE this key's computeIfAbsent: a mapping
    * function that touches another key of the SAME ConcurrentHashMap is
    * a recursive update (IllegalStateException when the keys share a
    * bin).
    */
  private[streaming] def stagedDupEventsDir(spark: SparkSession, dir: String): String = {
    val base = stagedEventsDir(spark, dir)
    stagedInputs.computeIfAbsent("dup:" + dir, { _ =>
      val work = graft.Scratch.dir("graft-dup-in")
      val part = new java.io.File(base).listFiles()
        .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      Seq("a", "b").foreach { tag =>
        Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$work/events_$tag.parquet"))
      }
      work
    })
  }

  def dedupRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-dedup-ingest")
    // ~5 MB of ingest_id state at sf0.1 → the state-volume sizing rule
    // (see StreamJoin) puts the dedup store at the partition floor.
    val q = StreamTuning.withStatePartitions(spark, 4) {
      val enriched = transform(source(spark, stagedDupEventsDir(spark, dir)))
      startSink(withDedup(enriched, watermarkDelay = "768 hours"),
        s"$work/sink", StreamTuning.scratchDir("graft-dedup-ckpt"), Seq("event_date"))
    }
    q.awaitTermination()
    spark.read.parquet(s"$work/sink")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Driver-checkable declarative table sink: the SAME dup-landing feed
    * as [[dedupRoundTrip]], but exactly-once comes from the
    * `format("graft-table")` sink's keyed upsert + txn tokens instead of
    * watermarked dropDuplicates state — the lakehouse answer to the
    * reference's Hudi duplicate repro (README.md:115-122). Output must
    * equal ONE copy of the events table.
    */
  def tableSinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val work = graft.Scratch.dir("graft-table-sink-rt")
    val enriched = transform(source(spark, stagedDupEventsDir(spark, dir)))
    val q = enriched.writeStream
      .format("graft-table")
      .option("path", s"$work/tbl")
      .option("key", "event_id").option("precombine", "event_id")
      .option("checkpointLocation", StreamTuning.scratchDir("graft-tsink-ckpt"))
      .partitionBy("event_date")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sinks.VersionedTable.read(spark, s"$work/tbl")
      .select(
        col("event_id"), col("event_date"), col("event_hour"),
        col("ingest_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val ops: Seq[Op] = Seq(
    Op("q_stream_delta", deltaStreamRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_hudi", hudiStreamRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_hudi_mor", hudiMorStreamRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_delta_merge", deltaStreamMergeRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_cdc_replica", deltaCdcReplicationRoundTrip,
      Some("""
        WITH survivors AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
          WHERE NOT (o_totalprice > 400000.0)),
        updated AS (
          SELECT o_orderkey, o_orderstatus,
            CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
                 ELSE o_totalprice END AS o_totalprice
          FROM survivors),
        late AS (
          SELECT -o_orderkey AS o_orderkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_totalprice > 450000.0)
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM (SELECT * FROM updated UNION ALL SELECT * FROM late)
        ORDER BY o_orderkey""")),
    Op("q_stream_iceberg_merge", icebergStreamMergeRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_iceberg", icebergStreamRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_table_sink", tableSinkRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_queue", queueIngestRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_dedup", dedupRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_csv", csvIngestRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          event_type,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          value
        FROM events
        ORDER BY event_id""")),
    Op("q_stream_ingest", ingestRoundTrip,
      Some("""
        SELECT event_id,
          CAST(ts AS DATE) AS event_date,
          CAST(EXTRACT(HOUR FROM ts) AS INT) AS event_hour,
          concat_ws('-',
            substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
            substr(md5(CAST(event_id AS VARCHAR)), 9, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 13, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 17, 4),
            substr(md5(CAST(event_id AS VARCHAR)), 21, 12)) AS ingest_id,
          event_type, value
        FROM events
        ORDER BY event_id"""))
  )
}
