package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.{DeltaInterop, HudiInterop, HudiMor, IcebergInterop, TableSink, VersionedTable}
import graft.streaming.IngestPipeline

/** Helpers shared by the two streaming workloads. */
object Streams {
  /** Run a stream to completion; returns its id and the wall seconds from
    * start to stop.
    */
  def drain(ctx: Ctx, name: String)(start: => StreamingQuery): (String, Double) = {
    val t0 = System.nanoTime()
    val q = ctx.rec.span("streaming", s"stream $name", name)(start)
    q.awaitTermination()
    finished(ctx, q)
    (q.id.toString, (System.nanoTime() - t0) / 1e9)
  }

  /** Drain a stream whose source has no AvailableNow support. */
  def drainAll(ctx: Ctx, name: String)(start: => StreamingQuery): (String, Double) = {
    val t0 = System.nanoTime()
    val q = ctx.rec.span("streaming", s"stream $name", name)(start)
    q.processAllAvailable()
    q.stop()
    q.exception.foreach(e => throw e)
    finished(ctx, q)
    (q.id.toString, (System.nanoTime() - t0) / 1e9)
  }

  /** Keep a stopped query's progress reports. Read from the query itself:
    * listener events arrive asynchronously and may still be queued.
    */
  def finished(ctx: Ctx, q: StreamingQuery): Unit =
    ctx.progress(q.id.toString) = q.recentProgress.toSeq.map(SparkEvents.progressOf)

  /** Micro-batches of one query that carried input rows. */
  def batches(ctx: Ctx, queryId: String): Seq[Progress] =
    ctx.progress.getOrElse(queryId, Nil).filter(p => p.rows > 0 && p.durations.contains("addBatch"))
      .sortBy(_.batchId)

  /** Every file under `dir`, recursively. */
  def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir))
  }
  def bytes(dir: String): Long = files(dir).map(_.length).sum

  /** Data files (parquet bases and Hudi log blocks) under a table dir. */
  def dataFiles(dir: String): Seq[File] = files(dir).filter { f =>
    val n = f.getName
    (n.endsWith(".parquet") || n.contains(".log.")) && !n.startsWith(".") &&
      !f.getPath.contains("/_delta_log/") && !f.getPath.contains("/metadata/") &&
      !f.getPath.contains("/.hoodie/") && !f.getPath.contains("/_graft_log/")
  }

  /** Live data files of a table, through each format's public API. */
  def liveFiles(spark: SparkSession, format: String, path: String): Long = format match {
    case "parquet" => dataFiles(path).size.toLong
    case "delta" => DeltaInterop.snapshot(spark, path).adds.size.toLong
    case "iceberg" => IcebergInterop.metadataTable(spark, path, "files").count()
    case "hudi" => HudiInterop.metadataTable(spark, path, "files").count()
    case "graft" => VersionedTable.filesMeta(spark, path).count()
  }

  /** Committed versions in a table's log. */
  def logVersions(spark: SparkSession, format: String, path: String): Long = format match {
    case "parquet" => 0L
    case "delta" => DeltaInterop.latestVersion(spark, path) + 1
    case "iceberg" => IcebergInterop.snapshotChain(spark, path).map(_.size.toLong).getOrElse(0L)
    case "hudi" => HudiInterop.completedInstants(spark, path).size.toLong
    case "graft" => VersionedTable.latestVersion(spark, path) + 1
  }

  def read(spark: SparkSession, format: String, path: String): DataFrame = format match {
    case "parquet" => TableSink.read(spark, path)
    case "delta" => DeltaInterop.read(spark, path)
    case "iceberg" => IcebergInterop.read(spark, path)
    case "hudi" => HudiInterop.read(spark, path)
    case "graft" => VersionedTable.read(spark, path)
  }

  /** Write a check output, returning its bytes; with a planted fault the
    * first one loses a row. An output that cannot be read back is left
    * missing, which fails its check.
    */
  def emit(ctx: Ctx, name: String, df: => DataFrame, ops: Int): Long = {
    ctx.checks += (name -> ops)
    val dst = new File(ctx.out, s"check/$name").getAbsolutePath
    try {
      val out = df.coalesce(1)
      val planted =
        if (ctx.plantFault && ctx.checks.size == 1) out.orderBy(out.columns.map(col): _*).offset(1)
        else out
      planted.write.mode("overwrite").parquet(dst)
      bytes(dst)
    } catch {
      case e: Exception =>
        ctx.errors += s"check output $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        0L
    }
  }

  /** Operations of drained streams: one per micro-batch, or one for a
    * stream that failed before its first batch (already counted by `op`).
    */
  def countBatches(ctx: Ctx, ids: Seq[String]): Unit =
    ctx.attempted += ids.map(id => math.max(1, batches(ctx, id).size) - 1).sum

  /** Batches by source file from a file-stream checkpoint's source log. */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
    val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r
    files(s"$checkpoint/sources/0").filterNot(_.getName.startsWith(".")).flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toList.flatMap { line =>
        for { p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line) }
        yield new File(new java.net.URI(p.group(1)).getPath).getName -> b.group(1).toLong
      }
    }.toMap
  }

  val checkCols: Seq[String] =
    Seq("event_id", "event_date", "event_hour", "ingest_id", "event_type", "value")
}

/** ingest_append: the flagship job. A fixed backlog of events-feed files
  * drains through `IngestPipeline.transform` into four partitioned append
  * sinks (closed loop, AvailableNow or drain-all, `maxFilesPerTrigger`
  * small), then one generator thread lands files at a fixed rate into a
  * watched directory under a ProcessingTime trigger (open loop) and
  * freshness is measured from each file's scheduled landing time.
  */
object IngestAppend extends Workload {
  import Streams._

  private val Sinks = Seq("parquet", "delta", "iceberg", "hudi")
  private var root = ""
  private var drainQueries = Seq.empty[(String, String, Double)] // (sink, query id, seconds)
  private var openQuery = ""
  private var openCkpt = ""
  private var schedule = Seq.empty[(String, Double, Double)] // (file, due ms, landed ms)
  private var queueMessages = 0

  /** Start the stream feeding `sink`; tables, queue and checkpoints live
    * under `dir`, the feed is read from `parquetDir` / `csvDir`.
    */
  private def stream(ctx: Ctx, sink: String, dir: String, parquetDir: String, csvDir: String,
      ckpt: String, trigger: Trigger): StreamingQuery = {
    val spark = ctx.spark
    val mfpt = ctx.pi("append.max_files_per_trigger")
    val parquetSrc = (p: String) => IngestPipeline.source(spark, p, mfpt)
    sink match {
      case "parquet" =>
        IngestPipeline.start(spark, parquetDir, s"$dir/parquet", ckpt, maxFilesPerTrigger = mfpt)
      case "delta" =>
        val csv = IngestPipeline.source(spark, csvDir,
          IngestPipeline.FileSourceConfig(IngestPipeline.rawEventSchema, format = "csv",
            options = Map("header" -> "true", "escape" -> "\""), maxFilesPerTrigger = mfpt))
        IngestPipeline.transform(csv).writeStream.format("graft-delta")
          .option("path", s"$dir/delta").partitionBy("event_date")
          .option("checkpointLocation", ckpt).trigger(trigger).start()
      case "iceberg" =>
        val q = spark.readStream.format("graft-queue")
          .schema(IngestPipeline.rawEventSchema)
          .option("queue.dir", s"$dir/queue").option("fileFormat", "parquet")
          .option("maxFilesPerTrigger", mfpt.toString).load()
        IngestPipeline.transform(q).writeStream.format("graft-iceberg")
          .option("path", s"$dir/iceberg").partitionBy("event_date")
          .option("checkpointLocation", ckpt).trigger(Trigger.ProcessingTime(0L)).start()
      case "hudi" =>
        IngestPipeline.transform(parquetSrc(parquetDir)).writeStream
          .format("graft-hudi").option("path", s"$dir/hudi").partitionBy("event_date")
          .option("recordKey", "event_id").option("precombine", "event_id")
          .option("checkpointLocation", ckpt).trigger(trigger).start()
      case "open" => // takes every landed file at each trigger
        IngestPipeline.transform(IngestPipeline.source(spark, parquetDir, Int.MaxValue)).writeStream
          .format("graft-delta").option("path", s"$dir/open").partitionBy("event_date")
          .option("checkpointLocation", ckpt).trigger(trigger).start()
    }
  }

  private def enqueue(dir: String, dataDir: String): Int = {
    val q = Paths.get(dir, "queue")
    Files.createDirectories(q)
    val data = new File(dataDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    data.zipWithIndex.foreach { case (f, i) =>
      Files.write(q.resolve(f"m$i%05d.json"),
        s"""{"path": "${f.getAbsolutePath}", "timestamp": ${1000 + i}}""".getBytes(StandardCharsets.UTF_8))
    }
    data.length
  }

  def prepare(ctx: Ctx, attempt: Int): Unit = {
    root = ctx.dir(s"append-$attempt")
    queueMessages = enqueue(root, ctx.p("append.parquet_dir"))
    Files.createDirectories(Paths.get(root, "landing"))
  }

  /** One stream per sink, and the open-loop stream, over a one-file feed. */
  def warmup(ctx: Ctx): Unit = {
    val warm = ctx.dir("append-warm")
    enqueue(warm, ctx.p("append.warm_dir"))
    (Sinks :+ "open").foreach { s =>
      val q = stream(ctx, s, warm, ctx.p("append.warm_dir"), ctx.p("append.warm_csv_dir"),
        s"$warm/ckpt-$s", Trigger.AvailableNow())
      if (s == "iceberg") { q.processAllAvailable(); q.stop() } else q.awaitTermination()
    }
  }

  def measure(ctx: Ctx): Unit = {
    val measureStart = ctx.rec.nowMs
    // phase 1: closed-loop drain of a fixed backlog, one sink at a time
    val rowsPerSink = ctx.pd("append.backlog_rows")
    ctx.round {
      drainQueries = Sinks.map { s =>
        val ckpt = s"$root/ckpt-$s"
        val run = if (s == "iceberg") drainAll _ else drain _
        val res = ctx.op(s"append drain $s") {
          run(ctx, s"append_$s")(stream(ctx, s, root, ctx.p("append.parquet_dir"),
            ctx.p("append.csv_dir"), ckpt, Trigger.AvailableNow()))
        }
        val (id, secs) = res.getOrElse(("", 0.0))
        if (res.isDefined) { ctx.work += rowsPerSink; ctx.workSeconds += secs }
        (s, id, secs)
      }
    }
    val drainBatches = drainQueries.flatMap { case (_, id, _) => batches(ctx, id) }
    countBatches(ctx, drainQueries.map(_._2))

    // phase 2: open loop — land files on a schedule until the run's
    // seconds are used (at least `append.open_min_files`), measure freshness
    val files = new File(ctx.p("append.open_dir")).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val rate = ctx.pd("append.open_rate_per_s")
    val landing = Paths.get(root, "landing")
    openCkpt = s"$root/ckpt-open"
    val t0 = ctx.rec.nowMs + 500.0 // the stream's first (empty) trigger runs meanwhile
    val end = math.max(measureStart + ctx.seconds * 1000.0,
      t0 + (ctx.pi("append.open_min_files") - 1) * 1000.0 / rate)
    val plan = files.zipWithIndex.map { case (f, i) => (f, t0 + i * 1000.0 / rate) }
      .takeWhile(_._2 <= end)
    val landed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    val generator = new Thread(() => plan.foreach { case (f, due) =>
      val wait = due - ctx.rec.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val tmp = landing.resolve(s".${f.getName}")
      Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, landing.resolve(f.getName), StandardCopyOption.ATOMIC_MOVE)
      landed.put(f.getName, ctx.rec.nowMs)
    }, "graftbench-generator")
    val q = stream(ctx, "open", root, s"$root/landing", "", openCkpt,
      Trigger.ProcessingTime(ctx.pi("append.open_trigger_ms").toLong))
    openQuery = q.id.toString
    generator.start()
    generator.join()
    ctx.op("append open loop") { q.processAllAvailable() }
    q.stop()
    finished(ctx, q)
    schedule = plan.map { case (f, due) => (f.getName, due, landed.get(f.getName).doubleValue) }
    val fileBatch = fileBatches(openCkpt)
    val commitEnd = batches(ctx, openQuery).map(p => p.batchId -> (p.startMs + p.durations("triggerExecution"))).toMap
    schedule.foreach { case (name, due, _) =>
      ctx.attempted += 1
      fileBatch.get(name).flatMap(commitEnd.get) match {
        case Some(end) => ctx.latencies += end - due
        case None => ctx.failed += 1; ctx.errors += s"open loop: $name never committed"
      }
    }

    val batchMs = drainBatches.map(_.durations("triggerExecution").toDouble)
    val fresh = ctx.latencies.toSeq
    ctx.named ++= Seq(
      "ingest_rows_per_s" -> (ctx.work / ctx.workSeconds, "1/s"),
      "batch_ms_p50" -> (Intervals.quantile(batchMs, 0.5), "ms"),
      "batch_ms_p90" -> (Intervals.quantile(batchMs, 0.9), "ms"),
      "freshness_ms_p50" -> (Intervals.quantile(fresh, 0.5), "ms"),
      "freshness_ms_p90" -> (Intervals.quantile(fresh, 0.9), "ms"))
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val inputBytes = Map(
      "parquet" -> bytes(ctx.p("append.parquet_dir")), "delta" -> bytes(ctx.p("append.csv_dir")),
      "iceberg" -> bytes(ctx.p("append.parquet_dir")), "hudi" -> bytes(ctx.p("append.parquet_dir")))
    val written = Sinks.map(s => bytes(s"$root/$s")).sum
    ctx.named("write_amp") = (written.toDouble / inputBytes.values.sum, "ratio")
    drainQueries.foreach { case (s, id, _) =>
      emit(ctx, s"append_$s", read(spark, s, s"$root/$s").select(checkCols.map(col): _*),
        batches(ctx, id).size)
    }
    emit(ctx, "append_open", read(spark, "delta", s"$root/open").select(checkCols.map(col): _*),
      schedule.size)
    Files.write(Paths.get(ctx.out, "check", "append_open_files.txt"),
      schedule.map(s => s"${ctx.p("append.open_dir")}/${s._1}").mkString("\n").getBytes(StandardCharsets.UTF_8))
    if (ctx.rec.enabled) {
      val remaining = Option(new File(s"$root/queue").listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".json"))
      ctx.layer("sources.queue_ack_ratio") = (queueMessages - remaining).toDouble / queueMessages
      val late = schedule.map { case (_, due, landed) => landed - due }
      ctx.layer("bench.generator_late_ms") = Intervals.quantile(late, 0.9)
      // files landed but not yet committed, seen at each open-loop trigger
      val fileBatch = fileBatches(openCkpt)
      val backlog = batches(ctx, openQuery).map { p =>
        schedule.count { case (n, _, landed) => landed <= p.startMs && fileBatch.get(n).forall(_ >= p.batchId) }
      }
      ctx.layer("sources.backlog_files") = if (backlog.isEmpty) 0.0 else backlog.max
      tableLayers(ctx, Sinks.map(s => s -> s"$root/$s"))
      // the operators layer alone: the enrichment of the backlog as one batch job
      val t0 = ctx.rec.nowMs
      ctx.rec.span("operators", "enrich") {
        IngestPipeline.transform(
            spark.read.schema(IngestPipeline.rawEventSchema).parquet(ctx.p("append.parquet_dir")))
          .write.format("noop").mode("overwrite").save()
      }
      ctx.layer("operators.enrich_ms") = ctx.rec.nowMs - t0
    }
  }

  /** Files and bytes the sinks wrote and the log lengths, read back
    * through each format's public API.
    */
  def tableLayers(ctx: Ctx, tables: Seq[(String, String)]): Unit = {
    val spark = ctx.spark
    val written = tables.map { case (_, p) => dataFiles(p).size.toLong }.sum
    val live = tables.map { case (f, p) => liveFiles(spark, f, p) }.sum
    ctx.layer("sinks.files_added") = written
    ctx.layer("sinks.files_removed") = written - live
    ctx.layer("sinks.bytes_written") = tables.map { case (_, p) => bytes(p) }.sum
    ctx.layer("sinks.log_versions") = tables.map { case (f, p) => logVersions(spark, f, p) }.sum
  }
}

/** ingest_merge: keyed CDC change files stream into each format's
  * read-modify-write path — `DeltaInterop.merge`, `IcebergInterop.merge`,
  * `HudiMor.upsert`/`delete`, the `VersionedTable` MOR path, and SQL
  * `MERGE INTO` a `graft` catalog table — one format at a time, closed
  * loop over a fixed backlog, with compaction every `merge.compact_every`
  * batches.
  */
object IngestMerge extends Workload {
  import Streams._

  val Formats = Seq("delta", "iceberg", "hudi", "graft", "sql")
  private val DataCols = Seq("key", "region", "amount", "note", "seq")
  private var root = ""
  private var sqlTable = ""
  private var queries = Seq.empty[(String, String)]
  private var compactions = Seq.empty[(Double, Long)]
  private var bytesBefore = 0L
  /** Data files of every table when the timed region starts. */
  private var filesBefore = Set.empty[String]

  /** Table directory; the catalog table lives in the catalog's warehouse. */
  private def path(ctx: Ctx, format: String): String =
    if (format == "sql") s"${ctx.out}/warehouse/graft-catalog/default/${sqlTable.split('.').last}"
    else s"$root/$format"

  /** The format whose public API reads a table's files and log. */
  private def api(format: String): String = if (format == "sql") "graft" else format

  private def build(ctx: Ctx, format: String, path: String, attempt: Int): Unit = {
    val spark = ctx.spark
    val base = spark.read.parquet(ctx.p("merge.base"))
    format match {
      case "delta" => DeltaInterop.write(base, path, partitionBy = Seq("region")); ()
      case "iceberg" => IcebergInterop.write(base, path, partitionBy = Seq("region")); ()
      case "hudi" => HudiMor.upsert(base, path, "key", "seq", Seq("region")); ()
      case "graft" => VersionedTable.write(spark, path, base, Seq("region")); ()
      case "sql" =>
        sqlTable = s"graft.default.merge$attempt"
        base.createOrReplaceTempView("merge_base")
        spark.sql(s"CREATE TABLE $sqlTable PARTITIONED BY (region) AS SELECT * FROM merge_base")
        require(new File(this.path(ctx, "sql")).isDirectory, s"no table directory for $sqlTable")
    }
  }

  /** Last change per key within the batch (in-file duplicates collapse). */
  private def collapse(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("seq").desc)
    batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  private def apply(ctx: Ctx, format: String, batch: DataFrame, id: Long): Unit = {
    val spark = batch.sparkSession
    val app = s"graftbench-merge-$format"
    val p = path(ctx, format)
    graft.GraftSession.withMicroBatchDml(batch) {
      val last = collapse(batch).persist()
      try {
        val upserts = last.filter(col("op") =!= "D").select(DataCols.map(col): _*)
        val deletes = last.filter(col("op") === "D")
        val layer = if (format == "sql") "catalog" else "sinks"
        ctx.rec.span(layer, s"$format merge", s"$format#$id") {
          format match {
            case "delta" | "iceberg" =>
              val set = DataCols.filterNot(_ == "key").map(c => c -> col(s"s.$c")).toMap
              val clauses = Seq(
                VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
                VersionedTable.MatchedUpdate(set, Some(col("s.op") =!= "D")),
                VersionedTable.NotMatchedInsert(
                  values = Some(DataCols.map(c => c -> col(s"s.$c")).toMap),
                  cond = Some(col("s.op") =!= "D")))
              if (format == "delta")
                DeltaInterop.merge(spark, p, last, Seq("key"), clauses, Some((app, id)))
              else IcebergInterop.merge(spark, p, last, Seq("key"), clauses, Some((app, id)))
            case "hudi" =>
              HudiMor.upsert(upserts, p, "key", "seq", Seq("region"))
              HudiMor.delete(deletes.select(col("key"), col("region")), p, "key", Seq("region"))
            case "graft" =>
              VersionedTable.upsertMOR(spark, p, upserts, "key", "seq", Seq("region"),
                Some((s"$app-u", id)))
              VersionedTable.deleteMOR(spark, p, deletes.select(DataCols.map(col): _*),
                "key", "seq", Seq("region"), Some((s"$app-d", id)))
            case "sql" =>
              last.createOrReplaceTempView("cdc_batch")
              spark.sql(s"""MERGE INTO $sqlTable t USING cdc_batch s
                ON t.key = s.key AND t.region = s.region
                WHEN MATCHED AND s.op = 'D' THEN DELETE
                WHEN MATCHED THEN UPDATE SET amount = s.amount, note = s.note, seq = s.seq
                WHEN NOT MATCHED AND s.op <> 'D' THEN
                  INSERT (key, region, amount, note, seq)
                  VALUES (s.key, s.region, s.amount, s.note, s.seq)""")
          }
        }
      } finally { last.unpersist(); () }
      if ((id + 1) % ctx.pi("merge.compact_every") == 0) compact(ctx, format, id)
    }
  }

  private def compact(ctx: Ctx, format: String, id: Long): Unit = {
    val spark = ctx.spark
    val p = path(ctx, format)
    val before = bytes(p)
    val t0 = ctx.rec.nowMs
    ctx.rec.span("sinks", s"$format compaction", s"$format#$id") {
      format match {
        case "delta" => DeltaInterop.compact(spark, p)
        case "iceberg" => IcebergInterop.collapseDeletes(spark, p)
        case "hudi" => HudiMor.compact(spark, p, Seq("region"))
        case "graft" => VersionedTable.compactDeltas(spark, p)
        case "sql" => spark.sql(s"OPTIMIZE $sqlTable").collect()
      }
    }
    compactions :+= ((ctx.rec.nowMs - t0, bytes(p) - before))
  }

  def prepare(ctx: Ctx, attempt: Int): Unit = {
    root = ctx.dir(s"merge-$attempt")
    Formats.foreach { f =>
      ctx.rec.span("sinks", s"$f build")(build(ctx, f, s"$root/$f", attempt))
    }
  }

  /** A one-file change stream and a compaction per format, on the tables
    * of the first prepare.
    */
  def warmup(ctx: Ctx): Unit = Formats.foreach { f =>
    mergeStream(ctx, f, ctx.p("merge.warm_dir"), s"$root/ckpt-warm-$f").awaitTermination()
    compact(ctx, f, -1)
  }

  private def mergeStream(ctx: Ctx, f: String, changes: String, ckpt: String): StreamingQuery = {
    val spark = ctx.spark
    spark.readStream.schema(spark.read.parquet(ctx.p("merge.base")).schema.add("op", "string"))
      .option("maxFilesPerTrigger", "1").parquet(changes)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) => apply(ctx, f, b, id))
      .start()
  }

  def measure(ctx: Ctx): Unit = {
    compactions = Nil
    bytesBefore = Formats.map(f => bytes(path(ctx, f))).sum
    filesBefore = Formats.flatMap(f => dataFiles(path(ctx, f))).map(_.getAbsolutePath).toSet
    ctx.round {
      queries = Formats.map { f =>
        val res = ctx.op(s"merge stream $f") {
          drain(ctx, s"merge_$f")(mergeStream(ctx, f, ctx.p("merge.changes_dir"), s"$root/ckpt-$f"))
        }
        val (id, secs) = res.getOrElse(("", 0.0))
        if (res.isDefined) { ctx.work += ctx.pd("merge.change_rows"); ctx.workSeconds += secs }
        (f, id)
      }
    }
    val bs = queries.map { case (_, id) => batches(ctx, id) }
    countBatches(ctx, queries.map(_._2))
    // steady-state batches: each stream's first batch also carries the
    // stream's start-up, which the throughput counts
    ctx.latencies ++= bs.flatMap(_.drop(1)).map(_.durations("triggerExecution").toDouble)
    ctx.named ++= Seq(
      "ingest_rows_per_s" -> (ctx.work / ctx.workSeconds, "1/s"),
      "batch_ms_p50" -> (Intervals.quantile(ctx.latencies.toSeq, 0.5), "ms"),
      "batch_ms_p90" -> (Intervals.quantile(ctx.latencies.toSeq, 0.9), "ms"))
    queries.map(_._1).zip(bs).foreach { case (f, b) =>
      ctx.named(s"batch_ms_p50.$f") =
        (Intervals.quantile(b.drop(1).map(_.durations("triggerExecution").toDouble), 0.5), "ms")
    }
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tables = Formats.map(f => api(f) -> path(ctx, f))
    val written = tables.map { case (_, p) => bytes(p) }.sum - bytesBefore
    val changeBytes = bytes(ctx.p("merge.changes_dir")) * Formats.size
    ctx.named("write_amp") = (written.toDouble / changeBytes, "ratio")
    val liveBytes = queries.map { case (f, id) =>
      val df = if (f == "sql") spark.table(sqlTable) else read(spark, f, path(ctx, f))
      emit(ctx, s"merge_$f", df.select(DataCols.map(col): _*), batches(ctx, id).size)
    }.sum
    ctx.named("space_amp") = (tables.map { case (_, p) => bytes(p) }.sum.toDouble / liveBytes, "ratio")
    if (ctx.rec.enabled) {
      IngestAppend.tableLayers(ctx, tables)
      ctx.layer("sinks.compaction_ms") = compactions.map(_._1).sum
      ctx.layer("sinks.compaction_bytes") = compactions.map(_._2.toDouble).sum
      // rows changed by the CDC feed ÷ rows in the parquet files the
      // merges and compactions of the timed region wrote
      val changed = ctx.pd("merge.changed_rows") * Formats.size
      val rewritten = tables.flatMap { case (_, p) => dataFiles(p) }
        .filter(f => f.getName.endsWith(".parquet") && !filesBefore(f.getAbsolutePath))
        .map(f => Footers.rows(f.getAbsolutePath)).sum
      ctx.layer("sinks.rewrite_useful_ratio") = if (rewritten > 0) changed / rewritten else 0.0
      val (lo, hi) = ctx.window
      val sqlMerges = ctx.rec.all.filter(s => s.name == "sql merge" && s.start >= lo && s.end <= hi)
      ctx.layer("catalog.sql_merge_ms") = Intervals.quantile(sqlMerges.map(s => s.end - s.start), 0.5)
      val snapT0 = ctx.rec.nowMs
      tables.foreach { case (f, p) => logVersions(spark, f, p) }
      ctx.layer("sinks.snapshot_ms") = ctx.rec.nowMs - snapT0
    }
  }
}

/** Row counts from parquet footers, without a Spark job. */
object Footers {
  def rows(path: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
