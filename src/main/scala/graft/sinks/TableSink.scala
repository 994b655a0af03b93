package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Pluggable table sink: one config surface for parquet / delta / hudi /
  * iceberg, batch or streaming.
  *
  * Re-expresses the sink surface of the reference's four writer jobs
  * (`jobs/S3ToParquetStreamJob.scala:76-86`, `S3ToDeltaStreamJob.scala`,
  * `S3ToHudiOptStreamJob.scala:80-105` — recordkey/precombine/table
  * options, `S3ToIcebergStreamJob.scala`) as ONE declarative config
  * instead of four copy-pasted jobs.
  *
  * All four formats run without connector jars: parquet goes through
  * the standard datasource, and delta/hudi/iceberg route to the native
  * wire-format engines ([[DeltaInterop]] / [[HudiInterop]] /
  * [[IcebergInterop]]) that write the real on-disk formats directly.
  *
  * Scale: `partitionBy` should be LOW-CARDINALITY derived columns (date,
  * category). Hive-style layout keeps reads prune-friendly; pruning is
  * asserted by spec via the scan's PartitionFilters.
  */
object TableSink {

  /** Driver-checkable upsert round trip: orders → COW table partitioned
    * by o_orderstatus; upsert a deterministic update set (every 100th
    * key gets +100000 totalprice at version 2, every (100k+50)th key is
    * re-inserted as a NEW negative key); read the merged table back.
    * Oracle = the same latest-wins merge in SQL.
    */
  def upsertRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = graft.Scratch.dir("graft-upsert") + "/orders_cow"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
    writeBatch(orders.withColumn("version", lit(1L)),
      SinkConfig("parquet", path, partitionBy = Seq("o_orderstatus"), mode = "overwrite"))
    val changed = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
      .withColumn("version", lit(2L))
    val inserted = orders.filter(col("o_orderkey") % 100 === 50)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("version", lit(2L))
    upsert(spark, path, changed.unionByName(inserted),
      key = "o_orderkey", precombine = "version", partitionCols = Seq("o_orderstatus"))
    read(spark, path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("version"))
      .orderBy(col("o_orderkey"))
  }

  val ops: Seq[graft.Op] = Seq(
    graft.Op("q_upsert", upsertRoundTrip,
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice, version FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_orderstatus, o_orderkey ORDER BY version DESC) AS rn
          FROM (
            SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice + 100000, 2 AS version
            FROM orders WHERE o_orderkey % 100 = 0
            UNION ALL
            SELECT -o_orderkey, o_orderstatus, o_totalprice, 2 AS version
            FROM orders WHERE o_orderkey % 100 = 50))
        WHERE rn = 1 ORDER BY o_orderkey""")))

  final case class SinkConfig(
      format: String,                       // parquet | delta | hudi | iceberg
      path: String,
      partitionBy: Seq[String] = Seq.empty,
      mode: String = "append",              // batch save mode / stream output mode
      tableName: Option[String] = None,     // hudi/iceberg table identity
      upsertKey: Option[String] = None,     // hudi recordkey / merge key
      precombine: Option[String] = None)    // hudi precombine (latest-wins) field

  val SupportedFormats: Set[String] = Set("parquet", "delta", "hudi", "iceberg")

  private def hudiKeys(cfg: SinkConfig): (String, String) = (
    cfg.upsertKey.getOrElse(throw new IllegalArgumentException(
      "hudi sink needs upsertKey (hoodie.datasource.write.recordkey.field)")),
    cfg.precombine.getOrElse(throw new IllegalArgumentException(
      "hudi sink needs precombine (hoodie.datasource.write.precombine.field)")))

  /** Batch write through the config surface. parquet goes through the
    * standard datasource; delta/hudi/iceberg route to the NATIVE
    * wire-format engines ([[DeltaInterop]] / [[HudiInterop]] /
    * [[IcebergInterop]]).
    */
  def writeBatch(df: DataFrame, cfg: SinkConfig): Unit = {
    require(SupportedFormats.contains(cfg.format), s"unknown sink format: ${cfg.format}")
    cfg.format match {
      case "parquet" =>
        df.write.partitionBy(cfg.partitionBy: _*).mode(cfg.mode).parquet(cfg.path)
      case "delta" =>
        DeltaInterop.write(df, cfg.path, cfg.partitionBy,
          overwrite = cfg.mode == "overwrite")
        ()
      case "hudi" =>
        val (key, pre) = hudiKeys(cfg)
        val exists = HudiInterop.completedInstants(df.sparkSession, cfg.path).nonEmpty
        if (exists) HudiInterop.upsert(df, cfg.path, key, pre, cfg.partitionBy,
          cfg.tableName.getOrElse("graft_table"))
        else HudiInterop.insert(df, cfg.path, key, pre, cfg.partitionBy,
          cfg.tableName.getOrElse("graft_table"))
        ()
      case "iceberg" =>
        IcebergInterop.write(df, cfg.path, overwrite = cfg.mode == "overwrite",
          partitionBy = cfg.partitionBy)
        ()
    }
  }

  /** Plain-parquet streaming writer through the same config surface
    * (caller starts it with its checkpoint location). The lakehouse
    * formats stream through [[streamBatch]]'s foreachBatch body instead
    * (a DataStreamWriter cannot host a custom batch writer by format
    * name alone).
    */
  def streamWriter[T](w: DataStreamWriter[T], cfg: SinkConfig, checkpoint: String): DataStreamWriter[T] = {
    require(cfg.format == "parquet",
      s"streamWriter writes parquet; stream '${cfg.format}' through " +
        "TableSink.streamBatch(cfg, appId) with foreachBatch instead")
    w.format("parquet")
      .option("path", cfg.path)
      .partitionBy(cfg.partitionBy: _*)
      .option("checkpointLocation", checkpoint)
      .outputMode(cfg.mode)
  }

  /** `foreachBatch` body streaming into the native lakehouse engines —
    * the reference's S3To{Delta,Hudi,Iceberg}StreamJob shapes without
    * their jars. Exactly-once discipline per format: delta stamps the
    * protocol's txn action and iceberg a `graft.txn` table property
    * (replayed batches are no-ops); hudi replays are IDEMPOTENT rather
    * than skipped — the keyed latest-wins upsert converges to the same
    * state when a batch re-lands (Hudi's own at-least-once + precombine
    * contract).
    *
    * No separate emptiness action in any body: delta and iceberg stage
    * first, drop zero-row files by their footer counts and publish
    * nothing when nothing was staged; a hudi upsert's routing-pair probe
    * answers emptiness. The one explicit check left is hudi's bootstrap
    * insert into a table with no commit yet. A batch is persisted only
    * where more than one action reads it (hudi: probe and stage).
    */
  def streamBatch(cfg: SinkConfig, appId: String): (DataFrame, Long) => Unit = {
    require(SupportedFormats.contains(cfg.format) && cfg.format != "parquet",
      s"streamBatch targets the lakehouse formats, got: ${cfg.format}")
    val body: (DataFrame, Long) => Unit = cfg.format match {
      case "delta" => DeltaInterop.streamBatchWriter(cfg.path, cfg.partitionBy, appId)
      case "hudi" =>
        val (key, pre) = hudiKeys(cfg)
        val name = cfg.tableName.getOrElse("graft_table")
        (batch, _) => {
          // combine-before-insert: in-batch duplicates resolve by
          // precombine even on the bootstrap commit (upsert's merge
          // window covers the existing-table case)
          val combined = HudiInterop.precombineBatch(batch, key, pre).persist()
          try {
            if (HudiInterop.completedInstants(batch.sparkSession, cfg.path).nonEmpty)
              HudiInterop.upsert(combined, cfg.path, key, pre, cfg.partitionBy, name)
            else if (!combined.isEmpty)
              HudiInterop.insert(combined, cfg.path, key, pre, cfg.partitionBy, name)
            ()
          } finally { combined.unpersist(); () }
        }
      case "iceberg" =>
        (batch, batchId) => {
          IcebergInterop.write(batch, cfg.path,
            txn = Some((appId, batchId)), partitionBy = cfg.partitionBy)
          ()
        }
    }
    // batch DML under the stream-cloned session: restore AQE for the
    // commit machinery (see GraftSession.withMicroBatchDml)
    (batch, batchId) => graft.GraftSession.withMicroBatchDml(batch)(body(batch, batchId))
  }

  /** Read a partitioned table back (partition columns come from the
    * hive-style directory layout; filters on them prune directories, not
    * files — spec-asserted).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Format-dispatched batch read — the reference's
    * `S3{Parquet,Delta,Hudi,Iceberg}BatchReader` jobs behind one face.
    * `where` reaches each native engine's METADATA pruning (Delta
    * `add.stats`, Iceberg manifest bounds) before any scan task is
    * planned, and is always re-applied to rows; the parquet and hudi
    * paths get it as a plain pushdown filter.
    */
  def readBatch(spark: SparkSession, format: String, path: String,
      where: Option[Column] = None): DataFrame = {
    require(SupportedFormats.contains(format), s"unknown table format: $format")
    val df =
      format match {
        case "parquet" => spark.read.parquet(path)
        case "delta" => return DeltaInterop.readWhere(spark, path, where)
        case "hudi" => HudiInterop.read(spark, path)
        case "iceberg" => return IcebergInterop.readWhere(spark, path, where)
      }
    where.map(df.filter).getOrElse(df)
  }

  /** Subscribe to a parquet table as a stream: every file that lands in
    * the table after the checkpoint is processed exactly once
    * (`jobs/S3ParquetStreamReader.scala:58-70` tails the parquet sink the
    * same way). Explicit schema keeps the stream start O(1) instead of a
    * full listing+infer.
    */
  def readStream(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .format("parquet")
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(path)

  /** Keyed copy-on-write upsert — the reference's central Hudi capability
    * (`jobs/S3ToHudiOptStreamJob.scala:80-105`: recordkey + precombine +
    * partitionpath, latest-wins merge) executed natively on the parquet
    * table layout:
    *
    *  1. the AFFECTED partitions are computed from the update set's
    *     partition values (a distinct over the low-cardinality partition
    *     columns — bounded driver collect);
    *  2. only those partitions of the base table are read back — literal
    *     partition filters, so the scan prunes directories, never touching
    *     the rest of a 100 TB table;
    *  3. base ∪ updates are merged per (partition, key): highest
    *     `precombine` wins, updates win ties — Hudi's precombine rule
    *     with its default partition-local (non-global-index) key scope,
    *     so a key that changes partition value is an insert there, not a
    *     cross-partition delete;
    *  4. the merged rows are written with DYNAMIC partition overwrite:
    *     exactly the affected partitions are replaced atomically per
    *     partition; untouched partitions keep their files.
    *
    * Write amplification is O(affected partitions), the COW trade the
    * reference measured against parquet bulk loads (README.md:126-147).
    */
  def upsert(
      spark: SparkSession, path: String, updates: DataFrame,
      key: String, precombine: String, partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    val w = Window.partitionBy((partitionCols :+ key).map(col): _*)
      .orderBy(col(precombine).desc, col("__src").desc)
    val merged =
      if (!exists) updates.withColumn("__src", lit(1))
      else {
        // Literal partition predicates (OR of per-partition ANDs) so the
        // base scan is directory-pruned to the affected partitions.
        // Driver-side collect bounded by the PARTITION CARDINALITY of the
        // update set, not its row count — the same trade Delta's
        // replaceWhere/dynamic-partition-overwrite planning makes. Sound
        // for date-like layouts (an update batch touches days, not
        // billions of keys); a layout partitioned on a high-cardinality
        // key would make this collect the bottleneck — that layout is
        // wrong for upserts anyway (one dir per key).
        val parts = graft.JobLabel(spark, "table: affected-partition probe") {
          // exact: bounded by the partition cardinality (see above)
          LocalProbe.distinctRows(updates.select(partitionCols.map(col): _*),
            cap = Int.MaxValue)
        }
        require(parts.nonEmpty, "upsert: empty update set")
        val cond = parts.map { row =>
          partitionCols.zipWithIndex
            // null-SAFE equality: col === lit(null) is never true, which
            // would skip reading the null partition's base rows and then
            // dynamically overwrite them away
            .map { case (c, i) => col(c) <=> lit(row.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _)
        read(spark, path).filter(cond).withColumn("__src", lit(0))
          .unionByName(updates.withColumn("__src", lit(1)))
      }
    val resolved0 = merged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
    val resolved = // zero-expr repartition would be a full round-robin shuffle
      if (partitionCols.isEmpty) resolved0
      else resolved0.repartition(partitionCols.map(col): _*)
    withDynamicOverwrite(spark) {
      resolved.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    }
  }

  /** Run `body` with dynamic partition-overwrite mode, restoring the
    * session's previous setting afterwards.
    */
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")
    try body finally spark.conf.set(overwriteKey, prev)
  }

  /** maxRecordsPerFile that lands files near `targetFileBytes`, from the
    * frame's optimizer size estimate and an exact row count.
    */
  private def targetRecordsPerFile(df: DataFrame, targetFileBytes: Long): Long = {
    val totalBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // exact row count from the input files' parquet FOOTERS (driver
    // pool, zero Spark jobs) — this sizing helper runs once per
    // compaction and a count() action re-scanned every victim file;
    // non-file frames or unreadable footers fall back to the scan
    val files = df.inputFiles.toSeq
    val rows = scala.util.Try {
      val counts = FileStats.fromFooters(df.sparkSession, files,
        org.apache.spark.sql.types.StructType(Nil)).values.map(_.numRecords)
      require(files.nonEmpty && counts.forall(_.isDefined))
      counts.flatten.sum
    }.getOrElse(df.count())
    val avgRow = if (rows == 0) 1L else (totalBytes / rows).toLong.max(1L)
    (targetFileBytes / avgRow).max(1L)
  }

  /** Incremental small-file compaction: rewrite ONLY the partitions whose
    * data-file count exceeds `maxFilesPerPartition`, leaving healthy
    * partitions byte-identical. At 100 TB fragmentation concentrates in
    * the recently-ingested partitions (one file per partition per
    * micro-batch), so the full-table [[compact]] is the wrong tool there
    * — this variant lists file counts per partition directory (a driver
    * listing, no data read), reads back just the fragmented directories
    * (`basePath` keeps the partition columns), and swaps them in with
    * dynamic partition overwrite. Returns the rewritten partition dirs.
    */
  def compactPartitions(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      maxFilesPerPartition: Int = 4,
      targetFileBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    val table = read(spark, path)
    val byDir = table.inputFiles.toSeq
      .groupBy(f => f.substring(0, f.lastIndexOf('/')))
    val fragmented = byDir.filter(_._2.size > maxFilesPerPartition).keys.toSeq.sorted
    if (fragmented.isEmpty) return Nil
    val df = spark.read.option("basePath", path).parquet(fragmented: _*)
    val recordsPerFile = targetRecordsPerFile(df, targetFileBytes)
    withDynamicOverwrite(spark) {
      df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", recordsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    }
    fragmented
  }

  /** Compact a partitioned parquet table in place: streaming ingest with
    * small triggers leaves one file per partition per micro-batch (the
    * small-file problem the reference's README wrestles with across its
    * sink formats); rewrite each hive partition into
    * ceil(bytes / targetFileBytes) files.
    *
    * The rewrite repartitions BY THE PARTITION COLUMNS so each output
    * task owns whole partitions (one shuffle, no cross-partition merge),
    * then `maxRecordsPerFile` splits oversized partitions. Rewrite goes
    * to a temp dir first and is swapped in only after success — a crash
    * mid-compact leaves the original table intact.
    */
  def compact(
      spark: SparkSession, path: String,
      partitionCols: Seq[String], targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    val bak = new org.apache.hadoop.fs.Path(path + ".compact-old")
    // Recover from a prior crash before touching anything: a leftover
    // backup with no live table means the crash hit between the two
    // renames — restore it; stale tmp/backup alongside a live table are
    // abandoned rewrites — drop them so the renames below can't no-op.
    if (fs.exists(bak) && !fs.exists(dst)) {
      require(fs.rename(bak, dst), s"compact: failed to restore $bak -> $dst")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)

    val df = read(spark, path)
    val recordsPerFile = targetRecordsPerFile(df, targetFileBytes)
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", recordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    require(fs.rename(dst, bak), s"compact: failed to move $dst aside to $bak")
    if (!fs.rename(tmp, dst)) {
      // Put the original back so a failed swap never leaves no table.
      fs.rename(bak, dst)
      throw new java.io.IOException(s"compact: failed to swap $tmp into $dst")
    }
    require(fs.exists(dst), s"compact: $dst missing after swap")
    fs.delete(bak, true)
  }
}
