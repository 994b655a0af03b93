package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for local[N] testing but the knobs are the ones that matter on a
  * real cluster too: AQE (runtime re-planning, skew-join splitting),
  * shuffle partition count sized to the parallelism actually available,
  * UTC session time zone (oracle parity + sanity at 100 TB where data
  * spans regions).
  */
object GraftSession {

  /** Shuffle/spill local dir: prefer tmpfs. Every shuffle MAP task pays
    * open+write+merge of its shuffle data+index files; on this
    * container's virtual disk those are ~100 ms of pure latency per
    * task (measured: 40% of executor samples in copyFileStreamNIO /
    * DiskBlockObjectWriter under /tmp), which multiplies with host load
    * and is exactly the latency class a production cluster avoids with
    * instance-local NVMe. Local-mode only in effect: real deployments
    * set SPARK_LOCAL_DIRS / the cluster manager overrides this conf.
    */
  private lazy val localDir: Option[String] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) {
      val d = shm.resolve(s"graft-local-${ProcessHandle.current().pid()}")
      java.nio.file.Files.createDirectories(d)
      d.toFile.deleteOnExit()
      Some(d.toString)
    } else None
  }

  /** Apply graft defaults to an arbitrary builder (so Verify/Bench can
    * keep their own master/memory settings).
    */
  def tuned(builder: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    quietPlanTruncation
    localDir.foldLeft(builder)((b, d) => b.config("spark.local.dir", d))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE coalesce the OUTPUT partitioning of cached plans too.
      // Batch DML persists frames that several of its actions read (a
      // merge's source and join, CDF/CHECK re-reads in update/delete,
      // replaceWhere's survivors), and with this off (the default) the
      // cache pins the pre-coalesce reducer count — a KB-sized frame is
      // frozen into `spark.sql.shuffle.partitions` cached partitions and
      // EVERY downstream action pays a full-width map stage over them
      // (measured: 32-task map stages repeated per probe/stage/commit
      // action; with coalescing the same frame caches as 1 partition).
      // Only batch DML benefits: stream bodies run with AQE off
      // (withMicroBatchDml), where the conf is inert, and the append
      // bodies do not persist. Scale-adaptive by construction:
      // AQE sizes partitions from bytes (advisoryPartitionSizeInBytes),
      // so large frames keep their parallelism. The conf only changes
      // physical partitioning of the cached plan, never results.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // the generated-class cache defaults to 100 entries; a session
      // running many distinct plans (the 130-query gate, a multi-tenant
      // driver) thrashes it and re-compiles ~30-50 ms classes — this is
      // a driver-memory-for-latency trade, cheap at any scale
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // the codegen cache is ALSO keyed by the context classloader, and
      // Spark 4's per-session artifact isolation gives every cloned
      // session (each streaming query clones) a fresh classloader — so
      // byte-identical generated classes recompile per stream start,
      // with every task of the stage serialized on the janino compile
      // lock (measured: 51 -> 8 recompiles per streaming-merge run with
      // isolation off). This engine registers no session-scoped
      // artifacts (no per-session ADD JAR), so isolation buys nothing
      // here; deployments that DO isolate session jars should flip it
      // back and accept the per-session compile cost.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // INT64-micros timestamps (not legacy INT96): the lakehouse
      // interop standard, and the only encoding whose footers carry
      // usable min/max for FileStats.fromFooters
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Spill-aware sizing: 128 MB scan splits and 64 MB post-shuffle
      // (AQE advisory) partitions keep per-task working sets far below
      // executor memory at any scale factor; AQE coalesces the long tail.
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Above this many paths, InMemoryFileIndex ships file LISTING to a
      // distributed job — one near-empty task per path, each paying
      // Spark's gzip-wrapped-Configuration task deserialization (~40 ms,
      // measured: a 4-statement versioned-table lifecycle spent 19 s of
      // deser across four ~80-task listing stages with 0.00 s of run).
      // The lakehouse readers here always pass EXPLICIT file lists that
      // the transaction log / timeline already resolved, so the "listing"
      // is a redundant per-file stat — driver-side stat-ing of a few
      // thousand known paths is microseconds each on any FS and avoids
      // the job entirely. Genuinely huge tables list from their log, not
      // from this path-expansion fallback.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // keep managed (bucketed) tables out of the process cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      // SQL catalog over versioned tables: CREATE TABLE graft.default.t …
      .config("spark.sql.catalog.graft",
        "org.apache.spark.sql.graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/graft-catalog")
      // local `file:` scheme without chmod forks / .crc shadow files —
      // see FastLocalFileSystem (no native hadoop lib in this
      // environment; real deployments talk s3a/hdfs, never this class)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sinks.FastLocalFileSystem].getName)
      // …and its FileContext-side twin: Structured Streaming checkpoint
      // managers and state stores reach `file:` through FileContext,
      // whose stock local binding forks ls/readlink per permission query
      // and shadows every metadata file with a .crc (see FastLocalFs)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sinks.FastLocalFs].getName)
      // Every action eagerly renders its full plan DESCRIPTION string
      // into the SQL-execution listener events (posted even with the UI
      // off); the big lakehouse plans make that a measurable driver tax
      // per action (A/B on the 15-query lakehouse subset: ~4%). Bound the
      // string everywhere — diagnostics only, zero effect on what queries
      // compute; plan evidence comes from `Profile plan`/explain, which
      // keep full text. Lives here (not in Bench) so production sessions
      // and the bench session run identically.
      .config("spark.sql.maxPlanStringLength", "2048")
      .config("spark.ui.enabled", "false")
  }

  /** The cap on plan strings above truncates most lakehouse plans, and
    * StringUtils logs a WARN for every truncation: that one logger logs
    * errors only. Spark installs its default log4j configuration on its
    * first log call, which would drop a level set before it, so this logs
    * through Spark once first.
    */
  private lazy val quietPlanTruncation: Unit = {
    new org.apache.spark.internal.Logging { log }
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.util.StringUtils", org.apache.logging.log4j.Level.ERROR)
  }

  /** Run a foreachBatch/addBatch sink body with AQE DISABLED on the
    * batch's session. AQE executes a multi-shuffle plan stage by stage —
    * every Exchange becomes its own materialization JOB, each a driver
    * round trip of planning + scheduling fixed latency. For the commit
    * machinery inside a streaming sink body that is pure overhead:
    * micro-batches are bounded by trigger admission control
    * (maxFilesPerTrigger / maxBytesPerTrigger), so there is no runtime
    * size surprise for AQE to adapt to, and Spark itself pins AQE off
    * for the streaming plan for exactly this latency reason. Measured
    * (sf0.1, local[32]): a streaming MERGE micro-batch ran its key
    * envelope as 2 jobs, touched-file probe as 3, staged write as 5
    * with AQE on — 21 jobs/query — vs 10 jobs/query with it off
    * (q_stream_delta_merge 3.02→2.57 s, q_stream_iceberg_merge
    * 2.97→2.60, q_stream_hudi_mor 3.79→3.08). The non-adaptive reduce
    * stages run at the session's static shuffle-partition count, which
    * scales with cluster parallelism, and per-task dispatch is ~2 ms —
    * cheap next to 0.1-0.3 s per extra AQE job at any cluster size.
    * BATCH DML on full tables (the same operators called outside a
    * streaming body) keeps AQE: there, inputs are unbounded and
    * skew-splitting / coalescing are the 100 TB posture.
    * Inside a stream body the batch's session is the stream's own clone
    * (Spark runs each streaming query on a cloned session), so the setting
    * reaches neither another stream nor the parent session; StreamingSpec
    * pins this with two concurrent streams.
    */
  def withMicroBatchDml[T](batch: org.apache.spark.sql.DataFrame)(body: => T): T = {
    val spark = batch.sparkSession
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = tuned(SparkSession.builder().master(s"local[$cores]").appName(appName), cores)
      // test/diagnostic sessions assert on FULL plan/codegen text; the
      // tuned cap exists to bound listener-event rendering cost, which
      // no spec measures
      .config("spark.sql.maxPlanStringLength", (Int.MaxValue - 15).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
