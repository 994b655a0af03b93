package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Hudi copy-on-write WIRE-FORMAT interop, from scratch against the
  * public table layout — no hudi-spark bundle: a Hudi COW table is a
  * `.hoodie/` timeline (properties file + requested/inflight/commit
  * instant files), parquet data files named
  * `<fileId>_<writeToken>_<instantTime>.parquet` carrying the five
  * `_hoodie_*` meta columns, and `.hoodie_partition_metadata` markers —
  * all documented formats.
  *
  * This is the OTHER half of the reference's name
  * (`jobs/S3ToHudiOptStreamJob.scala:80-105` writes `.format("hudi")`
  * with recordkey/precombine/partitionpath options;
  * `S3HudiBatchReader.scala` reads it back; README:89-167 benchmarks
  * parquet vs hudi throughput). [[TableSink.upsert]] and
  * [[VersionedTable.upsertMOR]] re-express the SEMANTICS natively;
  * this module speaks the FORMAT.
  *
  * Core Hudi mechanics implemented (and spec-pinned):
  *  - file groups: N per partition dir, keys routed by
  *    hash(record key) % N (`graft.hudi.num.file.groups` — a
  *    graft-PRIVATE properties key: advertising Hudi's own
  *    `hoodie.bucket.index.*` would make real bucket-index engines
  *    parse bucket ids out of graft's fileIds and mis-route; foreign
  *    engines ignore unknown keys. N = 1 keeps the legacy
  *    one-group-per-dir layout). Every commit adds a new file SLICE (same fileId, new
  *    instant) and snapshot reads resolve the latest committed slice
  *    per group — so the upsert write cost is O(affected file groups),
  *    never a log scan, and a hot partition splits across N
  *    independently-rewritable slices instead of one unbounded file.
  *  - timeline atomicity: data files land before the `.commit` instant
  *    publishes; slices whose instant never committed are INVISIBLE to
  *    readers (crash debris ignored, exactly Hudi's contract).
  *  - meta-column preservation: an upsert rewriting a file group keeps
  *    the original `_hoodie_commit_time` of carried-over records and
  *    stamps only winners — which is what makes Hudi's INCREMENTAL
  *    pull (`read where _hoodie_commit_time > since`) return exactly
  *    the changed records, not everything co-resident with them.
  *  - latest-wins upsert by (recordKey, precombine), ties to incoming —
  *    Hudi's OverwriteWithLatestAvroPayload default.
  *
  * Scale: snapshot resolution is one dir walk + timeline listing (no
  * data I/O); upsert reads/rewrites only dirs holding incoming keys.
  */
object HudiInterop {

  private[sinks] val MetaDir = ".hoodie"
  /** Table-relative stage root of [[stageSlices]]' writes. */
  private val StageDir = s"$MetaDir/.graft_stage"
  private[sinks] val PartitionMeta = ".hoodie_partition_metadata"
  val MetaCols: Seq[String] = Seq("_hoodie_commit_time", "_hoodie_commit_seqno",
    "_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")

  private implicit val formats: Formats = DefaultFormats

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- timeline ----

  /** 17-digit Hudi instant (yyyyMMddHHmmssSSS), strictly greater than
    * every existing instant so same-millisecond commits stay ordered.
    * A 14-digit (pre-0.13 writer) existing instant RIGHT-scales to its
    * 17-digit millisecond form (×1000) before the floor compare —
    * left-padding would shrink it ~1000× and a write onto such a table
    * could commit an instant that string-sorts BEFORE the existing
    * latest, making the new slice silently lose latest-slice
    * resolution.
    */
  private[sinks] def nextInstant(existing: Seq[String]): String = {
    val now = new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
      .format(new java.util.Date())
    val floor = existing.sorted.lastOption
      .map { i =>
        val next = (if (i.length == 14) BigInt(i) * 1000 else BigInt(i)) + 1
        val s = next.toString
        if (s.length >= 17) s else "0" * (17 - s.length) + s
      }
      .getOrElse(now)
    if (BigInt(now) > BigInt(floor)) now else floor
  }

  /** Where this table keeps its timeline: `.hoodie/` (table version
    * <= 7) or `.hoodie/<hoodie.timeline.path>/` (version >= 8 — the
    * 1.x layout; the property defaults to `timeline` but real 1.x
    * writers may relocate it, and ignoring it would read a populated
    * table as "no commits" — the silent miss the version gate exists
    * to prevent).
    */
  private[sinks] def timelineDir(fs: FileSystem, path: String): Path =
    if (tableVersion(fs, path) >= 8) {
      val rel = tableProps(fs, path)
        .getOrElse("hoodie.timeline.path", "timeline").trim
      new Path(s"$path/$MetaDir/$rel")
    } else new Path(s"$path/$MetaDir")

  /** Instants completed (or transitioning) under `suffix`, across BOTH
    * timeline layouts. The 1.x layout names a COMPLETED instant
    * `<instant>_<completionTime>.<action>` (the completion time is the
    * 1.x concurrency protocol's commit watermark); requested/inflight
    * keep the plain `<instant>.<action>.<state>` shape. Readers only
    * need the begin instant — `_hoodie_commit_time` stamps it, and
    * file-slice binding keys on it.
    */
  private[sinks] def timelineInstants(fs: FileSystem, path: String,
      suffix: String): Seq[String] = {
    val dir = timelineDir(fs, path)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(suffix))
      .map(_.stripSuffix(suffix))
      .collect {
        case stem if stem.forall(_.isDigit) => stem
        case stem if stem.matches("\\d+_\\d+") => stem.takeWhile(_ != '_')
      }.sorted
  }

  /** Completed instants — the only ones whose file slices readers see.
    * Includes `.deltacommit` (MOR log commits): exists-probes, tail
    * offsets, and incremental-pull windows treat a delta commit exactly
    * like a commit — `_hoodie_commit_time` carries the deltacommit
    * instant through the merged read, so `readIncrementalBetween`
    * windows stay exact on MOR tables.
    */
  def completedInstants(spark: SparkSession, path: String): Seq[String] = {
    val fs = fsFor(spark, path)
    (timelineInstants(fs, path, ".commit") ++
      timelineInstants(fs, path, ".deltacommit")).sorted
  }

  private[sinks] def ensureTable(fs: FileSystem, path: String, tableName: String,
      createGroups: Int = 1, tableType: String = "COPY_ON_WRITE"): Unit = {
    val props = new Path(s"$path/$MetaDir/hoodie.properties")
    if (!fs.exists(props))
      CommitKernel.replace(fs, props,
        (s"""#Properties saved on table creation
           |hoodie.table.name=$tableName
           |hoodie.table.type=$tableType
           |hoodie.table.version=6
           |hoodie.timeline.layout.version=1
           |hoodie.datasource.write.hive_style_partitioning=true
           |hoodie.populate.meta.fields=true
           |""".stripMargin +
          (if (createGroups > 1)
            s"graft.hudi.num.file.groups=$createGroups\n" else ""))
          .getBytes(StandardCharsets.UTF_8))
  }

  /** Run `instant` of `action` through Hudi's timeline states, each on
    * the one publish path: claim `<instant>.<action>.requested` (a
    * writer that picked the same instant loses here with
    * ConcurrentModificationException, before it writes anything), mark
    * it inflight, run `work`, which writes the instant's files and
    * returns its commit metadata, then complete the instant. Completing
    * PUBLISHES the files: a crash before it leaves invisible debris,
    * never a partial read. The pending states go last. Returns
    * `instant`.
    */
  private[sinks] def runInstant(fs: FileSystem, path: String, instant: String,
      action: String)(work: => String): String = {
    def publish(name: String, body: String): Unit = CommitKernel.publish(fs,
      new Path(s"$path/$MetaDir/$instant.$name"), body.getBytes(StandardCharsets.UTF_8))
    // the commit action's inflight carries no action infix — Hudi's own
    // legacy spelling; every other action spells it out
    val inflight = if (action == "commit") "inflight" else s"$action.inflight"
    publish(s"$action.requested", "")
    publish(inflight, "{}")
    publish(action, work)
    Seq(inflight, s"$action.requested").foreach(n =>
      fs.delete(new Path(s"$path/$MetaDir/$instant.$n"), false))
    instant
  }

  /** Parsed `hoodie.properties` — the table's self-description. Real
    * writers add many more keys (checksum, key generator, etc.);
    * unknown keys pass through untouched.
    */
  private[sinks] def tableProps(fs: FileSystem, path: String): Map[String, String] = {
    val p = new Path(s"$path/$MetaDir/hoodie.properties")
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(l => l.startsWith("#") || !l.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      finally in.close()
    }
  }

  /** The table's declared type; absent properties (graft's own minimal
    * fixtures) default to COPY_ON_WRITE.
    */
  private[sinks] def tableType(fs: FileSystem, path: String): String =
    tableProps(fs, path).getOrElse("hoodie.table.type", "COPY_ON_WRITE")

  /** Declared table version; absent properties default to v6. */
  private[sinks] def tableVersion(fs: FileSystem, path: String): Int =
    tableProps(fs, path).get("hoodie.table.version")
      .map(_.trim.toInt).getOrElse(6)

  /** WRITE gate for the 1.x (table version >= 8) layout: reads serve it
    * ([[timelineInstants]] resolves `.hoodie/timeline/` and the
    * `<instant>_<completionTime>.<action>` completed names), but
    * writes/maintenance would have to speak the 1.x completion-time
    * concurrency protocol and its LSM archived timeline — refusing is
    * the honest boundary (a v6-shaped instant file in a 1.x timeline
    * would be invisible to real 1.x readers' completion-time ordering).
    */
  private[sinks] def requireV6Timeline(fs: FileSystem, path: String): Unit = {
    val ver = tableVersion(fs, path)
    require(ver <= 7,
      s"HudiInterop: table version $ver uses the 1.x timeline layout " +
        "(.hoodie/timeline/, completion-time commits) — reads serve it; " +
        "writes and maintenance need the owning 1.x writer")
  }

  /** Refuse MERGE_ON_READ where only COW semantics are implemented:
    * a COW slice written into a MOR table would orphan that group's
    * pending log records, and COW maintenance (clean/restore/convert)
    * reasons about whole slices, not slice+log pairs. Snapshot READS of
    * MOR route through [[HudiMor]] instead.
    */
  private[sinks] def requireReadable(fs: FileSystem, path: String): Unit =
    require(tableType(fs, path) == "COPY_ON_WRITE",
      s"HudiInterop: table type ${tableType(fs, path)} is not supported " +
        "on this path — MERGE_ON_READ supports snapshot reads " +
        "(HudiMor.read), upsertMor/deleteMor writes, and compactMor; " +
        "COW slice writes and clean/restore/convert need a compacted table")

  // ---- file slices ----

  /** Base-file name per the spec: `<fileId>_<writeToken>_<instant>.parquet`.
    * Real writers' fileId is a 36-char UUID PLUS a `-<index>` suffix
    * (38+ chars), the write token is `p-s-a`, and pre-0.13 writers
    * stamp 14-digit (second-resolution) instants — all accepted here;
    * graft's own writer emits bare-UUID fileIds and 17-digit instants.
    */
  private val SliceName =
    "([0-9a-f-]{36}(?:-\\d+)?)_([0-9-]+)_(\\d{14}(?:\\d{3})?)\\.parquet".r

  private[sinks] final case class Slice(dir: String, fileId: String, instant: String,
      rel: String)

  private[sinks] def slices(fs: FileSystem, path: String): Seq[Slice] =
    CommitKernel.walk(fs, new Path(path), !_.startsWith(MetaDir)).collect {
      case (st, rel) if SliceName.matches(st.getPath.getName) =>
        val SliceName(fileId, _, instant) = st.getPath.getName
        Slice(rel.split("/").dropRight(1).mkString("/"), fileId, instant, rel)
    }

  /** Latest committed slice per file group at `asOf` (or latest). */
  private[sinks] def liveSlices(spark: SparkSession, path: String,
      asOf: Option[String]): Seq[Slice] = {
    val fs = fsFor(spark, path)
    requireReadable(fs, path)
    val committed = timelineInstants(fs, path, ".commit")
      .filter(i => asOf.forall(i <= _)).toSet
    require(committed.nonEmpty, s"no completed commits in $path (asOf=$asOf)")
    slices(fs, path).filter(s => committed.contains(s.instant))
      .groupBy(s => (s.dir, s.fileId))
      .map { case (_, ss) => ss.maxBy(_.instant) }.toSeq
  }

  /** The current snapshot's live base files as (absolutePath, bytes)
    * plus the DATA schema (meta columns dropped) — the inventory a
    * metadata-only CONVERT consumes. Partitioned Hudi tables convert
    * fine: Hudi writes partition columns physically into the data
    * files, so every adopted file is self-contained and the target's
    * recomputed per-file stats make partition-column predicates prune
    * exactly where dir pruning did.
    */
  /** Live data bytes of the current snapshot (one getFileStatus per
    * live slice, no data IO) — the planner-statistics number. MOR
    * tables report base + log bytes (a conservative upper bound of the
    * merged size, which is the safe direction for broadcast decisions).
    */
  def liveBytes(spark: SparkSession, path: String): Long = {
    val fs = fsFor(spark, path)
    if (tableType(fs, path) == "MERGE_ON_READ")
      return HudiMor.liveBytes(spark, path)
    liveSlices(spark, path, None)
      .map(s => fs.getFileStatus(new Path(s"$path/${s.rel}")).getLen).sum
  }

  /** Hudi's INSPECTION surface, metadata-only: `timeline` = every
    * instant with its action and completion state (what
    * `hudi-cli show timeline` prints), `files` = the live slice per
    * file group with its committing instant — retention and
    * small-file monitoring without a data byte.
    */
  def metadataTable(spark: SparkSession, path: String, table: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, path)
    table match {
      case "timeline" =>
        val dir = timelineDir(fs, path)
        val names =
          if (!fs.exists(dir)) Seq.empty[String]
          else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        val Known = Seq(".commit.requested", ".inflight", ".commit",
          ".deltacommit.requested", ".deltacommit.inflight", ".deltacommit",
          ".clean", ".restore")
        def stemInstant(stem: String): Option[String] =
          if (stem.forall(_.isDigit)) Some(stem)
          else if (stem.matches("\\d+_\\d+")) Some(stem.takeWhile(_ != '_'))
          else None // 1.x completed names carry a completion-time suffix
        names.flatMap { n =>
          Known.collectFirst {
            case suf if n.endsWith(suf) &&
                stemInstant(n.stripSuffix(suf)).isDefined =>
              (stemInstant(n.stripSuffix(suf)).get, suf.stripPrefix("."),
                suf == ".commit" || suf == ".deltacommit" ||
                  suf == ".clean" || suf == ".restore")
          }
        }.toDF("instant", "state", "completed")
          .orderBy(col("instant"), col("state"))
      case "files" =>
        // MOR: the live slice inventory is base files PLUS their bound
        // log files (what the compactor and small-file monitors script
        // against); COW lists the latest committed slice per group
        val live =
          if (tableType(fs, path) == "MERGE_ON_READ")
            HudiMor.liveFileInventory(spark, path)
          else liveSlices(spark, path, None).map(s => (s.rel, s.dir, s.fileId, s.instant))
        live.map { case (rel, dir, fid, instant) => (rel, dir, fid, instant,
          fs.getFileStatus(new Path(s"$path/$rel")).getLen) }
          .toDF("path", "partition", "file_id", "instant", "size_in_bytes")
          .orderBy(col("path"))
      case other => throw new IllegalArgumentException(
        s"HudiInterop: unknown metadata table '$other' — have timeline, files")
    }
  }

  private[graft] def currentDataFiles(spark: SparkSession,
      path: String): (org.apache.spark.sql.types.StructType, Seq[(String, Long)]) = {
    val fs = fsFor(spark, path)
    val live = liveSlices(spark, path, None)
    val files = live.map { s =>
      val p = fs.makeQualified(new Path(s"$path/${s.rel}"))
      // a plain path on the local filesystem; elsewhere scheme and
      // authority stay (s3a://bucket/…), or the adopting format's
      // metadata would point at the wrong filesystem
      (if (p.toUri.getScheme == "file") p.toUri.getPath else p.toString,
        fs.getFileStatus(p).getLen)
    }
    // the DATA schema: meta columns stay physically in the donor files
    // but an adopting format's schema simply omits them — by-name
    // parquet projection never reads them again. The union of ALL live
    // footers matters: under additive evolution different file groups
    // carry different column sets, and one arbitrary footer would
    // nondeterministically drop the newer columns. Footers are read on
    // the driver (option("mergeSchema") would ship a distributed footer
    // job); divergent footers fall back to Spark's own merge semantics.
    val schemas = FileStats.footerSchemas(
      spark.sparkContext.hadoopConfiguration, files.map(_._1)).distinct
    val unioned =
      if (schemas.size == 1) schemas.head
      else spark.read.option("mergeSchema", "true").parquet(files.map(_._1): _*).schema
    val schema = org.apache.spark.sql.types.StructType(
      unioned.filterNot(f => MetaCols.contains(f.name)))
    (schema, files)
  }

  /** Snapshot read (latest committed file slices), meta columns
    * included — project them away with `.drop(HudiInterop.MetaCols: _*)`
    * for pure data. Partition columns live IN the data files (Hudi
    * writes them), so no dir-based reconstruction is needed.
    */
  def read(spark: SparkSession, path: String,
      asOf: Option[String] = None): DataFrame = {
    // MERGE_ON_READ snapshots collapse base + log records (HudiMor);
    // COW resolves latest committed slices directly
    if (tableType(fsFor(spark, path), path) == "MERGE_ON_READ")
      return HudiMor.read(spark, path, asOf)
    val files = liveSlices(spark, path, asOf).map(s => s"$path/${s.rel}")
    // explicit file list WITHOUT basePath: partition values already live
    // inside Hudi data files, and dir-based inference would duplicate
    // the column. Schema from FOOTERS read on a local thread pool
    // (HudiMor.read's rule): inference ships a distributed footer job on every read
    // construction, which identical footers (the common case) do not
    // need; divergent slices keep Spark's own inference.
    val schemas = FileStats.footerSchemas(
      spark.sparkContext.hadoopConfiguration, files).distinct
    if (schemas.size == 1) spark.read.schema(schemas.head).parquet(files: _*)
    else spark.read.parquet(files: _*)
  }

  /** Hudi incremental query: exactly the records whose commit time is
    * in (`sinceInstant`, latest] — carried-over rows keep their original
    * commit time through upsert rewrites, so they drop out here.
    */
  def readIncremental(spark: SparkSession, path: String,
      sinceInstant: String): DataFrame =
    read(spark, path).filter(col("_hoodie_commit_time") > sinceInstant)

  /** The records committed in instant range `(since, until]` — the
    * incremental-pull window behind the streaming tail. Carried-over
    * rows keep their original commit time through upsert rewrites, so
    * only genuinely new/updated row versions land in the window.
    */
  def readIncrementalBetween(spark: SparkSession, path: String,
      since: String, until: String): DataFrame =
    read(spark, path, asOf = Some(until))
      .filter(col("_hoodie_commit_time") > since &&
        col("_hoodie_commit_time") <= until)

  /** Hudi's cleaner (KEEP_LATEST_COMMITS policy): per file group, keep
    * every slice version needed to serve queries as of the newest
    * `retainCommits` commits — the versions at-or-after the retention
    * horizon plus the latest one before it — and physically delete the
    * rest. Upserts rewrite whole slices (copy-on-write), so without a
    * cleaner a hot key's group accumulates one full file per upsert
    * forever; with it, disk stays O(live data × retained history).
    * Time travel older than the horizon stops working, Hudi's
    * documented trade. A `<instant>.clean` completes on the timeline.
    * Returns the deleted slice-file count.
    */
  def clean(spark: SparkSession, path: String, retainCommits: Int): Int = {
    require(retainCommits >= 1, s"clean: retainCommits must be >= 1")
    val fs = fsFor(spark, path)
    requireReadable(fs, path) // a MOR table's logs still reference base files
    requireV6Timeline(fs, path) // clean WRITES instants: 1.x refuses
    val committed = timelineInstants(fs, path, ".commit")
    if (committed.size <= retainCommits) return 0
    val horizon = committed.takeRight(retainCommits).head
    val doomed = slices(fs, path).filter(s => committed.contains(s.instant))
      .groupBy(s => (s.dir, s.fileId)).values.flatMap { group =>
        val sorted = group.sortBy(_.instant)
        val keep = (sorted.filter(_.instant >= horizon) ++
          sorted.filter(_.instant < horizon).lastOption.toSeq).map(_.rel).toSet
        sorted.filterNot(s => keep.contains(s.rel))
      }.toSeq
    val instant = nextInstant(committed ++ timelineInstants(fs, path, ".clean"))
    // one batched FS pass, run once the instant is claimed: the doomed
    // set is computed first, then deleted with bounded concurrency —
    // serial per-file round trips are what makes cleaning slow on object
    // stores (which batch deletes natively; concurrency is the portable
    // spelling)
    lazy val deleted = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, doomed.size)))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(doomed.map { s =>
          new java.util.concurrent.Callable[Boolean] {
            override def call(): Boolean =
              fs.delete(new Path(s"$path/${s.rel}"), false)
          }
        }.asJava).asScala.count(_.get())
      } finally pool.shutdown()
    }
    runInstant(fs, path, instant, "clean")(
      s"""{"earliestInstantRetained":"$horizon","filesDeleted":$deleted}""")
    deleted
  }

  /** Hudi's RESTORE (`restore_to_instant`): physically delete every
    * file slice written by instants AFTER `instant`, drop those
    * instants from the timeline, and complete a `<ts>.restore` instant
    * recording the rollback. COW restore IS file deletion — later
    * upserts carried every surviving row forward into their own
    * slices, so removing those slices resurfaces the as-of state
    * exactly. Unlike Delta/Iceberg rollback, the rolled-past history
    * is GONE afterwards — Hudi's documented destructive semantic.
    * Returns the deleted slice-file count.
    */
  def restoreToInstant(spark: SparkSession, path: String,
      instant: String): Int = {
    val fs = fsFor(spark, path)
    requireReadable(fs, path)
    requireV6Timeline(fs, path) // restore WRITES instants: 1.x refuses
    val committed = timelineInstants(fs, path, ".commit")
    require(committed.contains(instant),
      s"restoreToInstant: $instant is not a completed commit " +
        s"(have ${committed.mkString(", ")})")
    // a cleaner may have deleted the pre-target slice versions a restore
    // would resurface — restoring past ANY clean horizon silently loses
    // whole file groups, so refuse loudly (Hudi's own restore rule).
    // Our cleans record earliestInstantRetained; a foreign clean whose
    // body doesn't parse is bounded by its own instant (a clean at c
    // only deletes slice versions below a horizon <= c).
    timelineInstants(fs, path, ".clean").foreach { c =>
      val horizon = (try {
        val in = fs.open(new Path(s"$path/$MetaDir/$c.clean"))
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        "\"earliestInstantRetained\"\\s*:\\s*\"(\\d+)\"".r
          .findFirstMatchIn(body).map(_.group(1))
      } catch { case _: Exception => None }).getOrElse(c)
      require(instant >= horizon,
        s"restoreToInstant: $instant is older than clean horizon $horizon " +
          "— the cleaner already deleted slice versions a restore would " +
          "need (restore before clean, not after)")
    }
    val doomedInstants = committed.filter(_ > instant)
    if (doomedInstants.isEmpty) return 0
    val doomedSet = doomedInstants.toSet
    val doomed = slices(fs, path).filter(s => doomedSet.contains(s.instant))
    val ts = nextInstant(committed ++ timelineInstants(fs, path, ".clean") ++
      timelineInstants(fs, path, ".restore"))
    runInstant(fs, path, ts, "restore") {
      doomed.foreach(s => fs.delete(new Path(s"$path/${s.rel}"), false))
      doomedInstants.foreach(i =>
        fs.delete(new Path(s"$path/$MetaDir/$i.commit"), false))
      s"""{"restoredToInstant":"$instant",""" +
        s""""instantsRolledBack":${doomedInstants.size},""" +
        s""""filesDeleted":${doomed.size}}"""
    }
    doomed.size
  }

  // ---- writers ----

  private[sinks] def hivePath(partitionBy: Seq[String]): org.apache.spark.sql.Column =
    if (partitionBy.isEmpty) lit("")
    else concat_ws("/", partitionBy.map(c =>
      concat_ws("=", lit(c), coalesce(col(c).cast("string"),
        lit("__HIVE_DEFAULT_PARTITION__")))): _*)

  /** Deterministic fileId per partition dir (UUID-shaped from the dir
    * name) — the legacy one-group-per-dir layout, kept as bucket 0 of a
    * single-group table so pre-bucket graft tables stay routable.
    */
  private[sinks] def fileIdFor(dir: String): String =
    java.util.UUID.nameUUIDFromBytes(("graft-hudi:" + dir)
      .getBytes(StandardCharsets.UTF_8)).toString

  /** File groups per partition dir — Hudi's simple-bucket-index sizing
    * key (`graft.hudi.num.file.groups` — deliberately NOT Hudi's
    * `hoodie.bucket.index.num.buckets`: graft's fileIds/hash don't
    * follow the bucket-index conventions a real engine would read out
    * of that key, and a REAL bucket-index table's key must not make
    * graft route into foreign groups). Absent means the legacy
    * single-group layout. Fixed at table creation: key-hash routing is
    * only stable while N never changes, so later writes read it from
    * the properties file and ignore caller wishes.
    */
  private[sinks] def numFileGroups(fs: FileSystem, path: String): Int =
    tableProps(fs, path).get("graft.hudi.num.file.groups")
      .map(_.trim.toInt).getOrElse(1)

  /** Deterministic fileId of bucket `b` in `dir` for an N-bucket table. */
  private[sinks] def bucketFileId(dir: String, b: Int, n: Int): String =
    if (n == 1) fileIdFor(dir)
    else java.util.UUID.nameUUIDFromBytes(s"graft-hudi:$dir#$b"
      .getBytes(StandardCharsets.UTF_8)).toString

  /** Write-routing bucket of a key-string column: hash(key) % N. THE
    * one spelling of the routing hash — upsert, delete, COW rewrite
    * pruning, and compaction all route through it, because the
    * stable-routing invariant (a key lives in exactly one file group
    * forever) dies the moment two call sites hash differently.
    */
  private[sinks] def bucketOfKeyString(key: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    if (n == 1) lit(0)
    else pmod(xxhash64(key), lit(n.toLong)).cast("int")

  /** [[bucketOfKeyString]] over the `_hoodie_record_key` string the
    * writers stamp — keyed on the SAME string every consumer sees.
    */
  private[sinks] def bucketExpr(recordKey: String, n: Int): org.apache.spark.sql.Column =
    bucketOfKeyString(keyStringExpr(recordKey), n)

  /** Pair-routing scale guard: below this many (dir, bucket) pairs the
    * writers inline literal maps / isin lists (zero extra jobs); above
    * it they route through a BROADCAST JOIN — a literal expression with
    * millions of entries explodes analysis/codegen long before the data
    * volume would hurt (10k dirs x 256 buckets is a plausible 100-TB
    * batch), and a driver map captured in a task closure would ship the
    * same millions per task.
    */
  private[graft] var LiteralRoutingLimit = 1024 // var: test seam

  /** Keep only rows whose (__dir, __bucket) is in `pairs`. */
  /** Distinct (dir, bucket) pairs of a batch in ONE job: per-partition
    * local dedup, then driver dedup. `.distinct().collect()` paid an
    * AQE-materialized shuffle (two jobs of pure fixed latency) to dedup
    * a handful of values. Each partition's emission is truncated at
    * `cap + 1` AFTER its local dedup, so when the routing ceiling is
    * about to refuse, one partition alone already proves > cap distinct
    * pairs and the driver never materializes an unbounded map; below
    * the ceiling the result is exact and complete.
    */
  private[sinks] def collectPairsLocal(df: DataFrame, dirCol: String,
      bucketCol: String, cap: Int): Array[(String, Int)] = {
    val pairs = graft.JobLabel(df.sparkSession, "hudi: routing-pair probe") {
      LocalProbe.distinctRows(
        df.select(col(dirCol).cast("string"), col(bucketCol).cast("int")), cap)
    }.map(r => (r.getString(0), r.getInt(1)))
    pairs.foreach { case (dir, _) => requireListable(dir) }
    pairs
  }

  /** Hudi partition dirs carry raw values (`cat=2024-01-01 10:00`), and
    * a Hadoop path cannot hold a `:` in a directory name: such a dir
    * would be written, then fail every later listing of the table. The
    * writers refuse it here, before anything is staged.
    */
  private def requireListable(dir: String): Unit =
    dir.split("/").find(_.contains(':')).foreach { seg =>
      val (c, v) = seg.splitAt(math.max(seg.indexOf('='), 0))
      throw new IllegalArgumentException(s"HudiInterop: partition column $c " +
        s"value '${v.stripPrefix("=")}' holds a ':', which a Hadoop path " +
        "cannot hold in a directory name")
    }

  private[sinks] def semiJoinPairs(df: DataFrame,
      pairs: Iterable[(String, Int)]): DataFrame =
    if (pairs.size <= LiteralRoutingLimit)
      df.filter(concat_ws("\u0001", col("__dir"), col("__bucket").cast("string"))
        .isin(pairs.map { case (d, b) => d + "\u0001" + b }.toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(pairs.toSeq.toDF("__dir", "__bucket")),
        Seq("__dir", "__bucket"), "left_semi")
    }

  /** Stamp `name` = mapping(__dir, __bucket) onto every row. */
  private[sinks] def withPairColumn(df: DataFrame, name: String,
      mapping: Map[(String, Int), String]): DataFrame =
    if (mapping.isEmpty) df.withColumn(name, lit(""))
    else if (mapping.size <= LiteralRoutingLimit) {
      val kvs = mapping.toSeq.flatMap { case ((d, b), v) =>
        Seq(lit(d + "\u0001" + b), lit(v)) }
      df.withColumn(name, map(kvs: _*)(
        concat_ws("\u0001", col("__dir"), col("__bucket").cast("string"))))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(mapping.toSeq.map { case ((d, b), v) => (d, b, v) }
        .toDF("__dir", "__bucket", name)), Seq("__dir", "__bucket"), "left")
    }

  /** Target fileId for (dir, bucket) given the dir's live group ids.
    * Foreign layouts the key-hash routing cannot address refuse loudly
    * — reads serve any group inventory, but a write that cannot tell
    * which group holds a key would duplicate it.
    */
  private[sinks] def routeGroup(liveGroupsByDir: Map[String, Seq[String]],
      n: Int, d: String, b: Int): String =
    if (n == 1) liveGroupsByDir.getOrElse(d, Nil) match {
      case Seq() => fileIdFor(d)
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        s"HudiInterop: partition dir '$d' holds ${many.size} live file groups " +
          "but the table declares no graft.hudi.num.file.groups — this " +
          "writer cannot route keys across a foreign multi-group layout " +
          "(reads serve it; write with the owning engine or compact there first)")
    } else {
      val expected = (0 until n).map(bucketFileId(d, _, n)).toSet
      val foreign = liveGroupsByDir.getOrElse(d, Nil).filterNot(expected.contains)
      if (foreign.nonEmpty) throw new IllegalArgumentException(
        s"HudiInterop: partition dir '$d' holds file group(s) " +
          s"${foreign.take(3).mkString(", ")} outside the table's $n-bucket " +
          "key-hash layout — writes cannot route keys into foreign groups")
      bucketFileId(d, b, n)
    }

  /** Insert `df` as a new commit (new file slices for its partition
    * dirs). First write creates the table. Returns the instant time.
    */
  /** `recordKey` accepts Hudi's own comma-separated composite shape
    * (`hoodie.datasource.write.recordkey.field = "a,b"`, the
    * ComplexKeyGenerator the reference's Hudi job configures —
    * `jobs/S3ToHudiStreamJob.scala:82-86`): a single name keeps
    * SimpleKeyGenerator semantics (`_hoodie_record_key` = the value), a
    * list emits the `col1:val1,col2:val2` complex-key encoding with
    * Hudi's `__null__`/`__empty__` placeholders.
    */
  private[sinks] def keyCols(recordKey: String): Seq[String] =
    recordKey.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The `_hoodie_record_key` string for a (possibly composite) key. */
  private[sinks] def keyStringExpr(recordKey: String): org.apache.spark.sql.Column = {
    val keys = keyCols(recordKey)
    if (keys.size == 1) col(keys.head).cast("string")
    else concat_ws(",", keys.map { k =>
      val v = col(k).cast("string")
      concat(lit(k + ":"),
        when(v.isNull, lit("__null__"))
          .when(v === "", lit("__empty__"))
          .otherwise(v))
    }: _*)
  }

  def insert(df: DataFrame, path: String, recordKey: String,
      precombine: String, partitionBy: Seq[String] = Nil,
      tableName: String = "graft_table",
      numFileGroups: Int = 1): String = graft.JobLabel(df.sparkSession, "hudi.insert") {
    commitSlices(df, path, recordKey, precombine, partitionBy, tableName,
      carryOver = None, createGroups = numFileGroups)
  }

  /** Write-time dedup of an incoming batch by (key, precombine) —
    * Hudi's `hoodie.combine.before.insert` semantic: one row per key
    * survives (highest precombine wins) BEFORE any table state is
    * consulted. [[upsert]]'s merge window already does this for
    * existing tables; this is the same contract for the bootstrap
    * insert, so a duplicate-bearing first batch (the reference's
    * duplicate repro, README.md:115-122) converges from commit one.
    */
  def precombineBatch(df: DataFrame, recordKey: String,
      precombine: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols(recordKey).map(col): _*)
      .orderBy(col(precombine).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Keyed latest-wins upsert: incoming rows replace existing rows with
    * the same record key when their `precombine` is >= (ties to
    * incoming); unaffected partitions keep their file slices untouched,
    * carried-over records keep their original meta columns. An empty
    * `df` commits nothing and returns the latest completed instant; the
    * routing-pair probe answers that, so callers run no emptiness
    * action of their own. `df` is read by that probe and by the staging
    * write: persist it when it is costly to recompute.
    */
  def upsert(df: DataFrame, path: String, recordKey: String,
      precombine: String, partitionBy: Seq[String] = Nil,
      tableName: String = "graft_table"): String = graft.JobLabel(df.sparkSession, "hudi.upsert") {
    val spark = df.sparkSession
    val existing = read(spark, path)
    // rewrite only the file groups holding incoming keys: on a bucketed
    // table the carried-row rewrite shrinks from O(affected dirs) to
    // O(affected buckets) — the difference between rewriting a hot
    // 100-GB partition and rewriting one of its N slices
    val n = numFileGroups(fsFor(spark, path), path)
    val incomingPairs = collectPairsLocal(
      df.select(hivePath(partitionBy).as("__dir"), bucketExpr(recordKey, n).as("__b")),
      "__dir", "__b", cap = Int.MaxValue) // exact: dirs × buckets, the rewrite set
    // the routing probe doubles as the emptiness answer (HudiMor.upsert's
    // rule): an empty batch commits nothing and reports the latest instant
    if (incomingPairs.isEmpty) return completedInstants(spark, path).last
    val existingBucket = bucketOfKeyString(col("_hoodie_record_key"), n)
    val affected = semiJoinPairs(
      existing.withColumn("__dir", col("_hoodie_partition_path"))
        .withColumn("__bucket", existingBucket),
      incomingPairs.toSeq).drop("__dir", "__bucket")
    // latest-wins: incoming beats existing at equal precombine
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols(recordKey).map(col): _*)
      .orderBy(col(precombine).desc, col("__is_incoming").desc)
    val merged = affected.withColumn("__is_incoming", lit(0))
      .unionByName(df.withColumn("__is_incoming", lit(1)), allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // merged's (dir, bucket) pairs are exactly the incoming ones (the
    // affected side was semi-joined by them) — route here and skip
    // stageSlices' distinct+collect job, which would re-run the merge
    // window a second time just to rediscover them
    val fsw = fsFor(spark, path)
    val committedSet = (timelineInstants(fsw, path, ".commit") ++
      timelineInstants(fsw, path, ".deltacommit")).toSet
    val liveGroupByDir = slices(fsw, path)
      .filter(s => committedSet.contains(s.instant))
      .groupBy(_.dir).map { case (d, ss) => d -> ss.map(_.fileId).distinct }
    val routed = incomingPairs.map { case (d, b) =>
      (d, b) -> routeGroup(liveGroupByDir, n, d, b) }.toMap
    commitSlices(merged, path, recordKey, precombine, partitionBy, tableName,
      carryOver = Some(()), knownPairs = Some(routed))
  }

  private[sinks] def commitSlices(df: DataFrame, path: String, recordKey: String,
      precombine: String, partitionBy: Seq[String], tableName: String,
      carryOver: Option[Unit], action: String = "commit",
      allowMor: Boolean = false, createGroups: Int = 1,
      knownPairs: Option[Map[(String, Int), String]] = None): String = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    keyCols(recordKey).foreach(k => require(
      df.schema.fieldNames.contains(k), s"missing key col $k"))
    require(df.schema.fieldNames.contains(precombine), s"missing precombine $precombine")
    ensureTable(fs, path, tableName, createGroups)
    if (action == "commit" && !allowMor) {
      requireReadable(fs, path) // never write COW slices into a MOR table
      requireV6Timeline(fs, path) // nor v6-shaped instants into a 1.x timeline
    }
    else { // MOR base slices: bootstrap deltacommit or compaction commit
      require(tableType(fs, path) == "MERGE_ON_READ",
        s"HudiInterop: $action slices with allowMor need a MERGE_ON_READ table")
      requireV6Timeline(fs, path)
    }
    val instant = nextInstant(
      timelineInstants(fs, path, ".commit") ++
        timelineInstants(fs, path, ".commit.requested") ++
        timelineInstants(fs, path, ".deltacommit") ++
        timelineInstants(fs, path, ".deltacommit.requested"))
    // routed before the instant opens, so a refused write leaves no trace
    val pairs = knownPairs.getOrElse(routePairs(df, fs, path, recordKey, partitionBy))
    runInstant(fs, path, instant, action) {
      writeStatsJson(stageSlices(df, path, recordKey, precombine, partitionBy,
        carryOver, instant, pairs), if (carryOver.isDefined) "UPSERT" else "INSERT")
    }
  }

  /** The commit-metadata `partitionToWriteStats` body for `entries` of
    * (dir, fileId, relPath, bytes); bytes < 0 (log files — sizes live
    * on disk, not in the stats) omit the byte fields.
    */
  private[sinks] def writeStatsJson(entries: Seq[(String, String, String, Long)],
      operation: String): String = {
    val statsJson = JObject("partitionToWriteStats" -> JObject(
      entries.groupBy(_._1).toList.sortBy(_._1).map { case (dir, es) =>
        dir -> (JArray(es.toList.sortBy(_._3).map { case (_, fid, rel, bytes) =>
          val base = List("fileId" -> (JString(fid): JValue),
            "path" -> (JString(rel): JValue))
          JObject(if (bytes >= 0) base ++ List(
            "totalWriteBytes" -> (JLong(bytes): JValue),
            "numWrites" -> (JLong(-1L): JValue)) else base)
        }): JValue)
      }) :: ("operation" -> (JString(operation): JValue)) :: Nil)
    JsonMethods.pretty(JsonMethods.render(statsJson))
  }

  /** The (dir, bucket) -> fileId routing of `df`'s rows, one probe job.
    *
    * Group assignment: bucket = hash(record key) % N
    * (`graft.hudi.num.file.groups`, graft's bucket-index analog),
    * fileId deterministic per (dir, bucket) — so a hot partition splits
    * across N independently-rewritable slices instead of one unbounded
    * file, and updates route to their key's group without an index scan.
    * Single-group tables (N = 1) REUSE the dir's existing live group id
    * (a foreign writer's fileId is not graft's deterministic one, and
    * writing a parallel group would leave the old slice live — every
    * carried row duplicated); unroutable foreign layouts refuse loudly
    * in [[routeGroup]].
    */
  private def routePairs(df: DataFrame, fs: FileSystem, path: String,
      recordKey: String, partitionBy: Seq[String]): Map[(String, Int), String] = {
    val n = numFileGroups(fs, path)
    val committedSet = (timelineInstants(fs, path, ".commit") ++
      timelineInstants(fs, path, ".deltacommit")).toSet
    val liveGroupByDir = slices(fs, path)
      .filter(s => committedSet.contains(s.instant))
      .groupBy(_.dir).map { case (d, ss) => d -> ss.map(_.fileId).distinct }
    collectPairsLocal(
        df.select(hivePath(partitionBy).as("__dir"), bucketExpr(recordKey, n).as("__bucket")),
        "__dir", "__bucket", cap = Int.MaxValue) // exact: one entry per written group
      .map { case (d, b) => (d, b) -> routeGroup(liveGroupByDir, n, d, b) }.toMap
  }

  /** Stage new base slices for `df`'s (dir, bucket) file groups under
    * `instant` WITHOUT touching the timeline — the caller owns the
    * instant lifecycle, so a MOR upsert can publish base bootstraps and
    * log appends under ONE atomic delta commit. `fidByPair` is the
    * groups' routing ([[routePairs]]). Returns one
    * (dir, fileId, relPath, bytes) entry per written slice file.
    */
  private[sinks] def stageSlices(df: DataFrame, path: String, recordKey: String,
      precombine: String, partitionBy: Seq[String],
      carryOver: Option[Unit], instant: String,
      fidByPair: Map[(String, Int), String]): Seq[(String, String, String, Long)] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val n = numFileGroups(fs, path)
    val dirCol = hivePath(partitionBy)
    val isCarry = carryOver.isDefined && df.schema.fieldNames.contains("__is_incoming")
    // fileId is a pure function of (dir, bucket): a literal map keeps
    // the stamp codegen'd (no UDF); huge pair sets route through the
    // broadcast join in withPairColumn
    val routed = withPairColumn(
      df.withColumns(Map("__dir" -> dirCol, "__bucket" -> bucketExpr(recordKey, n))),
      "__file_id", fidByPair)
    // carried-over records keep their original commit time + seqno; new
    // winners get this instant (Hudi preserves meta fields on merge)
    val ct = lit(instant)
    val seqno = concat_ws("_", ct, lit("0"),
      pmod(xxhash64(keyStringExpr(recordKey)), lit(1000000L)).cast("string"))
    def stampNew(c: org.apache.spark.sql.Column, meta: String) =
      (if (isCarry) when(col("__is_incoming") === 1, c).otherwise(col(meta)) else c).as(meta)
    val dataCols = df.columns.filterNot(c =>
      MetaCols.contains(c) || c.startsWith("__"))
    // ONE projection stamps the meta columns (each chained withColumn
    // re-analyzes the whole plan). __file_id is consumed by the
    // _hoodie_file_name stamp and must NOT reach the parquet: the wire
    // format has exactly the five meta columns + data columns (a stray
    // engine column would leak into every reader's schema, including
    // metadata-only conversions)
    val ordered = routed.select((Seq(
      stampNew(ct, "_hoodie_commit_time"),
      stampNew(seqno, "_hoodie_commit_seqno"),
      keyStringExpr(recordKey).as("_hoodie_record_key"),
      col("__dir").as("_hoodie_partition_path"),
      concat(col("__file_id"), lit("_0-0-0_"), ct, lit(".parquet")).as("_hoodie_file_name")) ++
      dataCols.map(col) :+ col("__dir") :+ col("__bucket")): _*)

    // one writer per file group (dir × bucket), each part file moved to
    // its Hudi slice name (`__dir` = null is the table root)
    def group(pv: Map[String, Option[String]]): (String, Int) =
      (pv("__dir").getOrElse(""), pv("__bucket").get.toInt)
    val nth = scala.collection.mutable.Map[(String, Int), Int]().withDefaultValue(0)
    val staged = CommitKernel.stage(ordered.repartition(col("__dir"), col("__bucket")),
        path, StageDir, "hudi: stage slices", Seq("__dir", "__bucket")) { src =>
      val g = group(src.partitionValues)
      val name = s"${fidByPair(g)}_${nth(g)}-0-0_$instant.parquet"
      nth(g) += 1
      if (g._1.isEmpty) name else s"${g._1}/$name"
    }
    staged.map(s => group(s.partitionValues)._1).distinct.foreach { dir =>
      val meta = new Path(if (dir.isEmpty) new Path(path) else new Path(s"$path/$dir"),
        PartitionMeta)
      if (!fs.exists(meta))
        CommitKernel.replace(fs, meta,
          s"#partition metadata\ncommitTime=$instant\npartitionDepth=${partitionBy.size}\n"
            .getBytes(StandardCharsets.UTF_8))
    }
    staged.map { s =>
      val g = group(s.partitionValues)
      (g._1, fidByPair(g), s.path, s.bytes)
    }
  }

  /** Driver-checked round trip through the wire format: orders bulk-
    * insert (instant 1), a doubled-price slice UPSERTS (instant 2 —
    * latest-wins, carried-over rows keep instant 1), then one result
    * frame reads the snapshot totals, the as-of-instant-1 counts, and
    * the incremental-pull count since instant 1. The DuckDB oracle
    * replays the same algebra over raw orders — upsert-replace (not
    * append), which is exactly what distinguishes this from
    * `q_delta_roundtrip`'s append semantics.
    */
  def hudiRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-hudi-rt") + "/orders_hudi"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    val i1 = insert(orders, out, recordKey = "o_orderkey",
      precombine = "o_orderdate", partitionBy = Seq("o_orderstatus"))
    upsert(orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      out, recordKey = "o_orderkey", precombine = "o_orderdate",
      partitionBy = Seq("o_orderstatus"))
    val snap = read(spark, out)
    val latest = snap.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
    val asOf1 = read(spark, out, asOf = Some(i1)).groupBy(col("o_orderstatus"))
      .agg(sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
        .as("sum_price_v1"))
    val incr = readIncremental(spark, out, sinceInstant = i1)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_changed"))
    latest.join(asOf1, "o_orderstatus")
      .join(incr, Seq("o_orderstatus"), "left")
      .select(col("o_orderstatus"), col("n_rows"), col("sum_price"),
        col("sum_price_v1"), coalesce(col("n_changed"), lit(0L)).as("n_changed"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked cleaner round trip: insert, upsert a slice TWICE
    * (each COW rewrite stacks a full slice version on the hot file
    * groups), clean to the newest 2 commits, and the read-back
    * aggregate must equal the latest-wins algebra — the cleaner must
    * be invisible to snapshot results while physically dropping the
    * stale slice versions (spec-asserted file counts).
    */
  def hudiCleanRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-hudi-clean") + "/orders_hudi"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
    insert(orders, out, recordKey = "o_orderkey",
      precombine = "o_orderdate", partitionBy = Seq("o_orderstatus"))
    for (mult <- Seq(2, 3))
      upsert(orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * mult),
        out, recordKey = "o_orderkey", precombine = "o_orderdate",
        partitionBy = Seq("o_orderstatus"))
    clean(spark, out, retainCommits = 2)
    read(spark, out).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val ops: Seq[graft.Op] = Seq(
    graft.Op("q_hudi_clean", hudiCleanRoundTrip,
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               cast(sum(cast(CASE WHEN o_orderkey % 10 = 0
                 THEN o_totalprice * 3 ELSE o_totalprice END
                 AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),
    graft.Op("q_hudi_roundtrip", hudiRoundTrip,
      Some("""
        WITH merged AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END AS o_totalprice,
                 CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END AS changed
          FROM orders),
        latest AS (
          SELECT o_orderstatus, count(*) AS n_rows,
                 cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
                 CAST(sum(changed) AS BIGINT) AS n_changed
          FROM merged GROUP BY o_orderstatus),
        v1 AS (
          SELECT o_orderstatus,
                 cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price_v1
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, n_rows, sum_price, sum_price_v1, n_changed
        FROM latest JOIN v1 USING (o_orderstatus)
        ORDER BY o_orderstatus""")))
}
