package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Snapshot / time-travel table: a transaction log over the same
  * hive-partitioned parquet layout [[TableSink]] writes.
  *
  * The reference leans on Delta/Hudi for exactly this capability
  * (`jobs/S3ToDeltaStreamJob.scala`, `S3ToHudiOptStreamJob.scala:80-105`;
  * `README.md:126-147` measures the COW trade) but those connector jars
  * are not on this offline classpath — so the log protocol is
  * re-expressed natively, Delta-style:
  *
  *  - Data files are immutable once written; a write NEVER deletes or
  *    overwrites a data file.
  *  - `_graft_log/v<20-digit>.json` holds one commit per version: the
  *    RELATIVE paths of data files added and logically removed, a
  *    timestamp, and the operation name. The snapshot at version V is
  *    replay(adds − removes) over commits 1..V.
  *  - Commits are atomic via rename onto the next version's reserved
  *    filename: HDFS/posix rename fails if the destination exists, which
  *    doubles as optimistic concurrency control — a losing concurrent
  *    writer gets a [[java.util.ConcurrentModificationException]], not a
  *    corrupt log (object stores without atomic rename need a
  *    coordination service here, same as delta-on-S3).
  *
  * Scale shape: a snapshot read lists ZERO directories — the exact live
  * file set comes from the log, so planning cost is O(log size), not
  * O(table files); on a 100 TB table with millions of files that is the
  * difference between a sub-second and a minutes-long query start. Log
  * replay itself is O(commits); `checkpointEvery` commits a full
  * live-file manifest so replay reads at most that many JSON files.
  * Upserts keep the COW property O(affected partitions): untouched
  * partitions' files stay live across versions (verified by spec — the
  * file objects are SHARED between snapshots, not copied).
  */
object VersionedTable {

  /** Driver-checkable round trip: versioned orders table, v1 = base
    * load, v2 = the same deterministic upsert as [[TableSink.ops]]'
    * `q_upsert`; return the snapshot AS OF v1 — time travel must see
    * the pre-upsert table byte-for-byte, so the oracle is the plain
    * base projection.
    */
  /** v1 = base orders load, v2 = the same deterministic upsert as
    * [[TableSink.ops]]' `q_upsert` (every 100th key updated, every
    * (100k+50)th re-inserted negated). Shared by the time-travel and CDF
    * driver checks.
    */
  private def versionedOrders(spark: SparkSession, dir: String): String = {
    val path = graft.Scratch.dir("graft-vt") + "/orders_vt"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
    write(spark, path, orders.withColumn("version", lit(1L)), Seq("o_orderstatus"))
    val changed = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
      .withColumn("version", lit(2L))
    val inserted = orders.filter(col("o_orderkey") % 100 === 50)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("version", lit(2L))
    upsert(spark, path, changed.unionByName(inserted),
      key = "o_orderkey", precombine = "version", partitionCols = Seq("o_orderstatus"))
    path
  }

  def timeTravelRoundTrip(spark: SparkSession, dir: String): DataFrame =
    read(spark, versionedOrders(spark, dir), asOfVersion = Some(1L))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("version"))
      .orderBy(col("o_orderkey"))

  /** Driver-checkable CDF: the row-level diff v1→v2 must be EXACTLY the
    * update set (post-images) plus the inserts — every rewrite copy of an
    * unchanged row dropped. Oracle reconstructs the same set in SQL.
    */
  def cdfRoundTrip(spark: SparkSession, dir: String): DataFrame =
    changes(spark, versionedOrders(spark, dir), 1L, 2L,
      key = "o_orderkey", partitionCols = Seq("o_orderstatus"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("version"), col("_change_type"))
      .orderBy(col("o_orderkey"))

  /** Driver-checkable data skipping: orders clustered by o_totalprice,
    * then a range read through the stats-pruned planner. The oracle is
    * the plain filtered select — pruning must never lose a row; the spec
    * additionally asserts it actually skips files.
    */
  def clusterRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft-vt-cluster") + "/orders_clustered"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(spark, path, orders, partitionCols = Nil)
    cluster(spark, path, sortCols = Seq("o_totalprice"), partitionCols = Nil,
      filesPerPartition = 16)
    val (df, _, _) = readPruned(spark, path,
      col("o_totalprice") >= 50000.0 && col("o_totalprice") < 100000.0)
    df.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Driver-checkable Z-order: orders clustered on (o_totalprice,
    * o_custkey), then a 2-D range read through the stats-pruned planner —
    * correctness oracle is the plain conjunctive filter (the spec
    * separately proves files are actually skipped on both dimensions).
    */
  def zorderRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft-vt-zorder") + "/orders_z"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    write(spark, path, orders, partitionCols = Nil)
    clusterZOrder(spark, path, zCols = Seq("o_totalprice", "o_custkey"),
      partitionCols = Nil, filesPerPartition = 16)
    val (df, _, _) = readPruned(spark, path,
      col("o_totalprice") >= 100000.0 && col("o_custkey") < 500L)
    df.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Driver-checkable MERGE: ONE statement against the versioned orders
    * table updates every 100th key (+100000 price), deletes every
    * (100k+50)th, and inserts a negated copy of every (100k+25)th; the
    * oracle reconstructs the same end state relationally.
    */
  def mergeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft-vt-merge") + "/orders_m"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    write(spark, path, orders, Seq("o_orderstatus"))
    val src = orders.filter(col("o_orderkey") % 100 === 0).withColumn("op", lit("U"))
      .unionByName(orders.filter(col("o_orderkey") % 100 === 50).withColumn("op", lit("D")))
      .unionByName(orders.filter(col("o_orderkey") % 100 === 25)
        .withColumn("o_orderkey", -col("o_orderkey")).withColumn("op", lit("I")))
    merge(spark, path, src, key = "o_orderkey", partitionCols = Seq("o_orderstatus"),
      clauses = Seq(
        MatchedDelete(Some(col("s.op") === "D")),
        MatchedUpdate(Map("o_totalprice" -> (col("s.o_totalprice") + lit(100000.0))),
          Some(col("s.op") === "U")),
        NotMatchedInsert(cond = Some(col("s.op") === "I"))))
    read(spark, path)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Driver-checkable merge-on-read: the same deterministic upsert as
    * the time-travel fixture (every 100th key repriced, every (100k+50)th
    * re-inserted negated) but written as DELTA files, read back through
    * the merge-on-read collapse, then compacted and read AGAIN — the two
    * reads must agree with each other and with the relational oracle, so
    * one query checks both the merged-read path and the compactor.
    */
  def morRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft-vt-mor") + "/orders_mor"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(spark, path, orders.withColumn("version", lit(1L)), Seq("o_orderstatus"))
    val changed = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
      .withColumn("version", lit(2L))
    val inserted = orders.filter(col("o_orderkey") % 100 === 50)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("version", lit(2L))
    upsertMOR(spark, path, changed.unionByName(inserted),
      key = "o_orderkey", precombine = "version", partitionCols = Seq("o_orderstatus"))
    val merged = read(spark, path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("version"))
    compactDeltas(spark, path)
    val compacted = read(spark, path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("version"))
    // INTERSECT is an equality check that stays a DataFrame: if the
    // merged-read and post-compaction snapshots differ at all, rows drop
    // out and the driver's row-count/hash comparison fails loudly.
    merged.intersect(compacted).orderBy(col("o_orderkey"))
  }

  /** Driver-checkable MOR DELETE: every 100th key repriced via a delta
    * upsert, every (100k+1)th key tombstoned via [[deleteMOR]]; the
    * merged read and the post-compaction read must BOTH equal the
    * relational oracle (updates applied, deleted keys gone) — the
    * intersect trick from [[morRoundTrip]] checks the pair at once.
    */
  def morDeleteRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft-vt-mord") + "/orders_mord"
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    write(spark, path, orders.withColumn("version", lit(1L)), Seq("o_orderstatus"))
    val changed = orders.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
      .withColumn("version", lit(2L))
    upsertMOR(spark, path, changed,
      key = "o_orderkey", precombine = "version", partitionCols = Seq("o_orderstatus"))
    val dels = orders.filter(col("o_orderkey") % 100 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .withColumn("version", lit(3L))
    deleteMOR(spark, path, dels,
      key = "o_orderkey", precombine = "version", partitionCols = Seq("o_orderstatus"))
    val merged = read(spark, path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("version"))
    compactDeltas(spark, path)
    val compacted = read(spark, path)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("version"))
    merged.intersect(compacted).orderBy(col("o_orderkey"))
  }

  val ops: Seq[graft.Op] = Seq(
    graft.Op("q_mor_delete", morDeleteRoundTrip,
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 100000
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderkey % 100 = 0 THEN 2 ELSE 1 END AS version
        FROM orders WHERE o_orderkey % 100 <> 1
        ORDER BY o_orderkey""")),
    graft.Op("q_mor", morRoundTrip,
      Some("""
        SELECT * FROM (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 100000
                      ELSE o_totalprice END AS o_totalprice,
                 CASE WHEN o_orderkey % 100 = 0 THEN 2 ELSE 1 END AS version
          FROM orders
          UNION ALL
          SELECT -o_orderkey, o_orderstatus, o_totalprice, 2 AS version
          FROM orders WHERE o_orderkey % 100 = 50)
        ORDER BY o_orderkey""")),
    graft.Op("q_merge", mergeRoundTrip,
      Some("""
        SELECT * FROM (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 100000
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 100 <> 50
          UNION ALL
          SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 100 = 25)
        ORDER BY o_orderkey""")),
    graft.Op("q_zorder", zorderRoundTrip,
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice >= 100000 AND o_custkey < 500
        ORDER BY o_orderkey""")),
    graft.Op("q_cluster", clusterRoundTrip,
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_totalprice >= 50000 AND o_totalprice < 100000
        ORDER BY o_orderkey""")),
    graft.Op("q_time_travel", timeTravelRoundTrip,
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        FROM orders ORDER BY o_orderkey""")),
    graft.Op("q_vt_hidden", vtHiddenRoundTrip,
      Some("""
        SELECT event_id, user_id, event_type, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
          AND user_id IN (1, 2, 3)
        ORDER BY event_id""")),
    graft.Op("q_cdf", cdfRoundTrip,
      Some("""
        SELECT * FROM (
          SELECT o_orderkey, o_orderstatus, o_totalprice + 100000 AS o_totalprice,
                 2 AS version, 'update' AS _change_type
          FROM orders WHERE o_orderkey % 100 = 0
          UNION ALL
          SELECT -o_orderkey, o_orderstatus, o_totalprice,
                 2 AS version, 'insert' AS _change_type
          FROM orders WHERE o_orderkey % 100 = 50)
        ORDER BY o_orderkey""")))

  /** Driver-checked round trip for log-recorded hidden partitioning:
    * events written with day(ts)+bucket(user_id,16) derived at write
    * (the spec lives in the log, not the caller), read back through
    * [[readPruned]] with the raw predicate only — the layout must be
    * invisible to results (same oracle as `q_hidden_partition`, which
    * exercises the log-less variant in [[PartitionTransforms]]).
    */
  def vtHiddenRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("graft-vth") + "/events_vth"
    val ev = graft.sources.Tables.events(spark, dir)
    write(spark, path, ev, Nil, transforms = Seq(
      PartitionTransforms.Day("ts"), PartitionTransforms.Bucket("user_id", 16)))
    val (df, _, _) = readPruned(spark, path,
      col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-20") &&
        col("user_id").isin(1L, 2L, 3L))
    df.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  private val LogDir = "_graft_log"
  private val StageDir = "_graft_stage"

  /** Reserved column marking tombstone rows inside MOR delta files
    * (Hudi's `_hoodie_is_deleted` shape). Never part of the logical
    * schema; merged reads drop keys whose collapse winner carries it.
    */
  private val DeleteMarker = "__g_del"

  private final case class Commit(
      version: Long, tsMs: Long, op: String,
      adds: Seq[String], removes: Seq[String],
      checkpoint: Option[Seq[String]],
      txn: Option[Txn] = None,
      // Live MOR delta manifest, stamped alongside `checkpoint` (possibly
      // Some(Nil)): the replay floor for liveDeltaEntries. Entries keep
      // their ORIGINAL adding-commit version so latest-wins tie-breaks
      // survive log expiry. Legacy checkpoints lack it — expireLog
      // refuses any floor that would change the resolved delta set.
      checkpointDeltas: Option[Seq[DeltaEntry]] = None,
      schemaJson: Option[String] = None,
      // Per file: its `add.stats` object (FileStats.statsValue), typed by
      // the table schema in effect at this commit. Logs written before
      // that shape carry an older object instead (see statsOf).
      stats: Option[Map[String, JValue]] = None,
      deltaAdds: Option[Seq[String]] = None,
      // Delta files RE-added by a restore, keeping the version of the
      // commit that ORIGINALLY added them — reassigning them the restore
      // version would scramble the merge tie-breaks among equal
      // precombines.
      deltaReadds: Option[Seq[DeltaEntry]] = None,
      mor: Option[MorSpec] = None,
      constraints: Option[Map[String, String]] = None,
      blooms: Option[Map[String, Map[String, BloomStat]]] = None,
      partitionSpec: Option[Seq[TransformSpec]] = None)

  /** Merge-on-read metadata a delta commit carries: how readers collapse
    * base + delta rows (partition-scoped `key`, highest `precombine`
    * wins, later delta commits win ties).
    */
  private final case class MorSpec(key: String, precombine: String,
      partitionCols: Seq[String])

  /** One live delta file with the version of the commit that added it
    * (the merge tie-break: later commits win equal precombines).
    */
  private final case class DeltaEntry(file: String, src: Long)

  /** Idempotence token for streaming writers: (appId, batchId). A commit
    * carrying a txn the log has already recorded is a replay — skipped.
    * Same mechanism as Delta's txnAppId/txnVersion option pair.
    */
  private final case class Txn(appId: String, batchId: Long)

  /** Log-serialized form of a hidden-partitioning transform (Iceberg's
    * partition spec): kind + source column + integer parameter.
    */
  private final case class TransformSpec(kind: String, source: String, param: Long)

  private def specOf(t: PartitionTransforms.Transform): TransformSpec = t match {
    case PartitionTransforms.Day(s) => TransformSpec("day", s, 0L)
    case PartitionTransforms.Hour(s) => TransformSpec("hour", s, 0L)
    case PartitionTransforms.Month(s) => TransformSpec("month", s, 0L)
    case PartitionTransforms.Year(s) => TransformSpec("year", s, 0L)
    case PartitionTransforms.Bucket(s, n) => TransformSpec("bucket", s, n.toLong)
    case PartitionTransforms.TruncateStr(s, w) => TransformSpec("truncstr", s, w.toLong)
    case PartitionTransforms.TruncateNum(s, w) => TransformSpec("truncnum", s, w)
  }

  private def transformOf(s: TransformSpec): PartitionTransforms.Transform = s.kind match {
    case "day" => PartitionTransforms.Day(s.source)
    case "hour" => PartitionTransforms.Hour(s.source)
    case "month" => PartitionTransforms.Month(s.source)
    case "year" => PartitionTransforms.Year(s.source)
    case "bucket" => PartitionTransforms.Bucket(s.source, s.param.toInt)
    case "truncstr" => PartitionTransforms.TruncateStr(s.source, s.param.toInt)
    case "truncnum" => PartitionTransforms.TruncateNum(s.source, s.param)
    case other => throw new IllegalStateException(s"unknown transform kind $other")
  }

  /** The table's active hidden-partitioning transforms (latest spec wins;
    * empty for plainly-partitioned tables).
    */
  private def activeTransforms(upTo: Seq[Commit]): Seq[PartitionTransforms.Transform] =
    upTo.reverse.collectFirst { case c if c.partitionSpec.isDefined => c.partitionSpec.get }
      .map(_.map(transformOf)).getOrElse(Nil)

  // (every table op now composes with hidden partitioning — the former
  // requireNoTransforms guard has no remaining callers)

  /** Per-file, per-column bloom filter recorded in the log for equality /
    * IN pruning on high-cardinality columns min/max can't skip. `dt` pins
    * the column's Spark type at write time — xxhash64 is type-exact, so
    * the probe only fires when the literal's type matches.
    */
  private final case class BloomStat(m: Int, k: Int, dt: String, bitsB64: String)

  private implicit val formats: Formats = DefaultFormats

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(path: String, version: Long): Path =
    new Path(s"$path/$LogDir/v${"%020d".format(version)}.json")

  private def readCommit(fs: FileSystem, p: Path): Commit = {
    val in = fs.open(p)
    // big decimals keep every digit of a decimal stats bound
    try JsonMethods.parse(in, useBigDecimalForDouble = true).extract[Commit]
    finally in.close()
  }

  /** All commits, ascending. O(log-dir listing). */
  private def commits(fs: FileSystem, path: String): Seq[Commit] = {
    val dir = new Path(s"$path/$LogDir")
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.matches("v\\d{20}\\.json"))
      .sortBy(_.getPath.getName)
      .map(s => readCommit(fs, s.getPath))
  }

  /** Publish `c` as version `c.version`; a concurrent writer that won
    * that version surfaces as ConcurrentModificationException.
    */
  private def publish(fs: FileSystem, path: String, c: Commit): Unit =
    CommitKernel.publish(fs, commitPath(path, c.version),
      JsonMethods.compact(JsonMethods.render(Extraction.decompose(c)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Live relative file paths at a snapshot. Replays from the latest
    * checkpointed commit ≤ the snapshot, not from v1.
    */
  private def liveFiles(upTo: Seq[Commit]): Seq[String] = {
    val ckptIdx = upTo.lastIndexWhere(_.checkpoint.isDefined)
    val (base, tail) =
      if (ckptIdx >= 0) (upTo(ckptIdx).checkpoint.get, upTo.drop(ckptIdx + 1))
      else (Nil, upTo)
    val live = scala.collection.mutable.LinkedHashSet[String](base: _*)
    tail.foreach { c => live ++= c.adds; live --= c.removes }
    live.toSeq
  }

  /** Live bytes of a snapshot — what the V1 relation reports as
    * `sizeInBytes` so Catalyst's broadcast-threshold decision sees the
    * TABLE's size, not `defaultSizeInBytes` (which is Long.Max-ish and
    * silently forbids broadcasting ANY catalog-table join side).
    * Metadata + one listStatus per live DIRECTORY (never per file,
    * never data bytes); a file a concurrent writer just removed counts
    * 0 — an estimate is exactly what the planner wants here.
    */
  private val liveBytesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()

  def liveBytes(spark: SparkSession, path: String,
      asOf: Option[Long]): Long = {
    val fs = fsFor(spark, path)
    val (upTo, live) = snapshot(fs, path, asOf, None)
    val version = upTo.last.version
    if (liveBytesCache.size > 4096) liveBytesCache.clear() // crude bound
    liveBytesCache.computeIfAbsent((new Path(path).toString, version), { _ =>
      val deltas = liveDeltaEntries(upTo).map(_.file)
      val byDir = (live ++ deltas).toSet
        .groupBy((rel: String) => rel.lastIndexOf('/') match {
          case -1 => ""; case i => rel.substring(0, i)
        }).toSeq.sortBy(_._1)
      // planner statistics gate a broadcast decision — order of magnitude
      // is what matters, so the walk is BOUNDED: sample ≤ 64 dirs
      // (deterministic prefix) and extrapolate. A 500-dir table costs 64
      // listStatus calls, not 500, once per (path, version).
      val sampled = byDir.take(64)
      val bytes = sampled.iterator.map { case (dir, rels) =>
        val d = if (dir.isEmpty) new Path(path) else new Path(s"$path/$dir")
        val names = rels.map(r => r.substring(r.lastIndexOf('/') + 1))
        if (!fs.exists(d)) 0L
        else fs.listStatus(d).iterator
          .filter(st => names.contains(st.getPath.getName))
          .map(_.getLen).sum
      }.sum
      if (byDir.size <= sampled.size) bytes
      else bytes * byDir.size / math.max(1, sampled.size)
    })
  }

  /** Live merge-on-read delta files at a snapshot, each with its adding
    * commit's version. Replays from the latest commit carrying a
    * `checkpointDeltas` manifest ≤ the snapshot (stamped with every
    * checkpoint — entries keep their original source versions), from v1
    * on legacy logs — so expireLog's floor stays safe for uncompacted
    * deltas AND their merge tie-breaks.
    */
  private def liveDeltaEntries(upTo: Seq[Commit]): Seq[DeltaEntry] = {
    val ckptIdx = upTo.lastIndexWhere(_.checkpointDeltas.isDefined)
    val (base, tail) =
      if (ckptIdx >= 0) (upTo(ckptIdx).checkpointDeltas.get, upTo.drop(ckptIdx + 1))
      else (Nil, upTo)
    val live = scala.collection.mutable.LinkedHashMap[String, Long]()
    base.foreach(e => live += e.file -> e.src)
    tail.foreach { c =>
      c.deltaAdds.getOrElse(Nil).foreach(f => live += f -> c.version)
      c.deltaReadds.getOrElse(Nil).foreach(e => live += e.file -> e.src)
      c.removes.foreach(live -= _)
    }
    live.toSeq.map { case (f, v) => DeltaEntry(f, v) }
  }

  private def liveDeltaFiles(upTo: Seq[Commit]): Seq[String] =
    liveDeltaEntries(upTo).map(_.file)

  /** Guard for copy-on-write ops whose base-file arithmetic would
    * silently ignore (or resurrect rows shadowed by) live delta files.
    */
  private def requireNoDeltas(upTo: Seq[Commit], op: String): Unit =
    require(liveDeltaFiles(upTo).isEmpty,
      s"$op: table has live merge-on-read delta files — run compactDeltas first")

  private def dirOf(f: String): String =
    f.lastIndexOf('/') match { case -1 => ""; case i => f.substring(0, i) }

  /** Base files that provably hold NO key a delta file in the same dir
    * could update: their recorded key range misses every delta file's
    * range (log stats only, zero I/O). They stream AROUND the MOR
    * collapse window — no shuffle — which at 100 TB is almost every base
    * file of a touched partition (updates cluster, deltas are small).
    * Conservative: missing stats, possible null keys, or a type mismatch
    * keep the file in the merge. Sound because keys are partition-scoped
    * and unique within base (the upsert/compact invariant the delta-free
    * readPruned path already relies on): a range-disjoint file's rows
    * collapse to themselves.
    */
  private def morBypass(idx: Map[String, FileStats.FileStat], base: Seq[String],
      deltas: Seq[String], key: String): Set[String] = {
    def range(f: String): Option[(Any, Any)] =
      idx.get(f).flatMap(_.cols.get(key)).flatMap(s => s.min.zip(s.max))
    // null keys are invisible to min/max: a base file may only bypass
    // when the log PROVES it has none (delta null keys then can't match)
    def noNullKeys(f: String): Boolean = provenNoNullKeys(idx, f, key)
    // FileStats.cmp orders exactly (strings in the UTF8String byte order
    // the bounds were collected in); an incomparable pair is not disjoint
    def disjoint(a: (Any, Any), b: (Any, Any)): Boolean =
      FileStats.cmp(a._2, b._1).exists(_ < 0) || FileStats.cmp(b._2, a._1).exists(_ < 0)
    val deltaRangesByDir = deltas.groupBy(dirOf).view.mapValues(_.map(range)).toMap
    base.filter { f =>
      deltaRangesByDir.get(dirOf(f)) match {
        case None => true // delta-free dir: nothing to merge against
        case Some(drs) => noNullKeys(f) &&
          range(f).exists(br => drs.forall(_.exists(dr => disjoint(br, dr))))
      }
    }.toSet
  }

  /** Per-dir cap on delta rows for the bloom-probe bypass: above this a
    * dir's delta key set is not collected driver-side and the range test
    * alone decides. `private[graft] var` so specs can pin the fallback.
    */
  private[graft] var morBloomProbeMaxKeys = 100000L

  /** Global budget across all dirs of one merged read — bounds the ONE
    * probe job + collect however many dirs an update batch touched.
    */
  private val MorBloomProbeTotalKeys = 1000000L

  /** Can the log PROVE file `f` holds no null `key` values? Null keys are
    * invisible to min/max AND to value probes, so both bypass proofs
    * require this (a null base key could collapse with a null delta key).
    */
  private def provenNoNullKeys(idx: Map[String, FileStats.FileStat], f: String,
      key: String): Boolean =
    idx.get(f).flatMap(_.cols.get(key)).exists(_.nullCount.contains(0L))

  /** Second-chance bypass for base files the RANGE test could not clear:
    * when the table bloom-indexes the merge key and the touched dirs'
    * log-recorded delta row counts are small, the delta KEYS are read in
    * ONE bounded job (keys attributed to their dir via their file)
    * and probed against each base file's log bloom — a file containing
    * none of the touched keys skips the collapse window even when ranges
    * overlap, which is exactly the scattered-update workload where
    * ranges never prune. False positives only cost a merge; missing
    * blooms/stats or a type mismatch cost nothing (the dt gate is
    * checked against the LOG schema before any I/O).
    */
  private def morBloomBypass(spark: SparkSession, path: String,
      candidates: Seq[String], deltasByDir: Map[String, Seq[String]],
      key: String, keyDt: Option[String], idx: Map[String, FileStats.FileStat],
      bIdx: Map[String, Map[String, BloomStat]]): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val withBloom = candidates.filter(f =>
      bIdx.get(f).exists(bm =>
        bm.contains(key) && keyDt.forall(_ == bm(key).dt)) &&
        provenNoNullKeys(idx, f, key))
    if (withBloom.isEmpty) return Set.empty
    var budget = MorBloomProbeTotalKeys
    val eligibleDirs = withBloom.map(dirOf).distinct.sorted.filter { d =>
      val dfs = deltasByDir.getOrElse(d, Nil)
      val rows = dfs.map(f => idx.get(f).flatMap(_.numRecords).getOrElse(Long.MaxValue)).sum
      val ok = dfs.nonEmpty && rows >= 0 && rows <= morBloomProbeMaxKeys &&
        rows <= budget
      if (ok) budget -= rows
      ok
    }
    if (eligibleDirs.isEmpty) return Set.empty
    // ONE job over every eligible dir's delta files
    val allFiles = eligibleDirs.flatMap(deltasByDir)
    val frame = spark.read.option("basePath", path)
      .parquet(allFiles.map(f => s"$path/$f"): _*)
      .select(col("_metadata.file_path").as("__f"), col(key).as("__k")).distinct()
    val dt = frame.schema.fields(1).dataType
    if (keyDt.exists(_ != dt.catalogString)) return Set.empty
    val byFile = CommitKernel.byKey(fsFor(spark, path), allFiles)(f => new Path(s"$path/$f"))
    val keysByDir = frame.collect().filter(!_.isNullAt(1))
      .groupBy(r => dirOf(byFile(r.getString(0))))
      .view.mapValues(_.map(_.get(1)).distinct.map { v =>
        val litE = Literal.create(v, dt)
        (XxHash64(Seq(litE), 42L).eval(null).asInstanceOf[Long],
          XxHash64(Seq(litE, Literal(1)), 42L).eval(null).asInstanceOf[Long])
      }).toMap
    val dec = java.util.Base64.getDecoder
    val eligibleSet = eligibleDirs.toSet
    withBloom.filter { f =>
      eligibleSet.contains(dirOf(f)) && {
        val bs = bIdx(f)(key)
        bs.dt == dt.catalogString && {
          val bits = dec.decode(bs.bitsB64)
          !keysByDir.getOrElse(dirOf(f), Array.empty[(Long, Long)]).exists {
            case (a, b) =>
              graft.functions.BloomKernel.mightContain(bits, bs.m, bs.k, a, b)
          }
        }
      }
    }.toSet
  }

  /** The logical relation of snapshot `upTo`: base files when no deltas
    * are live, else base + deltas collapsed latest-wins (highest
    * precombine; ties go to the latest delta commit, base is commit 0 —
    * ONE window shuffle on the merge keys, the MOR read tax; base files
    * [[morBypass]] or the bloom probe proves untouched skip the window
    * entirely). Optionally restricted to partition dirs ("" =
    * unpartitioned) so callers pay only for the slice they need. None
    * when the slice has no files.
    */
  private def mergedView(spark: SparkSession, path: String, upTo: Seq[Commit],
      restrictDirs: Option[Set[String]] = None,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None,
      baseKeep: Option[Set[String]] = None,
      statsIdx: Option[Map[String, FileStats.FileStat]] = None): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    def keep(f: String) = restrictDirs.forall(_.contains(dirOf(f)))
    // baseKeep (stats/bloom skipping) applies ONLY to base files, and
    // never inside a partition dir that holds live deltas: the collapse
    // winner for a key may be the BASE row (higher precombine than a
    // late-arriving delta), so dropping its file would flip the merge to
    // the stale delta. Keys are partition-scoped, so base files in
    // delta-free dirs prune exactly: their rows collapse to themselves,
    // and a pruned row provably fails the re-applied predicate.
    val allEntries = liveDeltaEntries(upTo)
    val deltas = allEntries.map(_.file).filter(keep)
    val deltaDirs = deltas.map(dirOf).toSet
    val base = liveFiles(upTo).filter(keep)
      .filter(f => deltaDirs.contains(dirOf(f)) || baseKeep.forall(_.contains(f)))
    if (base.isEmpty && deltas.isEmpty) return None
    // Delta files may carry tombstone rows (deleteMOR): they are read
    // with the logical schema PLUS the marker column; base files read
    // without it and union in nulls.
    def rd(fl: Seq[String], withDel: Boolean = false) = {
      val logical = schemaOverride.orElse(snapshotSchema(upTo))
      val reader = logical match {
        case Some(s) => spark.read.schema(
          if (withDel) s.add(DeleteMarker, org.apache.spark.sql.types.BooleanType)
          else s)
        case None => spark.read
      }
      val df = reader.option("basePath", path).parquet(fl.map(f => s"$path/$f"): _*)
      if (withDel && !df.columns.contains(DeleteMarker))
        df.withColumn(DeleteMarker, lit(null).cast("boolean"))
      else df
    }
    // hidden partitioning: derived dir columns are an implementation
    // detail of the layout — reads surface only the logical schema
    val hideCols = activeTransforms(upTo).map(_.name)
    if (deltas.isEmpty) return Some(rd(base).drop(hideCols: _*))
    val spec = upTo.reverse.collectFirst { case c if c.mor.isDefined => c.mor.get }
      .getOrElse(throw new IllegalStateException(
        s"live delta files but no MOR spec in the log of $path"))
    // Group delta files by the version of the commit that added them —
    // resolved through liveDeltaEntries, NOT by scanning upTo's
    // deltaAdds: after log expiry the adding commits may only survive
    // inside a checkpoint's delta manifest.
    val deltaSet = deltas.toSet
    val groups = allEntries.filter(e => deltaSet(e.file))
      .groupBy(_.src).toSeq.sortBy(_._1)
      .map { case (v, es) => v -> es.map(_.file) }
    // Only base files a delta could actually touch pay the collapse
    // shuffle; the provably-untouched rest unions in after the window.
    // Two proofs compose: key-range disjointness (free, from the log),
    // then a bloom probe of the actual delta keys for files ranges
    // could not clear (scattered updates).
    val sIdx = statsIdx.getOrElse(statsIndex(upTo))
    val pass0 = morBypass(sIdx, base, deltas, spec.key)
    val logKeyDt = schemaOverride.orElse(snapshotSchema(upTo))
      .flatMap(_.fields.find(_.name == spec.key)).map(_.dataType.catalogString)
    val bloomPass = morBloomBypass(spark, path,
      base.filterNot(pass0).filter(f => deltaDirs.contains(dirOf(f))),
      deltas.groupBy(dirOf), spec.key, logKeyDt, sIdx, bloomIndex(upTo))
    val pass = pass0 ++ bloomPass
    val mergeBase = base.filterNot(pass)
    val sides = (if (mergeBase.isEmpty) Nil
      else Seq(rd(mergeBase).withColumn("__m_src", lit(0L)))) ++
      groups.map { case (v, fl) => rd(fl, withDel = true).withColumn("__m_src", lit(v)) }
    val unioned = sides.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val w = Window.partitionBy((spec.partitionCols :+ spec.key).distinct.map(col): _*)
      .orderBy(col(spec.precombine).desc, col("__m_src").desc)
    // A key whose collapse winner is a tombstone is deleted at this
    // snapshot (a later, higher-precombine upsert resurrects it).
    val collapsed = unioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .filter(!coalesce(col(DeleteMarker), lit(false)))
      .drop("__m_src", "__rn", DeleteMarker)
    // A bypassed file's rows collapse to themselves, so the stats/bloom
    // skip set (baseKeep) applies to it even inside a delta dir — the
    // same soundness argument as delta-free dirs.
    val passKept = base.filter(f => pass(f) && baseKeep.forall(_.contains(f)))
    val out =
      if (passKept.isEmpty) collapsed
      else collapsed.unionByName(rd(passKept), allowMissingColumns = true)
    Some(out.drop(hideCols: _*))
  }

  private def snapshot(fs: FileSystem, path: String,
      asOfVersion: Option[Long], asOfTimestampMs: Option[Long]): (Seq[Commit], Seq[String]) = {
    val all = commits(fs, path)
    require(all.nonEmpty, s"not a versioned table (no $LogDir commits): $path")
    val upTo = (asOfVersion, asOfTimestampMs) match {
      case (Some(v), _) =>
        val s = all.filter(_.version <= v)
        require(s.nonEmpty, s"no version <= $v in $path (earliest: ${all.head.version})")
        s
      case (None, Some(ts)) =>
        val s = all.filter(_.tsMs <= ts)
        require(s.nonEmpty, s"no commit at or before timestamp $ts in $path")
        s
      case (None, None) => all
    }
    (upTo, liveFiles(upTo))
  }

  /** Read a snapshot: latest by default, or AS OF a version / an epoch-ms
    * timestamp (the last commit at or before it). The scan gets the exact
    * file list — no directory listing; hive partition columns come from
    * the file paths via basePath.
    */
  def read(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None, asOfTimestampMs: Option[Long] = None): DataFrame = {
    val fs = fsFor(spark, path)
    val (upTo, _) = snapshot(fs, path, asOfVersion, asOfTimestampMs)
    // The snapshot's schema comes from the LOG, not from file footers:
    // no footer reads at planning time, old snapshots keep the schema
    // they were written with, and files predating an added column
    // surface it as null (parquet by-name resolution). Live MOR deltas
    // are collapsed latest-wins by [[mergedView]]. A snapshot without
    // files (an empty write) reads as no rows of the log schema.
    mergedView(spark, path, upTo)
      .orElse(snapshotSchema(upTo).map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)))
      .getOrElse(throw new IllegalArgumentException(s"snapshot of $path is empty"))
  }

  /** Merge-on-read upsert (Hudi's MOR table type, re-expressed on the
    * log): the update set is appended as DELTA files — no base partition
    * is read or rewritten, so write cost is O(update set) regardless of
    * partition width. [[read]] collapses base+delta latest-wins;
    * [[compactDeltas]] materializes the merge back into base files.
    * The reference measures exactly this trade (`README.md:126-167`:
    * Hudi COW upsert ≫ slower than plain appends) — MOR is the other
    * side of it.
    */
  def upsertMOR(spark: SparkSession, path: String, updates: DataFrame,
      key: String, precombine: String, partitionCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = graft.JobLabel(spark, "vt.upsertMOR") {
    morWrite(spark, path, updates, key, precombine, partitionCols, txn,
      tombstone = false)
  }

  /** Shared MOR delta-write path for [[upsertMOR]] (data rows) and
    * [[deleteMOR]] (tombstone rows) — one place for txn replay, transform
    * derivation, spec matching, staging, and the per-delta key stats that
    * feed the collapse-window bypass.
    */
  private def morWrite(spark: SparkSession, path: String, rows: DataFrame,
      key: String, precombine: String, partitionCols: Seq[String],
      txn: Option[(String, Long)], tombstone: Boolean): Long = {
    requireSimpleNames("key/precombine", Seq(key, precombine))
    requireSimpleNames("partition", partitionCols)
    val fs = fsFor(spark, path)
    val op = if (tombstone) "delete_mor" else "upsert_mor"
    val token = txn.map { case (app, batch) => Txn(app, batch) }
    // An empty TABLE bootstraps fine for upserts: version 1 is all-delta,
    // base empty — the streaming writer's first micro-batch needs exactly
    // this. Tombstones need an existing table.
    val all = commits(fs, path)
    require(!tombstone || all.nonEmpty, s"deleteMOR: no versioned table at $path")
    token.foreach { t =>
      val replay = all.find(_.txn.contains(t))
      if (replay.isDefined) return replay.get.version // idempotent retry
    }
    // Emptiness is derived from the STAGED WRITE itself (below), never
    // from a separate probe action: the staging pass has to run for any
    // non-empty batch anyway, and its footers already carry the row
    // counts — a `rows.isEmpty` here was one extra Spark action per
    // micro-batch (and re-executed the batch lineage for unpersisted
    // callers).
    // Transform tables: delta files land in the DERIVED layout (same
    // routing as the COW upsert) — the merge spec records the derived
    // names, so the collapse window stays partition-scoped and reads
    // keep hiding the layout. The log schema keeps only RAW columns.
    val tfs = activeTransforms(all)
    require(tfs.isEmpty || partitionCols.isEmpty,
      s"$op on a transform table derives its partition columns - pass none")
    require(!rows.columns.contains(DeleteMarker),
      s"$DeleteMarker is reserved for MOR tombstones")
    val effPartitionCols = if (tfs.isEmpty) partitionCols else tfs.map(_.name)
    val derived = PartitionTransforms.derive(rows, tfs)
    val effRows =
      if (tombstone) derived.withColumn(DeleteMarker, lit(true)) else derived
    all.reverse.collectFirst { case c if c.mor.isDefined => c.mor.get }.foreach { prev =>
      require(prev == MorSpec(key, precombine, effPartitionCols),
        s"$op: merge spec $prev already recorded for $path — specs must match")
    }
    val enforcedSet = currentConstraints(all)
    val staged = stage(spark, path,
      byPartitions(
        if (tombstone) effRows else enforced(effRows, enforcedSet),
        effPartitionCols),
      effPartitionCols)
    // an empty batch stages no file and commits nothing, leaving no
    // empty delta file to break the bypass for its dir
    if (staged.isEmpty) return if (all.isEmpty) 0L else all.last.version
    // key min/max per delta file (footer route)
    val stats = logStats(staged, (key +: activeStatsCols(all)).distinct) _
    val c = publishWithRebase(fs, path, op, Nil, Nil, token,
      // tombstones never evolve the logical schema; data rows merge
      // additively
      schemaOf =
        if (tombstone) all => snapshotSchema(all)
        else all => Some(snapshotSchema(all)
          .map(mergeSchemas(_, rows.schema)).getOrElse(rows.schema)),
      allowRebase = true, deltaAdds = staged.map(_.path),
      mor = Some(MorSpec(key, precombine, effPartitionCols)),
      // Key min/max per delta file: lets merged reads BYPASS the
      // collapse shuffle for base files whose key range provably misses
      // every delta — at 100 TB almost all of a partition's base files.
      // No blooms for delta files: nothing probes them (readPruned only
      // probes base files; the bypass uses min/max) — compactDeltas
      // re-collects blooms for the rewritten base files.
      stats = stats,
      enforcedConstraints = if (tombstone) None else Some(enforcedSet))
    c.version
  }

  /** Merge-on-read DELETE (Hudi's `_hoodie_is_deleted` shape): the keys
    * to delete land as TOMBSTONE rows in a delta file — write cost is
    * O(delete set), zero base rewrite, same as [[upsertMOR]]. A key whose
    * collapse winner is a tombstone disappears from snapshot reads; a
    * later upsert with a higher precombine resurrects it;
    * [[compactDeltas]] materializes the deletions physically. `keys` must
    * carry the key, precombine and partition (or transform-source)
    * columns; the tombstone outranks rows with lower precombines exactly
    * like an update. Key min/max stats are recorded so untouched base
    * files keep bypassing the collapse window.
    */
  def deleteMOR(spark: SparkSession, path: String, keys: DataFrame,
      key: String, precombine: String, partitionCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = graft.JobLabel(spark, "vt.deleteMOR") {
    morWrite(spark, path, keys, key, precombine, partitionCols, txn,
      tombstone = true)
  }

  /** Materialize live delta files into base files: merged read of JUST
    * the partitions holding deltas, rewritten as base, one commit
    * removing the old base files and the deltas. Untouched partitions
    * share files across the compaction. This is Hudi's async compactor
    * as an explicit table operation.
    */
  def compactDeltas(spark: SparkSession, path: String,
      statsCols: Seq[String] = Nil): Long = {
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"compactDeltas: no versioned table at $path")
    val deltas = liveDeltaFiles(all)
    if (deltas.isEmpty) return all.last.version
    val spec = all.reverse.collectFirst { case c if c.mor.isDefined => c.mor.get }.get
    val live = liveFiles(all)
    // Partitions holding deltas, from the delta file paths — no scan.
    val dirs = deltas.map(dirOf).toSet
    val affectedBase =
      if (spec.partitionCols.isEmpty) live
      else live.filter(f => dirs.contains(dirOf(f)))
    val restrict = if (spec.partitionCols.isEmpty) None else Some(dirs)
    // Transform tables: the merged view surfaces only raw columns — the
    // derived layout is re-derived for the rewrite (same recovery the
    // COW upsert and optimize do).
    val merged = byPartitions(
      PartitionTransforms.derive(
        mergedView(spark, path, all, restrict).get, activeTransforms(all)),
      spec.partitionCols)
    val staged = stage(spark, path, merged, spec.partitionCols)
    val adds = staged.map(_.path)
    publishWithRebase(fs, path, "compact_deltas", adds,
      (affectedBase ++ deltas).distinct, txn = None,
      schemaOf = _ => None, allowRebase = true,
      stats = logStats(staged, (statsCols ++ activeStatsCols(all)).distinct),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(all))).version
  }

  private def snapshotSchema(upTo: Seq[Commit]): Option[org.apache.spark.sql.types.StructType] =
    upTo.reverse.collectFirst { case c if c.schemaJson.isDefined =>
      org.apache.spark.sql.types.DataType.fromJson(c.schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** Additive schema merge: `prev`'s fields in order, then `next`'s new
    * fields. A field present in both must keep its type — type CHANGES
    * are rejected (rewrites, not evolution).
    */
  private def mergeSchemas(prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name).foreach { p =>
        require(p.dataType == f.dataType,
          s"schema evolution cannot change column '${f.name}' from ${p.dataType} to ${f.dataType}")
      }
    }
    org.apache.spark.sql.types.StructType(
      prev.fields ++ next.fields.filterNot(f => prevByName.contains(f.name)))
  }

  /** The rows APPENDED in (fromVersion, toVersion] — the batch behind the
    * `graft-table` streaming source's tail-of-table reads. Per commit:
    * base adds and MOR delta adds are emitted as-is (delta upserts follow
    * the Hudi incremental-pull contract: an updated row re-emits with its
    * new values). Commits that REMOVE files (COW upsert/delete/compaction/
    * overwrite/restore) are NOT append-only — strict mode throws;
    * `ignoreChanges` emits their adds anyway (downstream may see rewrite
    * copies, Delta's ignoreChanges trade). Tombstone commits (delete_mor)
    * carry no emittable rows: strict mode throws, ignoreChanges skips
    * them. Scale: reads only the range's added files, never the table.
    */
  /** Rewrite-only maintenance ops: same logical rows re-bucketed, so a
    * tailing stream skips them silently (Delta's dataChange=false shape)
    * — their input rows were already emitted by the commits that first
    * added them.
    */
  private val RewriteOnlyOps = Set("optimize", "compact_deltas", "cluster", "cluster-zorder")

  def appendsBetween(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long,
      ignoreChanges: Boolean = false): DataFrame = {
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"not a versioned table: $path")
    // versions are dense: if the range's lower commits were expired from
    // the log, silently skipping them would LOSE their rows — fail like
    // Delta's "versions no longer available"
    require(fromVersion + 1 >= all.head.version || fromVersion >= all.last.version,
      s"graft-table source: versions ${fromVersion + 1}..${all.head.version - 1} " +
        s"were expired from the log of $path — restart the stream from scratch")
    val upTo = all.filter(_.version <= toVersion)
    val range = upTo.filter(_.version > fromVersion)
    val files = range.flatMap { c =>
      if (RewriteOnlyOps.contains(c.op)) Nil // dataChange=false: invisible
      else {
        val nonAppend = c.removes.nonEmpty || c.op == "delete_mor"
        if (nonAppend && !ignoreChanges)
          throw new IllegalStateException(
            s"graft-table source: version ${c.version} (${c.op}) is not " +
              "append-only — set ignoreChanges=true to stream past rewrites")
        c.adds ++ c.deltaAdds.getOrElse(Nil) ++
          c.deltaReadds.getOrElse(Nil).map(_.file)
      }
    }
    val schema = snapshotSchema(upTo).getOrElse(tableSchema(spark, path))
    val hideCols = activeTransforms(upTo).map(_.name)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // delta files may carry tombstone rows (delete_mor commits, or
    // tombstone files re-added by a restore): read WITH the marker and
    // filter them — they are deletions, never data rows
    val df = spark.read
      .schema(schema.add(DeleteMarker, org.apache.spark.sql.types.BooleanType))
      .option("basePath", path)
      .parquet(files.map(f => s"$path/$f"): _*)
    df.filter(!coalesce(col(DeleteMarker), lit(false)))
      .drop(DeleteMarker).drop(hideCols: _*)
  }

  /** Commit history: (version, ts_ms, op, n_added, n_removed). */
  /** Resolve an epoch-ms timestamp to the last committed version at or
    * before it — the shared `TIMESTAMP AS OF` arithmetic (log-only, no
    * data I/O), used by the catalog's time travel and the batch
    * relation's `timestampAsOf` option.
    */
  def versionAt(spark: SparkSession, path: String, tsMs: Long): Long = {
    val s = commits(fsFor(spark, path), path).filter(_.tsMs <= tsMs)
    require(s.nonEmpty, s"no commit at or before timestamp $tsMs ms in $path")
    s.last.version
  }

  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    commits(fsFor(spark, path), path)
      .map(c => (c.version, c.tsMs, c.op, c.adds.size, c.removes.size))
      .toDF("version", "ts_ms", "op", "n_added", "n_removed")
  }

  /** The snapshot's schema (latest by default, or AS OF a version), from
    * the log when recorded (no file reads, works on EMPTY snapshots),
    * else inferred from the live files.
    */
  def tableSchema(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None): org.apache.spark.sql.types.StructType = {
    val all = commits(fsFor(spark, path), path)
    require(all.nonEmpty, s"not a versioned table: $path")
    val upTo = asOfVersion.map(v => all.filter(_.version <= v)).getOrElse(all)
    require(upTo.nonEmpty, s"no version <= ${asOfVersion.get} in $path")
    snapshotSchema(upTo)
      .getOrElse(read(spark, path, asOfVersion).schema)
  }

  def latestVersion(spark: SparkSession, path: String): Long = {
    val all = commits(fsFor(spark, path), path)
    if (all.isEmpty) 0L else all.last.version
  }

  /** Stage `df` as immutable data files under `path` (hive layout,
    * [[CommitKernel.stage]]). Files land via rename from a stage dir, so
    * a crashed write leaves only unreferenced garbage — never a
    * half-visible commit. An empty frame stages nothing.
    */
  private def stage(spark: SparkSession, path: String, df: DataFrame,
      partitionCols: Seq[String],
      maxRecordsPerFile: Option[Long] = None): Seq[CommitKernel.Staged] =
    CommitKernel.stage(df, path, StageDir, "graft: stage files", partitionCols,
      maxRecordsPerFile)(_.rel)

  /** The table tree's parquet files with their table-relative names,
    * outside the log and stage trees.
    */
  private def dataFiles(fs: FileSystem, path: String): Seq[(org.apache.hadoop.fs.FileStatus, String)] =
    CommitKernel.walk(fs, new Path(path), d => !d.startsWith(LogDir) && !d.startsWith(StageDir))
      .filter(_._2.endsWith(".parquet"))

  /** Every `checkpointEvery` commits, embed the full live-file manifest so
    * snapshot resolution replays a bounded number of log files.
    */
  val checkpointEvery = 10

  /** Optimistic-concurrency commit loop. Losing a version race (rename
    * onto an existing commit file) triggers a REBASE when the commits
    * that beat us are logically disjoint: every file this commit removes
    * must still be live — i.e. nobody rewrote the partitions we read.
    * Then the commit is retried at the next version; `schemaOf` is
    * re-evaluated against the fresh log so concurrent schema evolution
    * merges instead of being clobbered. A true overlap (or
    * `allowRebase=false`, the overwrite case — it logically removes the
    * WHOLE snapshot it saw, so any concurrent commit invalidates it)
    * surfaces as ConcurrentModificationException. Same protocol shape as
    * Delta's logical conflict detection.
    */
  private def publishWithRebase(fs: FileSystem, path: String, op: String,
      adds: Seq[String], removes: Seq[String], txn: Option[Txn],
      schemaOf: Seq[Commit] => Option[org.apache.spark.sql.types.StructType],
      allowRebase: Boolean, maxRetries: Int = 5,
      stats: org.apache.spark.sql.types.StructType => Option[Map[String, JValue]] = _ => None,
      deltaAdds: Seq[String] = Nil, mor: Option[MorSpec] = None,
      deltaReadds: Seq[DeltaEntry] = Nil,
      constraints: Option[Map[String, String]] = None,
      blooms: Option[Map[String, Map[String, BloomStat]]] = None,
      partitionSpec: Option[Seq[TransformSpec]] = None,
      enforcedConstraints: Option[Map[String, String]] = None): Commit = {
    var attempt = 0
    while (true) {
      val all = commits(fs, path)
      // CREATE must land as version 1: a create that lost the rename
      // race would otherwise retry against the winner's log, pass the
      // conflict checks vacuously (it removes nothing) and silently
      // REDEFINE the winner's schema and partition spec as version 2.
      if (op == "create" && all.nonEmpty)
        throw new IllegalStateException(
          s"versioned table already exists at $path (concurrent create)")
      txn.foreach { t =>
        val replay = all.find(_.txn.contains(t))
        if (replay.isDefined) return replay.get
      }
      // Metadata conflict (Delta's protocol): if the staged data was
      // validated against a constraint set that changed since, this
      // commit may carry rows the NEW constraints forbid — surface the
      // race instead of silently landing unvalidated data. (Checked
      // after txn replay: an already-committed batch stays a no-op.)
      enforcedConstraints.foreach { exp =>
        if (currentConstraints(all) != exp)
          throw new java.util.ConcurrentModificationException(
            s"$op on $path raced a constraint change — rerun to re-validate")
      }
      // Commit-time validation against the CURRENT log (every attempt —
      // staleness can predate the first publish, not just a lost rename
      // race): every file this commit logically removes must still be
      // live (base OR delta). Snapshot-replacing ops (overwrite)
      // additionally require that NOTHING was committed since the
      // snapshot they replace — live must equal their remove set exactly.
      val live = liveFiles(all).toSet ++ liveDeltaFiles(all)
      if (!removes.forall(live.contains))
        throw new java.util.ConcurrentModificationException(
          s"$op on $path conflicts with a concurrent commit to the same files")
      if (!allowRebase && live != removes.toSet)
        throw new java.util.ConcurrentModificationException(
          s"$op on $path would clobber a concurrent commit (snapshot-replacing op)")
      val version = (if (all.isEmpty) 0L else all.last.version) + 1L
      val ckpt = if (version % checkpointEvery == 0) {
        val prevLive = liveFiles(all)
        Some((prevLive.filterNot(removes.contains) ++ adds).distinct)
      } else None
      // Checkpoints stamp the DELTA manifest too (Some(Nil) when none):
      // liveDeltaEntries replays from this floor, and expireLog may only
      // drop commits below a floor that resolves the same delta set.
      // Entries carry their original adding version for merge tie-breaks.
      val ckptDeltas = ckpt.map(_ =>
        liveDeltaEntries(all).filterNot(e => removes.contains(e.file)) ++
          deltaAdds.map(DeltaEntry(_, version)) ++ deltaReadds)
      val schema = schemaOf(all)
      val c0 = Commit(version, System.currentTimeMillis(), op, adds, removes,
        ckpt, txn, checkpointDeltas = ckptDeltas,
        schemaJson = schema.map(_.json),
        stats = schema.orElse(snapshotSchema(all)).flatMap(stats),
        deltaAdds = if (deltaAdds.isEmpty) None else Some(deltaAdds), mor = mor,
        deltaReadds = if (deltaReadds.isEmpty) None else Some(deltaReadds),
        constraints = constraints, blooms = blooms, partitionSpec = partitionSpec)
      // Checkpoint commits are the log-replay floor, so they must carry
      // the RESOLVED table metadata, not just the file manifest —
      // otherwise expireLog would strand the only schema/constraint/
      // partition-spec/MOR-spec-bearing commits and the table would
      // silently degrade after retention.
      val c =
        if (ckpt.isEmpty) c0
        else c0.copy(
          schemaJson = c0.schemaJson.orElse(snapshotSchema(all).map(_.json)),
          constraints = c0.constraints.orElse(Some(currentConstraints(all))),
          partitionSpec = c0.partitionSpec.orElse(all.reverse.collectFirst {
            case cm if cm.partitionSpec.isDefined => cm.partitionSpec.get
          }),
          mor = c0.mor.orElse(all.reverse.collectFirst {
            case cm if cm.mor.isDefined => cm.mor.get
          }))
      try { publish(fs, path, c); return c }
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Batch write: `overwrite` logically removes the previous snapshot
    * (files stay on disk for time travel until [[vacuum]]); `append` only
    * adds.
    */
  def write(spark: SparkSession, path: String, df: DataFrame,
      partitionCols: Seq[String], mode: String = "overwrite",
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 17,
      transforms: Seq[PartitionTransforms.Transform] = Nil,
      txn: Option[(String, Long)] = None): Long = graft.JobLabel(spark, "vt.write") {
    require(mode == "overwrite" || mode == "append", s"unsupported mode: $mode")
    requireSimpleNames("partition", partitionCols)
    requireSimpleNames("stats", statsCols)
    requireSimpleNames("bloom", bloomCols)
    val fs = fsFor(spark, path)
    val existing = commits(fs, path)
    val exists = existing.nonEmpty
    // (appId, batchId) idempotence for streaming appends — a replayed
    // batch commits nothing (same contract as upsert/merge)
    val token = txn.map { case (app, batch) => Txn(app, batch) }
    token.foreach { t =>
      val replay = existing.find(_.txn.contains(t))
      if (replay.isDefined) return replay.get.version
    }
    // Hidden partitioning (Iceberg partition-spec shape): the layout is
    // derived from data columns at write time and recorded in the log —
    // never passed alongside explicit partition columns. Appends inherit
    // the table's active spec; overwrite replaces it (possibly with none).
    require(transforms.isEmpty || partitionCols.isEmpty,
      "pass either explicit partitionCols or hidden-partitioning transforms, not both")
    if (mode == "append" && transforms.nonEmpty && existing.nonEmpty)
      require(activeTransforms(existing) == transforms,
        "append transforms must match the table's active partition spec " +
          "(overwrite to change the layout)")
    val effTransforms =
      if (transforms.nonEmpty) transforms
      else if (mode == "append") activeTransforms(existing)
      else Nil
    require(effTransforms.isEmpty || partitionCols.isEmpty,
      "append to a transform table cannot add explicit partition columns")
    val enforcedSet = currentConstraints(existing)
    val stageDf = PartitionTransforms.derive(
      enforced(df, enforcedSet), effTransforms)
      // one writer task per derived dir (see PartitionTransforms.write)
    val stageShaped =
      if (effTransforms.isEmpty) stageDf
      else byPartitions(stageDf, effTransforms.map(_.name))
    val stagePartCols =
      if (effTransforms.isEmpty) partitionCols else effTransforms.map(_.name)
    val staged = stage(spark, path, stageShaped, stagePartCols)
    // an empty frame commits a version with no files, except into a
    // partitioned layout, which refuses
    require(staged.nonEmpty || stagePartCols.isEmpty,
      "stage: write produced no data files")
    val adds = staged.map(_.path)
    val stats = logStats(staged, (statsCols ++ activeStatsCols(existing)).distinct) _
    val blooms = collectBlooms(spark, path, adds,
      activeBloomBits(existing) ++ bloomCols.map(_ -> bloomBits))
    val removes =
      if (mode == "overwrite" && exists) {
        val (upTo, base) = snapshot(fs, path, None, None)
        (base ++ liveDeltaFiles(upTo)).distinct
      } else Nil
    // Overwrite REPLACES the schema; append EVOLVES it additively (new
    // columns allowed, type changes rejected). Appends may rebase over
    // concurrent commits (they remove nothing); overwrite may not.
    val c = publishWithRebase(fs, path, mode, adds, removes, txn = token,
      schemaOf = all =>
        if (mode == "append" && all.nonEmpty)
          Some(snapshotSchema(all).map(mergeSchemas(_, df.schema)).getOrElse(df.schema))
        else Some(df.schema),
      allowRebase = mode == "append", stats = stats, blooms = blooms,
      enforcedConstraints = Some(enforcedSet),
      partitionSpec =
        if (mode == "overwrite") Some(effTransforms.map(specOf))
        else if (transforms.nonEmpty) Some(transforms.map(specOf))
        else None)
    c.version
  }

  /** Initialize an EMPTY versioned table: a schema-only commit with no
    * data files (the DDL `CREATE TABLE` shape — Delta's metadata-only
    * commit 1). Records the hidden-partitioning spec so later appends
    * inherit it. No-op data-wise: reads of the snapshot yield zero rows
    * with exactly this schema. Fails if the table already exists.
    */
  def createEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      transforms: Seq[PartitionTransforms.Transform] = Nil): Long = {
    requireSimpleNames("column", schema.fieldNames.toSeq)
    val fs = fsFor(spark, path)
    require(commits(fs, path).isEmpty, s"versioned table already exists at $path")
    transforms.foreach(t => require(schema.fieldNames.contains(t.source),
      s"transform source column '${t.source}' is not in the schema"))
    publishWithRebase(fs, path, "create", Nil, Nil, txn = None,
      schemaOf = _ => Some(schema), allowRebase = false,
      partitionSpec = Some(transforms.map(specOf))).version
  }

  /** The table's active hidden-partitioning transforms (empty for
    * plainly-partitioned tables) — the log-recorded partition spec a
    * catalog face needs to honor on overwrites.
    */
  def activePartitionSpec(spark: SparkSession,
      path: String): Seq[PartitionTransforms.Transform] =
    activeTransforms(commits(fsFor(spark, path), path))

  /** Keyed COW upsert with history: same merge semantics as
    * [[TableSink.upsert]] (partition-scoped keys, highest `precombine`
    * wins, updates win ties), but the affected partitions' previous files
    * are logically removed rather than deleted — the prior snapshot stays
    * readable. Untouched partitions are neither read nor rewritten; their
    * files are shared by reference across versions.
    */
  /** Distinct partition-dir names hit by `df`'s partition values,
    * rendered EXACTLY as Spark's partitioned writer renders them. The
    * values are collected CAST TO STRING by Spark itself — the writer's
    * own rendering (session-timezone cast); driver-side
    * `String.valueOf` on the collected JVM objects diverges on
    * timestamps (java.sql.Timestamp.toString appends ".0") and would
    * scope a rewrite to directories that do not exist (silently missed
    * rows). Null AND empty-string values both land in the hive default
    * dir (__HIVE_DEFAULT_PARTITION__), matching getPartitionPathString.
    * Empty set ⇔ `df` is empty (zero partition columns render as one
    * root-dir "" entry for any non-empty `df`).
    */
  private def hitPartitionDirs(df: DataFrame, partitionCols: Seq[String]): Set[String] =
    graft.JobLabel(df.sparkSession, "vt: affected-partition probe") {
      // exact: bounded by the partition cardinality, like the dirs it names
      LocalProbe.distinctRows(df.select(partitionCols.map(c =>
        col(c).cast(org.apache.spark.sql.types.StringType)): _*), cap = Int.MaxValue)
    }
      .map { row =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          val seg =
            if (row.isNullAt(i) || row.getString(i).isEmpty)
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .DEFAULT_PARTITION_NAME
            else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(row.getString(i))
          s"$c=$seg"
        }.mkString("/")
      }.toSet

  /** Does relative file path `f` live in one of `dirs`? The empty dir
    * (unpartitioned table) matches root-level files — a plain
    * startsWith(dir + "/") never would, which silently turned
    * unpartitioned upserts/deletes into pure appends (duplicate keys).
    */
  private def inDirs(f: String, dirs: Set[String]): Boolean =
    dirs.exists(d => if (d.isEmpty) !f.contains('/') else f.startsWith(d + "/"))

  /** User-supplied column names flow into bare `col(...)` resolution,
    * hive dir segments, and stats-map keys throughout the log — a dot
    * or backtick in a name would resolve as a nested path (or fail to
    * parse) at SOME site even where another backtick-quotes it. Reject
    * cleanly at the API boundary instead of misresolving deep in a plan.
    */
  private def requireSimpleNames(role: String, names: Seq[String]): Unit =
    names.find(n => n.contains(".") || n.contains("`")).foreach { n =>
      throw new IllegalArgumentException(
        s"$role column name '$n' contains '.' or '`' — unsupported: " +
          "names are resolved as bare attribute paths and used as hive " +
          "directory segments")
    }

  /** Shape a rewrite for staging: by default ONE writer task per
    * partition dir (no small files — measured 6× faster than scattered
    * writers on wide-partition-count tables at test scale). At 100 TB a
    * single 1 TB partition would serialize on that one task, so
    * `graft.write.tasksPerPartition` (session conf, default 1) splits
    * each dir across N writers via a DETERMINISTIC row-hash salt
    * (xxhash64 of all columns — stable under task retry, unlike
    * round-robin): N files per touched dir, written in parallel.
    */
  // NOTE (r8, measured): do NOT wrap the staged writes in a
  // size-first-AQE / minPartitionNum=1 conf scope to trim the
  // mostly-empty reducer tasks. The empty tasks cost only parallel
  // background CPU (~35 ms of Hadoop-conf deserialization each, spread
  // over idle cores), while size-first coalescing at test scale merges
  // the write into 1-2 tasks and SERIALIZES the parquet encode — an
  // A/B on the lakehouse suite measured the scoped version 30% slower
  // wall (33.9 s vs 25.7 s over 8 queries). Parallelism-first stays.

  private[sinks] def byPartitions(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val tasksPerPartition = df.sparkSession.conf
      .getOption("graft.write.tasksPerPartition").map(_.trim).map { v =>
        val n = scala.util.Try(v.toLong).getOrElse(-1L)
        require(n >= 1 && n <= 4096,
          s"graft.write.tasksPerPartition must be an integer in [1, 4096], got '$v'")
        n.toInt
      }.getOrElse(1)
    // An UNPARTITIONED rewrite keeps its upstream parallelism (salting it
    // would COLLAPSE the whole table to N tasks — the opposite of the
    // knob's purpose); the salt only splits per-dir writer tasks.
    if (partitionCols.isEmpty) return df
    // xxhash64 rejects MAP-bearing types — salt over the hashable
    // columns only (still deterministic per row for any real table; a
    // row identical on every hashable column may share a salt, which
    // only costs spread, never correctness). Names backtick-quoted so
    // dots in column names don't parse as nested paths.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    def quoted(n: String) = col("`" + n.replace("`", "``") + "`")
    val saltCols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => quoted(f.name))
    val salt =
      if (tasksPerPartition <= 1 || saltCols.isEmpty) Nil
      else Seq(pmod(xxhash64(saltCols.toIndexedSeq: _*), lit(tasksPerPartition.toLong)))
    df.repartition((partitionCols.map(quoted) ++ salt): _*)
  }

  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      key: String, precombine: String, partitionCols: Seq[String],
      txn: Option[(String, Long)] = None,
      statsCols: Seq[String] = Nil): Long = graft.JobLabel(spark, "vt.upsert") {
    import org.apache.spark.sql.expressions.Window
    requireSimpleNames("key/precombine", Seq(key, precombine))
    requireSimpleNames("partition", partitionCols)
    requireSimpleNames("stats", statsCols)
    val fs = fsFor(spark, path)
    val token = txn.map { case (app, batch) => Txn(app, batch) }
    val all = commits(fs, path)
    token.foreach { t =>
      val replay = all.find(_.txn.contains(t))
      if (replay.isDefined) return replay.get.version // idempotent retry
    }
    if (all.nonEmpty) requireNoDeltas(all, "upsert")
    // Transform tables: the update set's partition values are DERIVED
    // (Iceberg hidden partitioning recorded in the log) — identical
    // routing as an explicit layout from here on; keys stay scoped to
    // the derived dirs. The log schema keeps only the RAW columns.
    val tfs = activeTransforms(all)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "upsert on a transform table derives its partition columns - pass none")
    val effPartitionCols = if (tfs.isEmpty) partitionCols else tfs.map(_.name)
    val effUpdates = PartitionTransforms.derive(updates, tfs)
    val live = if (all.isEmpty) Nil else liveFiles(all)
    // Affected partition dirs from the update set's partition values —
    // a distinct over low-cardinality columns, bounded driver collect.
    // This probe doubles as the EMPTINESS answer (empty set ⇔ empty
    // update set, see hitPartitionDirs), so callers — the streaming
    // writer in particular — need no separate isEmpty action per batch.
    val affectedDirs = hitPartitionDirs(effUpdates, effPartitionCols)
    if (affectedDirs.isEmpty) // empty update set: no-op, commit nothing
      return if (all.isEmpty) 0L else all.last.version
    val affected = live.filter(f => inDirs(f, affectedDirs))
    val prevSchema = snapshotSchema(all)
    val base =
      if (affected.isEmpty) effUpdates.filter(lit(false))
      else {
        val reader = prevSchema.map(spark.read.schema(_)).getOrElse(spark.read)
        reader.option("basePath", path).parquet(affected.map(f => s"$path/$f"): _*)
      }
    // Additive evolution: an update set may carry NEW columns (old rows
    // get null); it may also omit existing ones (its rows get null).
    val evolved = prevSchema.map(mergeSchemas(_, updates.schema)).getOrElse(updates.schema)
    val w = Window.partitionBy((effPartitionCols :+ key).map(col): _*)
      .orderBy(col(precombine).desc, col("__src").desc)
    val resolved = base.withColumn("__src", lit(0))
      .unionByName(effUpdates.withColumn("__src", lit(1)), allowMissingColumns = true)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
    val enforcedSet = currentConstraints(all)
    val staged = stage(spark, path,
      enforced(byPartitions(resolved, effPartitionCols), enforcedSet),
      effPartitionCols)
    val adds = staged.map(_.path)
    val c = publishWithRebase(fs, path, "upsert", adds, affected, token,
      schemaOf = all => Some(snapshotSchema(all)
        .map(mergeSchemas(_, updates.schema)).getOrElse(evolved)),
      allowRebase = true,
      stats = logStats(staged, (statsCols ++ activeStatsCols(all)).distinct),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(all)),
      enforcedConstraints = Some(enforcedSet))
    c.version
  }

  /** Streaming writer into the versioned table: each micro-batch becomes
    * ONE log commit carrying the (queryId, batchId) txn token, so a
    * batch replayed after a crash-restart hits the token check in
    * [[upsert]] and commits nothing — exactly-once end to end on top of
    * the foreachBatch at-least-once contract. This is the reference's
    * S3→Hudi-upsert streaming job (`jobs/S3ToHudiOptStreamJob.scala:
    * 80-105`) as one call: dedup-by-key, latest-wins, partitioned COW,
    * and (unlike the reference's README.md:115-122 duplicate repro) a
    * written-down idempotence guarantee.
    */
  def streamWriter(stream: DataFrame, path: String, key: String,
      precombine: String, partitionCols: Seq[String], checkpoint: String,
      appId: String = "graft-stream",
      mergeOnRead: Boolean = false): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.GraftSession.withMicroBatchDml(batch) {
        // Persist across the commit's multiple actions (affected-partition
        // probe, staged write) — without it each action re-executes the
        // micro-batch lineage. Bounded by the trigger's admission control.
        // No emptiness probe: both writers no-op on an empty batch from
        // the probes/staging they run anyway.
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // mergeOnRead: each micro-batch is ONE delta append — per-batch
          // cost O(batch), not O(touched partitions). The write-heavy
          // streaming shape Hudi MOR exists for; compact on a cadence.
          if (mergeOnRead)
            upsertMOR(batch.sparkSession, path, batch, key, precombine,
              partitionCols, txn = Some((appId, batchId)))
          else
            upsert(batch.sparkSession, path, batch, key, precombine,
              partitionCols, txn = Some((appId, batchId)))
        } finally batch.unpersist(blocking = false)
        }
        ()
      }

  /** Change-data-feed between two versions, row-level, keyed: returns the
    * post-image of inserted/updated keys and the pre-image of deleted
    * keys with a `_change_type` column (`insert` / `update` / `delete`).
    *
    * Scale shape: snapshots can only differ inside files that were added
    * or removed between the versions, so BOTH sides read just the churn
    * (O(changed partitions)), never the full table; the shared untouched
    * files are excluded by the log diff before any scan is planned. The
    * two pruned sides then full-outer-join on (partition, key) — rewrite
    * copies of unchanged rows are dropped by whole-row comparison.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, key: String, partitionCols: Seq[String] = Nil,
      includePreimage: Boolean = false): DataFrame = {
    val fs = fsFor(spark, path)
    val allCommits = commits(fs, path)
    val upToOld = allCommits.filter(_.version <= fromVersion)
    val upToNew = allCommits.filter(_.version <= toVersion)
    // fromVersion=0 means "before the first commit": empty old side,
    // the full snapshot diffs as inserts (the CDC source's documented
    // startingVersion=0 full-history replay)
    require(fromVersion == 0 || upToOld.nonEmpty,
      s"no version <= $fromVersion in $path")
    require(upToNew.nonEmpty, s"no version <= $toVersion in $path")
    val morInvolved =
      liveDeltaFiles(upToOld).nonEmpty || liveDeltaFiles(upToNew).nonEmpty
    val (oldSide, newSide): (Option[DataFrame], Option[DataFrame]) =
      if (!morInvolved) {
        // Base-only endpoints: the snapshots can only differ inside files
        // added/removed between them — read just the file churn.
        val oldFiles = liveFiles(upToOld).toSet
        val newFiles = liveFiles(upToNew).toSet
        // transform tables: hive dirs materialize the derived __p_* cols
        // on basePath reads — an implementation detail, dropped from CDF.
        // Both sides read with the TO-side log schema so a range spanning
        // an additive evolution resolves (old files null-fill new cols).
        val hideCols = activeTransforms(upToNew).map(_.name)
        val sideSchema = snapshotSchema(upToNew)
        def side(files: Seq[String]): Option[DataFrame] =
          if (files.isEmpty) None
          else {
            val reader = sideSchema.map(spark.read.schema(_)).getOrElse(spark.read)
            Some(reader.option("basePath", path)
              .parquet(files.map(f => s"$path/$f"): _*).drop(hideCols: _*))
          }
        (side((oldFiles -- newFiles).toSeq.sorted),
          side((newFiles -- oldFiles).toSeq.sorted))
      } else {
        // A MOR endpoint: file identity no longer equals row identity, so
        // diff the MERGED states instead — restricted to the partition
        // dirs any commit in (from, to] touched (base, delta, or remove),
        // which bounds both scans to the churn. Read both endpoints with
        // the TO schema (evolution is additive, old files null-fill).
        val dirs = allCommits
          .filter(c => c.version > fromVersion && c.version <= toVersion)
          .flatMap(c => c.adds ++ c.removes ++ c.deltaAdds.getOrElse(Nil) ++
            c.deltaReadds.getOrElse(Nil).map(_.file))
          .map(dirOf).toSet
        val schema = snapshotSchema(upToNew)
        (mergedView(spark, path, upToOld, Some(dirs), schema),
          mergedView(spark, path, upToNew, Some(dirs), schema))
      }
    (oldSide, newSide) match {
      case (None, None) =>
        read(spark, path, asOfVersion = Some(toVersion))
          .filter(lit(false)).withColumn("_change_type", lit(""))
      case (None, Some(n)) => n.withColumn("_change_type", lit("insert"))
      case (Some(o), None) => o.withColumn("_change_type", lit("delete"))
      case (Some(o), Some(n)) =>
        val cols = n.columns.toSeq
        require(cols.contains(key), s"key column $key missing")
        val joinCols = (partitionCols :+ key).distinct
        val dataCols = cols.filterNot(joinCols.contains)
        val oldS = o.select(struct(joinCols.map(col): _*).as("__k"),
          struct(cols.map(col): _*).as("__old"))
        val newS = n.select(struct(joinCols.map(col): _*).as("__k"),
          struct(cols.map(col): _*).as("__new"))
        val j = oldS.join(newS, Seq("__k"), "full_outer")
        def tag(src: String, t: String) =
          struct((cols.map(c => col(s"$src.$c")) :+ lit(t).as("_change_type")): _*)
        // Updates emit pre+post images when asked (Delta CDF's
        // update_preimage/update_postimage) — downstream incremental
        // aggregation needs the retracted value, not just the new one.
        val updateRows =
          if (includePreimage)
            array(tag("__old", "update_preimage"), tag("__new", "update_postimage"))
          else array(tag("__new", "update"))
        val j2 = j.select(
          when(col("__old").isNull, array(tag("__new", "insert")))
            .when(col("__new").isNull, array(tag("__old", "delete")))
            .when(dataCols.map(c => !(col(s"__old.$c") <=> col(s"__new.$c")))
              .reduceOption(_ || _).getOrElse(lit(false)), // all-key tables never "update"
              updateRows)
            .otherwise(lit(null)).as("__rows"))
        j2.select(explode(col("__rows")).as("__row"))
          .select((cols :+ "_change_type").map(c => col(s"__row.$c")): _*)
    }
  }

  /** Predicate delete, COW: find the partitions holding matching rows
    * (partition-pruned when the predicate covers partition columns),
    * rewrite ONLY those without the matches, logically remove their old
    * files. A partition deleted empty simply stages no replacement file.
    */
  def delete(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String]): Long = graft.JobLabel(spark, "vt.delete") {
    val fs = fsFor(spark, path)
    requireNoDeltas(commits(fs, path), "delete")
    val (upTo, live) = snapshot(fs, path, None, None)
    if (live.isEmpty) return latestVersion(spark, path) // empty snapshot: no-op
    // Transform tables route through their derived layout (see upsert)
    val tfs = activeTransforms(upTo)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "delete on a transform table derives its partition columns - pass none")
    val effPartitionCols = if (tfs.isEmpty) partitionCols else tfs.map(_.name)
    // EVERY read here goes through the LOG schema, never dir-value
    // inference: inference can retype a partition value (p='01' infers
    // INT 1, breaking predicate semantics) and an all-null affected set
    // infers the partition column as VOID (the staged partitionBy write
    // refuses it). Transform dirs re-derive from raw columns
    // (deterministic, so rows keep their dirs).
    val logReader = snapshotSchema(upTo).map(spark.read.schema(_)).getOrElse(spark.read)
    def readSet(files: Seq[String]): DataFrame = PartitionTransforms.derive(
      logReader.option("basePath", path)
        .parquet(files.map(f => s"$path/$f"): _*)
        .drop(tfs.map(_.name): _*), tfs)
    // The hit scan is bounded by log-side skipping (hidden-dir
    // transforms, per-file stats, blooms): DELETE WHERE day = X reads
    // day X, never the table.
    val candidates = prunedCandidates(spark, path, upTo, live, predicate)
    if (candidates.isEmpty) return latestVersion(spark, path) // nothing can match
    // Exact rewrite scoping (Delta's find-touched-files): only files
    // HOLDING a matching row are rewritten; co-resident files in the
    // same dir keep their bytes. Dir-level scoping would rewrite a whole
    // partition for one clustered row — fatal at 100 TB.
    val affected = CommitKernel.touched(
      readSet(candidates).filter(predicate).select(col("_metadata.file_path")),
      candidates, (f: String) => new Path(s"$path/$f"), "vt.delete: touched-file probe")
    if (affected.isEmpty) return latestVersion(spark, path) // nothing matches
    val kept = readSet(affected).filter(!coalesce(predicate, lit(false)))
    val staged = stage(spark, path, byPartitions(kept, effPartitionCols),
      effPartitionCols)
    val adds = staged.map(_.path)
    val c = publishWithRebase(fs, path, "delete", adds, affected, txn = None,
      schemaOf = _ => None, allowRebase = true,
      stats = logStats(staged, activeStatsCols(upTo)),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(upTo)))
    c.version
  }

  /** COW UPDATE: rewrite the rows matching `predicate` with `set`
    * applied (Delta's `UPDATE` command on the log). Only the partitions
    * the predicate hits are read or rewritten; all assignments evaluate
    * against the ORIGINAL row in one projection (`SET a=b, b=a` swaps).
    * Updated rows may move partitions — identity partition values and
    * hidden-transform sources re-derive after assignment, so a row whose
    * partition key changes lands in (and prunes with) its new directory.
    */
  def update(spark: SparkSession, path: String,
      set: Map[String, org.apache.spark.sql.Column],
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String]): Long = graft.JobLabel(spark, "vt.update") {
    require(set.nonEmpty, "update: no assignments")
    requireSimpleNames("update", set.keys.toSeq)
    val fs = fsFor(spark, path)
    requireNoDeltas(commits(fs, path), "update")
    val (upTo, live) = snapshot(fs, path, None, None)
    if (live.isEmpty) return latestVersion(spark, path) // empty snapshot: no-op
    val tfs = activeTransforms(upTo)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "update on a transform table derives its partition columns - pass none")
    val effPartitionCols = if (tfs.isEmpty) partitionCols else tfs.map(_.name)
    // log-schema reads throughout — see delete's logReader note (dir
    // inference retypes partition values; all-null dirs infer VOID).
    // Hit scan bounded by log-side skipping + exact file-level rewrite
    // scoping, as in delete: only files HOLDING a matching row rewrite.
    val logReader = snapshotSchema(upTo).map(spark.read.schema(_)).getOrElse(spark.read)
    val candidates = prunedCandidates(spark, path, upTo, live, predicate)
    if (candidates.isEmpty) return latestVersion(spark, path) // nothing can match
    val affected = CommitKernel.touched(
      PartitionTransforms.derive(
          logReader.option("basePath", path)
            .parquet(candidates.map(f => s"$path/$f"): _*)
            .drop(tfs.map(_.name): _*), tfs)
        .filter(predicate).select(col("_metadata.file_path")),
      candidates, (f: String) => new Path(s"$path/$f"), "vt.update: touched-file probe")
    if (affected.isEmpty) return latestVersion(spark, path) // nothing matches
    val src = logReader
      .option("basePath", path)
      .parquet(affected.map(f => s"$path/$f"): _*)
      .drop(tfs.map(_.name): _*) // derived cols recompute after assignment
    val unknown = set.keySet.filterNot(src.columns.contains)
    require(unknown.isEmpty, s"update: unknown columns $unknown")
    val cond = coalesce(predicate, lit(false))
    // one projection = simultaneous assignment against the original row
    val out = src.select(src.columns.toIndexedSeq.map { c =>
      set.get(c)
        .map(v => when(cond, v.cast(src.schema(c).dataType)).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
    val enforcedSet = currentConstraints(upTo)
    val shaped = byPartitions(
      PartitionTransforms.derive(enforced(out, enforcedSet), tfs), effPartitionCols)
    val staged = stage(spark, path, shaped, effPartitionCols)
    val adds = staged.map(_.path)
    publishWithRebase(fs, path, "update", adds, affected, txn = None,
      schemaOf = _ => None, allowRebase = true,
      stats = logStats(staged, activeStatsCols(upTo)),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(upTo)),
      enforcedConstraints = Some(enforcedSet)).version
  }

  /** One MERGE INTO clause; evaluated in the order given, first match
    * wins (Delta's clause semantics). Conditions and update/insert value
    * expressions may reference the target row as `t.<col>` and the
    * source row as `s.<col>`.
    */
  sealed trait MergeClause
  /** UPDATE SET: `set` maps target column → new value; unlisted columns
    * keep their target value.
    */
  final case class MatchedUpdate(set: Map[String, org.apache.spark.sql.Column],
      cond: Option[org.apache.spark.sql.Column] = None) extends MergeClause
  final case class MatchedDelete(
      cond: Option[org.apache.spark.sql.Column] = None) extends MergeClause
  /** INSERT: `values` maps target column → expression; `None` inserts the
    * source's same-named columns (missing ones become null).
    */
  final case class NotMatchedInsert(
      values: Option[Map[String, org.apache.spark.sql.Column]] = None,
      cond: Option[org.apache.spark.sql.Column] = None) extends MergeClause

  /** MERGE INTO the versioned table: the general conditional-upsert the
    * reference reaches to Hudi/Delta for (`jobs/S3ToHudiOptStreamJob
    * .scala:80-105` configures exactly a keyed upsert; MERGE is its
    * superset). Target rows join source rows on (partitionCols, key) —
    * partition-scoped keys, same contract as [[upsert]] — then each
    * clause applies in order: matched rows take the first holding
    * MatchedUpdate/MatchedDelete (none holding → row kept unchanged),
    * source-only rows take the first holding NotMatchedInsert (none →
    * dropped), target-only rows are always kept. More than one source
    * row matching the same target row is an error (Delta's
    * multiple-source-rows-matched semantics), detected IN the plan via
    * a windowed count + raise_error — no extra validation job.
    *
    * Scale shape: one declarative plan — COW over affected partitions
    * only (source partition values collected, bounded driver set), the
    * source shuffles twice (dup-count window + join) but the table side
    * shuffles once on the join keys; untouched partitions share files
    * across versions without being read.
    *
    * `extraKeyCols` adds EXACT-equality columns to the match join —
    * the SQL-MERGE-on-a-transform-table case: the catalog requires the
    * ON clause to equate the transforms' raw source columns (day(ts)
    * tables match on exact `ts`, not day granularity), and those land
    * here. Redundant with the derived partition columns for routing,
    * but they tighten matching to what the SQL actually said.
    */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      key: String, partitionCols: Seq[String], clauses: Seq[MergeClause],
      txn: Option[(String, Long)] = None, statsCols: Seq[String] = Nil,
      evolveSchema: Boolean = false,
      extraKeyCols: Seq[String] = Nil): Long = graft.JobLabel(spark, "vt.merge") {
    import org.apache.spark.sql.types.StructType
    require(clauses.nonEmpty, "merge: no clauses")
    requireSimpleNames("key", Seq(key))
    requireSimpleNames("partition", partitionCols)
    requireSimpleNames("stats", statsCols)
    requireSimpleNames("extra key", extraKeyCols)
    extraKeyCols.foreach(c => require(source.columns.contains(c),
      s"merge source must carry extra key column $c"))
    val fs = fsFor(spark, path)
    val token = txn.map { case (app, batch) => Txn(app, batch) }
    val all = commits(fs, path)
    token.foreach { t =>
      val replay = all.find(_.txn.contains(t))
      if (replay.isDefined) return replay.get.version // idempotent retry
    }
    require(all.nonEmpty, s"merge: no versioned table at $path")
    requireNoDeltas(all, "merge")
    // Transform tables: derive the source's partition values through the
    // log's spec and route the COW exactly like an explicit layout; the
    // target side re-derives from its RAW columns so the join never
    // depends on hive-materialized dir values. Output rows re-derive
    // before staging, and only the raw schema reaches the log.
    val tfs = activeTransforms(all)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "merge on a transform table derives its partition columns - pass none")
    tfs.foreach(t => require(source.columns.contains(t.source),
      s"merge source must carry transform column ${t.source}"))
    val effPartitionCols = if (tfs.isEmpty) partitionCols else tfs.map(_.name)
    val effSource = PartitionTransforms.derive(source, tfs)
    val live = liveFiles(all)
    // The probe doubles as the emptiness answer (an unpartitioned table
    // has one dir, ""): an empty source merges nothing and publishes
    // nothing.
    val dirs = hitPartitionDirs(effSource, effPartitionCols)
    if (dirs.isEmpty) return all.last.version
    val affected =
      if (effPartitionCols.isEmpty) live else live.filter(f => inDirs(f, dirs))
    val targetSchema = snapshotSchema(all).getOrElse(
      spark.read.option("basePath", path)
        .parquet(live.map(f => s"$path/$f"): _*).schema)
    val outSchema: StructType =
      if (evolveSchema) mergeSchemas(targetSchema, source.schema) else targetSchema
    val base0 =
      if (affected.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), targetSchema)
      else spark.read.schema(targetSchema).option("basePath", path)
        .parquet(affected.map(f => s"$path/$f"): _*)
    val base = PartitionTransforms.derive(
      base0.drop(tfs.map(_.name): _*), tfs)
    val joinKeys = ((effPartitionCols ++ extraKeyCols) :+ key).distinct
    val mc = MergeKernel.columns(outSchema, targetSchema.fieldNames.toSet,
      source.columns.toSet, Seq(key), clauses, "merge")
    val resolved = byPartitions(PartitionTransforms.derive(
      MergeKernel.join(base, effSource, joinKeys).select(mc.picked.as("__r"))
        .filter(col("__r").isNotNull).select("__r.*"), tfs), effPartitionCols)
    val enforcedSet = currentConstraints(all)
    val staged = stage(spark, path,
      enforced(resolved, enforcedSet), effPartitionCols)
    val adds = staged.map(_.path)
    val c = publishWithRebase(fs, path, "merge", adds, affected, token,
      schemaOf = all =>
        if (evolveSchema)
          Some(snapshotSchema(all).map(mergeSchemas(_, source.schema)).getOrElse(outSchema))
        else None,
      allowRebase = true,
      stats = logStats(staged, (statsCols ++ activeStatsCols(all)).distinct),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(all)),
      enforcedConstraints = Some(enforcedSet))
    c.version
  }

  /** The log's stats for `statsCols` of a staged write, typed by the
    * commit's table schema: each file's footer stats, which the staging
    * pass already read ([[CommitKernel.Staged]]), and for a partition
    * column the file's directory value (min == max). No Spark job runs.
    * Parquet may truncate string bounds (min rounds down, max rounds
    * up), which only widens a file's range.
    */
  private def logStats(staged: Seq[CommitKernel.Staged], statsCols: Seq[String])(
      schema: org.apache.spark.sql.types.StructType): Option[Map[String, JValue]] = {
    val fields = schema.fields.toSeq.filter(f => statsCols.contains(f.name))
    if (fields.isEmpty || staged.isEmpty) return None
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    Some(staged.map { s =>
      val parts = fields.flatMap(f => s.partitionValues.get(f.name).map(v =>
        f.name -> FileStats.partitionStat(v, f.dataType, tz, s.stat.numRecords)))
      s.path -> (FileStats.statsValue(s.stat.copy(cols = s.stat.cols ++ parts), fields): JValue)
    }.toMap)
  }

  /** Per-file blooms over `bloomCols` for the staged files, built in ONE
    * distributed pass: codegen'd xxhash64 pair per row → [[BloomBitsAgg]]
    * per (file, column) → m/8 bytes per file to the driver, base64'd into
    * the commit. ~16 KB per file per column at the default m=2^17 —
    * the same metadata trade Delta's bloom filter index makes. Columns
    * absent from the frame are skipped (schema evolution safe).
    */
  private def collectBlooms(spark: SparkSession, path: String,
      rels: Seq[String],
      colBits: Map[String, Int]): Option[Map[String, Map[String, BloomStat]]] = {
    if (colBits.isEmpty || rels.isEmpty) return None
    val df = spark.read.option("basePath", path).parquet(rels.map(r => s"$path/$r"): _*)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = colBits.keys.toSeq.filter(fields.contains).sorted
    if (cols.isEmpty) return None
    val k = BloomHashes
    val aggs = cols.map { c =>
      org.apache.spark.sql.GraftShim.column(
        graft.functions.BloomBitsAgg(
          org.apache.spark.sql.GraftShim.expression(xxhash64(col(c))),
          org.apache.spark.sql.GraftShim.expression(xxhash64(col(c), lit(1))),
          colBits(c), k).toAggregateExpression()).as(s"__bloom_$c")
    }
    val rows = df.groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val enc = java.util.Base64.getEncoder
    val byFile = CommitKernel.byKey(fsFor(spark, path), rels)(r => new Path(s"$path/$r"))
    Some(rows.map { r =>
      byFile(r.getString(0)) -> cols.map(c => c -> BloomStat(colBits(c), k, fields(c).catalogString,
        enc.encodeToString(r.getAs[Array[Byte]](s"__bloom_$c")))).toMap
    }.toMap)
  }

  private val BloomHashes = 7

  /** Cumulative file→bloom index at a snapshot (later commits win). Files
    * rewritten by commits that record no blooms simply drop out — absence
    * means "scan it", never a wrong prune.
    */
  private def bloomIndex(upTo: Seq[Commit]): Map[String, Map[String, BloomStat]] =
    upTo.flatMap(_.blooms.getOrElse(Map.empty)).toMap

  /** Conservative bloom probe: false only when every equality branch of
    * the predicate is PROVABLY absent from the file. Only fires on a bare
    * attribute vs a foldable literal whose type matches the indexed
    * type (xxhash64 is type-exact); everything else scans.
    */
  private def bloomMayMatch(fb: Map[String, BloomStat],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def attrName(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(a.name)
      case _ => None // no Cast unwrap: the hash is type-exact
    }
    def test(colE: Expression, v: Expression): Boolean =
      attrName(colE).flatMap(fb.get) match {
        case Some(bs) if v.foldable && v.dataType.catalogString == bs.dt =>
          val value = v.eval(null)
          if (value == null) true
          else {
            val litE = Literal.create(value, v.dataType)
            val a = XxHash64(Seq(litE), 42L).eval(null).asInstanceOf[Long]
            val b = XxHash64(Seq(litE, Literal(1)), 42L).eval(null).asInstanceOf[Long]
            graft.functions.BloomKernel.mightContain(
              java.util.Base64.getDecoder.decode(bs.bitsB64), bs.m, bs.k, a, b)
          }
        case _ => true
      }
    e match {
      case And(l, r) => bloomMayMatch(fb, l) && bloomMayMatch(fb, r)
      case Or(l, r) => bloomMayMatch(fb, l) || bloomMayMatch(fb, r)
      case EqualTo(a, b) if b.foldable => test(a, b)
      case EqualTo(a, b) if a.foldable => test(b, a)
      case EqualNullSafe(a, b) if b.foldable => test(a, b)
      case EqualNullSafe(a, b) if a.foldable => test(b, a)
      case In(a, list) if list.nonEmpty && list.forall(_.foldable) =>
        list.exists(v => test(a, v))
      case _ => true
    }
  }

  /** Cumulative file→stats index at a snapshot (later commits win),
    * each entry decoded with the table schema in effect at the commit
    * that recorded it.
    */
  private def statsIndex(upTo: Seq[Commit]): Map[String, FileStats.FileStat] = {
    val schemas = upTo.scanLeft(Seq.empty[org.apache.spark.sql.types.StructField]) {
      (prev, c) => c.schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields.toSeq).getOrElse(prev)
    }.tail
    upTo.zip(schemas).flatMap { case (c, fields) =>
      c.stats.getOrElse(Map.empty).map { case (f, j) => f -> (j, fields) }
    }.toMap.map { case (f, (j, fields)) => f -> statsOf(j, fields) }
  }

  /** One file's log stats: the `add.stats` object, or (read-only) the
    * object logs carried before that shape, of row count, numeric and
    * string bounds and null counts. Its numeric bounds were rounded to
    * doubles when written, so each moves out to the neighbouring double
    * to stay a bound.
    */
  private def statsOf(j: JValue,
      fields: Seq[org.apache.spark.sql.types.StructField]): FileStats.FileStat = j \ "rows" match {
    case JNothing => FileStats.fileStatOfValue(j, fields)
    case r =>
      val rows = r.extract[Long]
      def side[A: Manifest](k: String) = (j \ k).extractOpt[Map[String, A]].getOrElse(Map.empty)
      val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString _
      val num = side[Double]("minNum").flatMap { case (c, lo) =>
        side[Double]("maxNum").get(c).map(hi => c -> (Math.nextDown(lo): Any, Math.nextUp(hi): Any)) }
      val str = side[String]("minStr").flatMap { case (c, lo) =>
        side[String]("maxStr").get(c).map(hi => c -> (utf8(lo): Any, utf8(hi): Any)) }
      val bounds = num ++ str
      val nulls = side[Long]("nulls")
      FileStats.FileStat(Some(rows), (bounds.keySet ++ nulls.keySet).map { c =>
        c -> FileStats.ColStats(bounds.get(c).map(_._1), bounds.get(c).map(_._2),
          nulls.get(c), allNull = nulls.get(c).contains(rows))
      }.toMap)
  }

  /** The columns the table's log already carries stats for — rewrite
    * ops re-collect these so skipping stays effective under churn
    * instead of decaying to conservative scans.
    */
  private def activeStatsCols(upTo: Seq[Commit]): Seq[String] =
    statsIndex(upTo).values.flatMap(_.cols.keys).toSeq.distinct.sorted

  /** The columns the log bloom-indexes, with their bit widths (max m wins
    * if widths ever differ across commits).
    */
  private def activeBloomBits(upTo: Seq[Commit]): Map[String, Int] =
    bloomIndex(upTo).values.flatten.toSeq.groupBy(_._1)
      .map { case (c, kvs) => c -> kvs.map(_._2.m).max }

  /** Data-skipping read: resolve the snapshot's live files, drop every
    * file whose log-recorded min/max/null-count/bloom prove it cannot
    * match `predicate`, scan the survivors, and apply the predicate
    * exactly. At 100 TB the planner never lists directories OR opens
    * footers for skipped files — the decision is made entirely from the
    * log. MOR snapshots skip too: only BASE files prune (every live
    * delta still merges, which keeps the collapse exact). Returns the
    * filtered frame plus (scanned base, total base) file counts.
    */
  /** Live files that MAY hold a row matching `predicate` — the same
    * log-only skipping [[readPruned]] applies (hidden-dir transform
    * pruning, then per-file min/max stats and bloom probes), reused by
    * the COW DML hit scans so `DELETE WHERE day = X` reads day X and
    * never the table. Conservative on every unknown. The predicate
    * resolves against the DERIVED schema, so dir-column predicates on
    * transform tables stay legal. Callers hold delta-free snapshots
    * (the COW ops require them), so no MOR handling.
    */
  private def prunedCandidates(spark: SparkSession, path: String,
      upTo: Seq[Commit], files: Seq[String],
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    if (files.isEmpty) return files
    val schema = snapshotSchema(upTo).getOrElse(
      spark.read.option("basePath", path)
        .parquet(files.map(f => s"$path/$f"): _*).schema)
    val probe = PartitionTransforms.derive(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      activeTransforms(upTo))
    val cond = FileStats.condition(spark, probe.schema, predicate)
    val idx = statsIndex(upTo)
    val bIdx = bloomIndex(upTo)
    prunedByTransforms(spark, upTo, files, cond).filter(f =>
      idx.get(f).forall(FileStats.mayMatch(cond, _)) &&
      bIdx.get(f).forall(bloomMayMatch(_, cond)))
  }

  def readPruned(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      asOfVersion: Option[Long] = None): (DataFrame, Int, Int) = {
    val fs = fsFor(spark, path)
    val (upTo, files) = snapshot(fs, path, asOfVersion, None)
    val idx = statsIndex(upTo)
    // Resolve the predicate against the log schema: a raw Column is an
    // unresolved node tree in Spark 4, and the analyzer types it the way
    // the row filter will run. No data is touched.
    val schema = snapshotSchema(upTo).getOrElse(
      spark.read.option("basePath", path)
        .parquet(files.map(f => s"$path/$f"): _*).schema)
    val cond = FileStats.condition(spark, schema, predicate)
    val bIdx = bloomIndex(upTo)
    // Hidden partitioning prunes FIRST and from the log alone: the raw
    // predicate implies partition predicates through the recorded
    // transforms (ranges through monotone transforms, equality/IN through
    // bucket), evaluated against the partition values parsed from each
    // live dir path. Stats/bloom skipping then applies per file.
    val afterDirs = prunedByTransforms(spark, upTo, files, cond)
    // Base files inside a delta-holding partition dir can only skip when
    // the merge provably cannot touch them (morBypass: key ranges
    // disjoint from every delta in the dir) — otherwise the collapse
    // winner there may be a base row (see mergedView) and the kept set
    // (and the reported scan count) includes them.
    val deltaFiles = liveDeltaFiles(upTo)
    val deltaDirs = deltaFiles.map(dirOf).toSet
    val bypass =
      if (deltaDirs.isEmpty) Set.empty[String]
      else {
        val morKey = upTo.reverse.collectFirst {
          case c if c.mor.isDefined => c.mor.get.key }.get
        morBypass(idx, files.filter(f => deltaDirs.contains(dirOf(f))),
          deltaFiles, morKey)
      }
    val kept = afterDirs.filter(f =>
      (deltaDirs.contains(dirOf(f)) && !bypass.contains(f)) ||
      (idx.get(f).forall(FileStats.mayMatch(cond, _)) &&
        bIdx.get(f).forall(bloomMayMatch(_, cond))))
    // MOR tables skip too: delta-free dirs prune by stats/bloom, every
    // live delta still merges (see mergedView.baseKeep for why exact).
    // empty kept set (or an empty snapshot entirely): an empty frame with
    // the log schema — read() would throw on a rows-deleted table
    def emptyFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(schema.filterNot(f =>
        activeTransforms(upTo).exists(_.name == f.name))))
    if (deltaDirs.nonEmpty) {
      val df = mergedView(spark, path, upTo, baseKeep = Some(kept.toSet),
          statsIdx = Some(idx))
        .getOrElse(emptyFrame)
      return (df.filter(predicate), kept.size, files.size)
    }
    val reader = spark.read.schema(schema)
    val df =
      if (kept.isEmpty) emptyFrame
      else reader.option("basePath", path)
        .parquet(kept.map(f => s"$path/$f"): _*)
    (df.filter(predicate), kept.size, files.size)
  }

  /** Drop live files whose hidden-partition dir values cannot satisfy the
    * predicates `cond` implies through the table's transforms. The dir
    * values are parsed driver-side (they are already in memory as the
    * live-file list — no listing, no footers) and evaluated as one tiny
    * local DataFrame so literal typing and comparison semantics are
    * Spark's own. Unparseable / null dir values are conservatively kept.
    */
  private def prunedByTransforms(spark: SparkSession, upTo: Seq[Commit],
      files: Seq[String],
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] = {
    val transforms = activeTransforms(upTo)
    if (transforms.isEmpty || files.isEmpty) return files
    val implied = transforms.flatMap(t => PartitionTransforms.implied(t, cond))
    if (implied.isEmpty) return files
    val dirs = files.map(dirOf).distinct
    // parse "name=value/..." into per-transform raw strings (hive-escaped)
    val parsed: Seq[org.apache.spark.sql.Row] = dirs.map { d =>
      val byName = d.split('/').toSeq.flatMap { seg =>
        seg.indexOf('=') match {
          case -1 => None
          case i =>
            val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(seg.substring(i + 1))
            Some(seg.substring(0, i) ->
              (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
        }
      }.toMap
      org.apache.spark.sql.Row.fromSeq(
        d +: transforms.map(t => byName.getOrElse(t.name, null)))
    }
    val rawSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__dir",
        org.apache.spark.sql.types.StringType) +:
        transforms.map(t => org.apache.spark.sql.types.StructField(
          t.name, org.apache.spark.sql.types.StringType)))
    // derive the typed partition values the same way the writer did, on a
    // probe carrying the LOG schema, so casts agree with the layout
    val logSchema = snapshotSchema(upTo).getOrElse(return files)
    val derivedTypes = PartitionTransforms.derive(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema),
      transforms).schema.fields.map(f => f.name -> f.dataType).toMap
    val dirDf = transforms.foldLeft(
      spark.createDataFrame(
        spark.sparkContext.parallelize(parsed, 1), rawSchema)) { (d, t) =>
      d.withColumn(t.name, col(t.name).cast(derivedTypes(t.name)))
    }
    val keepCond = implied.reduce(_ && _) ||
      transforms.map(t => col(t.name).isNull).reduce(_ || _)
    val keep = dirDf.filter(keepCond).select("__dir")
      .collect().map(_.getString(0)).toSet
    files.filter(f => keep.contains(dirOf(f)))
  }

  /** Cluster the table for data skipping: range-repartition + sort by
    * `sortCols` within each output task, so every rewritten file covers a
    * narrow, non-overlapping range and the recorded min/max become tight.
    * One full COW rewrite (the same trade Delta's OPTIMIZE ZORDER makes)
    * — after it, range predicates on `sortCols` skip all but O(1) files
    * via [[readPruned]].
    */
  def cluster(spark: SparkSession, path: String, sortCols: Seq[String],
      partitionCols: Seq[String], filesPerPartition: Int = 8,
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 17): Long = {
    requireSimpleNames("sort", sortCols)
    requireSimpleNames("partition", partitionCols)
    requireSimpleNames("bloom", bloomCols)
    val fs = fsFor(spark, path)
    val (all, live) = snapshot(fs, path, None, None)
    // Transform tables cluster WITHIN their derived layout: range-
    // repartition on (derived dirs ++ sortCols) keeps every task's output
    // inside one (or two boundary) dirs — files land in their hive dirs
    // with tight per-file sortCol ranges, so dir pruning and stats
    // skipping compose. Same shape as Delta's per-partition OPTIMIZE.
    val tfs = activeTransforms(all)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "cluster on a transform table derives its partition columns - pass none")
    val df = read(spark, path)
    val (sorted, effPartCols) =
      if (tfs.isEmpty)
        (df.repartitionByRange(filesPerPartition, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*), partitionCols)
      else {
        val names = tfs.map(_.name)
        val derived = PartitionTransforms.derive(df, tfs)
        val nDirs = math.max(1, live.map(dirOf).distinct.size)
        val keys = (names ++ sortCols).map(col)
        (derived.repartitionByRange(filesPerPartition * nDirs, keys: _*)
          .sortWithinPartitions(keys: _*), names)
      }
    val staged = stage(spark, path, sorted, effPartCols)
    val adds = staged.map(_.path)
    val stats = logStats(staged, (sortCols ++ activeStatsCols(all)).distinct) _
    val blooms = collectBlooms(spark, path, adds,
      activeBloomBits(all) ++ bloomCols.map(_ -> bloomBits))
    // read() above merged the deltas live AT PLANNING TIME into the
    // rewrite, so the commit consumes exactly those — clustering doubles
    // as delta compaction. Deltas landing DURING the rewrite must NOT be
    // removed (their rows are not in the output); they stay live and
    // collapse over the clustered base on read.
    val c = publishWithRebase(fs, path, "cluster",
      adds, (live ++ liveDeltaFiles(all)).distinct, txn = None,
      schemaOf = a => snapshotSchema(a), allowRebase = true, stats = stats,
      blooms = blooms)
    c.version
  }

  /** Multi-dimensional clustering: sort by the bit-interleaved Z-order
    * key of `zCols` so every rewritten file covers a small
    * hyper-rectangle — range predicates on ANY z-column (not just a
    * leading sort column) then prune through [[readPruned]]'s stats.
    * Quantile bucketing (one sketch pass per column) makes the
    * interleave robust to skewed value ranges. The Delta OPTIMIZE
    * ZORDER trade: one COW rewrite buys every later scan's skipping.
    */
  def clusterZOrder(spark: SparkSession, path: String, zCols: Seq[String],
      partitionCols: Seq[String], filesPerPartition: Int = 16,
      buckets: Int = 256): Long = {
    import graft.functions.ZOrder
    requireSimpleNames("z-order", zCols)
    requireSimpleNames("partition", partitionCols)
    val fs = fsFor(spark, path)
    val (zUpTo, live) = snapshot(fs, path, None, None)
    // Transform tables z-order WITHIN their derived layout, like
    // [[cluster]]: range-partition on (derived dirs ++ z-key) so files
    // stay in their hive dirs with tight per-file hyper-rectangles —
    // dir pruning and multi-dimensional stats skipping compose.
    val tfs = activeTransforms(zUpTo)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "clusterZOrder on a transform table derives its partition columns - pass none")
    val df = read(spark, path)
    val bounds = zCols.map(c => ZOrder.quantileBoundaries(df, c, buckets))
    val zkey = ZOrder.zorderKey(zCols.map(col),
      bounds, bits = math.min(8, 63 / zCols.size))
    val (sorted, effPartCols) =
      if (tfs.isEmpty)
        (df.withColumn("__z", zkey)
          .repartitionByRange(filesPerPartition, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z"), partitionCols)
      else {
        val names = tfs.map(_.name)
        val nDirs = math.max(1, live.map(dirOf).distinct.size)
        val keys = names.map(col) :+ col("__z")
        (PartitionTransforms.derive(df, tfs).withColumn("__z", zkey)
          .repartitionByRange(filesPerPartition * nDirs, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__z"), names)
      }
    val staged = stage(spark, path, sorted, effPartCols)
    val adds = staged.map(_.path)
    val stats = logStats(staged, (zCols ++ activeStatsCols(commits(fs, path))).distinct) _
    val blooms = collectBlooms(spark, path, adds,
      activeBloomBits(commits(fs, path)))
    // As in [[cluster]]: only the deltas merged at planning time are
    // removed; concurrent deltas stay live over the rewritten base.
    val c = publishWithRebase(fs, path, "cluster-zorder",
      adds, (live ++ liveDeltaFiles(zUpTo)).distinct, txn = None,
      schemaOf = a => snapshotSchema(a), allowRebase = true, stats = stats,
      blooms = blooms)
    c.version
  }

  /** History-preserving small-file compaction (Delta OPTIMIZE shape):
    * coalesce the files of every partition holding more than
    * `maxFilesPerPartition` live files into ~`targetFileBytes` outputs,
    * commit the swap as one log version (old files logically removed —
    * prior snapshots stay readable until [[vacuum]]). Data is unchanged,
    * so [[changes]] across an optimize commit reports nothing: the
    * rewritten rows compare equal and drop out of the diff. Healthy
    * partitions are not read or touched.
    */
  def optimize(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 4,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val fs = fsFor(spark, path)
    // optimize is layout-agnostic: partition columns (explicit OR
    // transform-derived) are recovered from the victims' dir paths, and
    // the rewrite re-partitions by exactly those — so transform tables
    // compact like any other.
    val (upTo, live) = snapshot(fs, path, None, None)
    val byDir = live.groupBy(f =>
      f.lastIndexOf('/') match { case -1 => ""; case i => f.substring(0, i) })
    val victims = byDir.filter(_._2.size > maxFilesPerPartition)
      .values.flatten.toSeq.sorted
    if (victims.isEmpty) return latestVersion(spark, path)
    val df = spark.read.option("basePath", path)
      .parquet(victims.map(f => s"$path/$f"): _*)
    val bytes = victims.map(f => fs.getFileStatus(new Path(s"$path/$f")).getLen).sum
    // victim row count from footers (driver pool, zero Spark jobs) —
    // the count() action re-scanned every victim file just for sizing;
    // unreadable footers fall back to the scan
    val rows = scala.util.Try {
      val counts = FileStats.fromFooters(spark,
        victims.map(f => s"$path/$f"),
        org.apache.spark.sql.types.StructType(Nil)).values.map(_.numRecords)
      require(victims.nonEmpty && counts.forall(_.isDefined))
      counts.flatten.sum
    }.getOrElse(df.count())
    val avgRow = if (rows == 0) 1L else (bytes / rows).max(1L)
    // Partition columns come from the read's hive dirs, parsed as path
    // SEGMENTS in hierarchy order — a substring match would false-hit
    // any column whose name suffixes another (k vs __p_k). Group whole
    // partitions per task so each directory is written by one writer.
    val segNames = dirOf(victims.head).split('/').toSeq
      .flatMap(seg => seg.indexOf('=') match {
        case -1 => None
        case i => Some(seg.substring(0, i))
      })
    val partCols = segNames.filter(df.schema.fieldNames.contains)
    val shaped =
      if (partCols.isEmpty) df.coalesce(math.max(1, (bytes / targetFileBytes).toInt))
      else df.repartition(partCols.map(col): _*)
    val staged = stage(spark, path, shaped, partCols,
      Some((targetFileBytes / avgRow).max(1L)))
    val adds = staged.map(_.path)
    val c = publishWithRebase(fs, path, "optimize", adds, victims, txn = None,
      schemaOf = a => snapshotSchema(a), allowRebase = true,
      stats = logStats(staged, activeStatsCols(upTo)),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(upTo)))
    c.version
  }

  /** Physically delete data files that are not live in ANY retained
    * snapshot (the latest `retainVersions` versions). Time travel before
    * the horizon stops working — the point of vacuum. Returns the deleted
    * relative paths.
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = 2,
      orphanMinAgeMs: Long = 24L * 3600_000L): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"not a versioned table: $path")
    val horizon = all.last.version - retainVersions + 1
    val retainedLive = all.filter(_.version >= horizon)
      .flatMap { c =>
        val upTo = all.filter(_.version <= c.version)
        liveFiles(upTo) ++ liveDeltaFiles(upTo)
      }
      .toSet
    val everReferenced = all.flatMap(c =>
      c.adds ++ c.deltaAdds.getOrElse(Nil) ++ c.checkpoint.getOrElse(Nil) ++
        c.checkpointDeltas.getOrElse(Nil).map(_.file) ++
        c.deltaReadds.getOrElse(Nil).map(_.file)).toSet
    val dead = everReferenced.filterNot(retainedLive.contains).toSeq.sorted
    dead.foreach(f => fs.delete(new Path(s"$path/$f"), false))
    // Orphans: data files in the table tree that NO commit ever
    // referenced — debris of writes that crashed between staging and
    // publish. Age-gate the delete so a concurrent writer's
    // staged-but-not-yet-committed files survive (Delta's vacuum makes
    // the same retention-window bet).
    val now = System.currentTimeMillis()
    val orphans = scala.collection.mutable.ArrayBuffer[String]()
    dataFiles(fs, path).foreach { case (st, rel) =>
      if (!everReferenced.contains(rel) &&
          now - st.getModificationTime > orphanMinAgeMs) {
        fs.delete(st.getPath, false)
        orphans += rel
      }
    }
    // Stage debris of writes that crashed DURING staging, same age gate
    orphans ++= CommitKernel.reclaim(fs, new Path(s"$path/$StageDir"), orphanMinAgeMs)
      .map(d => s"$StageDir/$d")
    dead ++ orphans
  }

  /** File-level metadata of a snapshot as a relation (Iceberg's `files`
    * metadata table / Delta's DESCRIBE DETAIL): one row per live file
    * with its partition dir, MOR role, log-recorded row count, stats
    * (Delta's `add.stats` JSON, [[FileStats.statsJson]]) and
    * bloom-indexed columns. Everything comes from the
    * log — no listing, no footers. SQL: `graft_files(path[, version])`.
    */
  def filesMeta(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val fs = fsFor(spark, path)
    val (upTo, live) = snapshot(fs, path, asOfVersion, None)
    val idx = statsIndex(upTo)
    val bIdx = bloomIndex(upTo)
    val fields = snapshotSchema(upTo).map(_.fields.toSeq).getOrElse(Nil)
    val rows = (live.map(_ -> false) ++ liveDeltaFiles(upTo).map(_ -> true)).map {
      case (f, isDelta) =>
        val st = idx.get(f)
        org.apache.spark.sql.Row(f, dirOf(f), isDelta,
          st.flatMap(_.numRecords).map(java.lang.Long.valueOf).orNull,
          st.map(FileStats.statsJson(_, fields)).orNull,
          bIdx.get(f).map(_.keys.toSeq.sorted).getOrElse(Nil))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("dir",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("is_delta",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("row_count",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("stats_json",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("bloom_cols",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Adopt an EXISTING plain parquet table in place (Delta's CONVERT TO
    * DELTA): walk the tree once, record every data file as version 1 —
    * zero data I/O, no rewrite. The files never move, so readers that
    * bypass the log keep working while log readers gain snapshots, time
    * travel, and the DML surface. Schema comes from one footer-backed
    * read; hidden partitioning can be declared at conversion time when
    * the layout was produced by [[PartitionTransforms.write]].
    */
  def convert(spark: SparkSession, path: String,
      transforms: Seq[PartitionTransforms.Transform] = Nil): Long = {
    val fs = fsFor(spark, path)
    require(commits(fs, path).isEmpty, s"already a versioned table: $path")
    // never adopt staging debris of crashed writes
    val files = dataFiles(fs, path).map(_._2)
    require(files.nonEmpty, s"convert: no parquet files under $path")
    val schema = spark.read.option("basePath", path)
      .parquet(files.toSeq.map(f => s"$path/$f"): _*)
      .drop(transforms.map(_.name): _*).schema
    publish(fs, path, Commit(1L, System.currentTimeMillis(), "convert",
      files.toSeq.sorted, Nil, None, None, schemaJson = Some(schema.json),
      partitionSpec = if (transforms.isEmpty) None else Some(transforms.map(specOf))))
    1L
  }

  /** Bound log growth (Delta's logRetention): delete commit files strictly
    * older than the newest CHECKPOINTED commit at or below
    * `latest - keepVersions`. Snapshot resolution already replays from the
    * latest checkpoint ≤ the target, so every surviving version reads
    * identically; time travel to an expired version fails with a clean
    * "no version <= v (earliest: …)" error — the same trade Delta makes.
    * Data files referenced only by expired commits become vacuum-eligible
    * orphans on the normal age gate. Pure driver-side log arithmetic,
    * zero data I/O. Returns the expired versions.
    *
    * Streaming txn tokens ride the same retention bet as Delta's: a
    * replayed (appId, batchId) older than the expired horizon would
    * re-apply, so keep `keepVersions` above the replay window (offsets
    * checkpoint per batch, so real crash-replays only revisit the last
    * batch). Metadata never expires: the retention floor must resolve
    * the same schema/constraints/partition-spec as the full log or the
    * call is a no-op (checkpoints stamp these going forward).
    */
  def expireLog(spark: SparkSession, path: String,
      keepVersions: Int = checkpointEvery): Seq[Long] = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"not a versioned table: $path")
    val horizon = all.last.version - keepVersions
    all.filter(c => c.version <= horizon && c.checkpoint.isDefined)
      .lastOption match {
      case None => Nil
      case Some(cp) =>
        // Refuse to strand metadata: the surviving suffix must resolve
        // the SAME schema/constraints/partition-spec/MOR-spec as the full
        // log (checkpoints stamp these, so only pre-stamping logs or a
        // floor older than the metadata ever refuse — the next
        // checkpoint re-qualifies).
        val surviving = all.filter(_.version >= cp.version)
        def morOf(cs: Seq[Commit]) =
          cs.reverse.collectFirst { case c if c.mor.isDefined => c.mor.get }
        val metaSafe =
          snapshotSchema(surviving) == snapshotSchema(all) &&
            currentConstraints(surviving) == currentConstraints(all) &&
            activeTransforms(surviving) == activeTransforms(all) &&
            morOf(surviving) == morOf(all) &&
            // Live MOR deltas must survive the floor: checkpoints stamp a
            // delta manifest, but a legacy floor replaying only the
            // suffix would DROP still-uncompacted delta commits' files —
            // readers lose upserted rows and vacuum reclaims the files as
            // unreferenced. The binding snapshot is the floor ITSELF: if
            // cp alone resolves the same delta set as the full log at cp,
            // every later version replays identically (same floor state,
            // same surviving tail). Refuse otherwise.
            liveDeltaEntries(Seq(cp)).toSet ==
              liveDeltaEntries(all.filter(_.version <= cp.version)).toSet
        if (!metaSafe) Nil
        else {
          val dead = all.filter(_.version < cp.version)
          dead.foreach(c => fs.delete(commitPath(path, c.version), false))
          dead.map(_.version)
        }
    }
  }

  // ---- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT shape) ----

  private def currentConstraints(upTo: Seq[Commit]): Map[String, String] =
    upTo.reverse.collectFirst { case c if c.constraints.isDefined => c.constraints.get }
      .getOrElse(Map.empty)

  /** The table's active CHECK constraints (name → SQL expression). */
  def constraintsOf(spark: SparkSession, path: String): Map[String, String] =
    currentConstraints(commits(fsFor(spark, path), path))

  /** Add a CHECK constraint: existing rows are validated first (one scan,
    * short-circuits at the first violation — same contract as Delta's
    * ALTER TABLE ADD CONSTRAINT), then the full constraint set is
    * recorded in a log-only commit. Every subsequent write/upsert/merge
    * validates IN its own plan — a violating batch fails before staging
    * and commits nothing. SQL NULL semantics: a row passes when the
    * expression is TRUE or NULL, violates only on FALSE.
    */
  def addConstraint(spark: SparkSession, path: String,
      name: String, sqlExpr: String): Long = {
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"addConstraint: no versioned table at $path")
    val bad = read(spark, path).filter(coalesce(expr(sqlExpr), lit(true)) === false)
    require(bad.isEmpty, s"addConstraint: existing rows violate $name ($sqlExpr)")
    publishWithRebase(fs, path, "add_constraint", Nil, Nil, txn = None,
      schemaOf = _ => None, allowRebase = true,
      constraints = Some(currentConstraints(all) + (name -> sqlExpr))).version
  }

  /** Drop a CHECK constraint by name (log-only commit). */
  def dropConstraint(spark: SparkSession, path: String, name: String): Long = {
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(currentConstraints(all).contains(name), s"no constraint named $name")
    publishWithRebase(fs, path, "drop_constraint", Nil, Nil, txn = None,
      schemaOf = _ => None, allowRebase = true,
      constraints = Some(currentConstraints(all) - name)).version
  }

  /** ALTER TABLE ADD COLUMNS: record the widened schema in a log-only
    * commit — zero data files read or rewritten at any table size.
    * Files predating the commit surface the new columns as null
    * (parquet by-name resolution, the same mechanism [[read]] already
    * relies on for write-time evolution), and snapshots BEFORE the
    * commit keep their narrower schema. New columns must be nullable
    * (existing rows have no value for them) and must not collide with
    * an existing column under the session resolver — a case-variant
    * twin would ambiguate every later resolution.
    */
  def addColumns(spark: SparkSession, path: String,
      newCols: org.apache.spark.sql.types.StructType): Long = {
    require(newCols.nonEmpty, "addColumns: no columns to add")
    requireSimpleNames("new", newCols.fieldNames.toSeq)
    newCols.foreach(f => require(f.nullable,
      s"addColumns: column '${f.name}' must be nullable — existing rows have no value for it"))
    val resolver = spark.sessionState.conf.resolver
    newCols.fieldNames.toSeq.combinations(2).foreach { case Seq(a, b) =>
      require(!resolver(a, b), s"addColumns: duplicate column name '$b'")
    }
    require(!newCols.fieldNames.exists(resolver(_, DeleteMarker)),
      s"addColumns: '$DeleteMarker' is reserved for MOR tombstones")
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"addColumns: no versioned table at $path")
    // derived layout columns (__p_*) are physical, not logical — a new
    // logical column shadowing one would corrupt transform re-derivation
    val derived = activeTransforms(all).map(_.name)
    newCols.fieldNames.foreach { n =>
      require(!derived.exists(resolver(_, n)),
        s"addColumns: '$n' collides with a hidden-partition layout column")
    }
    val fallback = tableSchema(spark, path) // legacy logs without schemaJson
    publishWithRebase(fs, path, "add_columns", Nil, Nil, txn = None,
      schemaOf = upTo => { // re-evaluated on rebase: concurrent evolution merges
        val cur = snapshotSchema(upTo).getOrElse(fallback)
        newCols.fieldNames.foreach { n =>
          require(!cur.fieldNames.exists(resolver(_, n)),
            s"addColumns: column '$n' already exists")
        }
        Some(org.apache.spark.sql.types.StructType(cur.fields ++ newCols.fields))
      },
      allowRebase = true).version
  }

  /** In-plan enforcement: wrap `df` so any row violating a constraint
    * raises during the stage write — zero extra scans, the check rides
    * the write's own pass over the data.
    */
  private def enforced(df: DataFrame, cs: Map[String, String]): DataFrame =
    if (cs.isEmpty) df
    else df.filter(cs.toSeq.sortBy(_._1).map { case (n, e) =>
      when(coalesce(expr(e), lit(true)), lit(true))
        .otherwise(raise_error(lit(s"CHECK constraint $n violated: $e")).cast("boolean"))
    }.reduce(_ && _))

  // ---- RESTORE (Delta RESTORE TABLE ... TO VERSION AS OF shape) ----

  /** Roll the table back to the state at `toVersion` as a NEW commit:
    * files live then but not now are re-added, files live now but not
    * then are logically removed — pure log arithmetic, zero data I/O,
    * and the bad history stays readable for audit. Fails if a needed
    * file was already vacuumed. CDF across the restore reports the
    * logical rollback (restored rows vs rolled-back rows).
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    val target = all.filter(_.version <= toVersion)
    require(target.nonEmpty, s"restore: no version <= $toVersion in $path")
    val wantEntries = liveDeltaEntries(target)
    val (wantBase, wantDeltas) = (liveFiles(target), wantEntries.map(_.file))
    val (curBase, curDeltas) = (liveFiles(all), liveDeltaFiles(all))
    val readdBase = wantBase.filterNot(curBase.contains)
    // re-added deltas KEEP their original adding version — merge
    // tie-breaks among equal precombines must read as they did at the
    // target version
    val readdDeltas = wantEntries.filterNot(e => curDeltas.contains(e.file))
    (readdBase ++ readdDeltas.map(_.file)).foreach { f =>
      require(fs.exists(new Path(s"$path/$f")),
        s"restore: $f from version $toVersion was vacuumed — cannot restore")
    }
    val removes = (curBase.filterNot(wantBase.contains) ++
      curDeltas.filterNot(wantDeltas.contains)).distinct
    publishWithRebase(fs, path, "restore", readdBase, removes, txn = None,
      schemaOf = _ => snapshotSchema(target), allowRebase = true,
      deltaReadds = readdDeltas,
      constraints = Some(currentConstraints(target)),
      // the partition spec is metadata like schema/constraints: a restore
      // across a spec change (e.g. an overwrite that cleared transforms)
      // must pin the TARGET's spec or the re-added files' derived layout
      // would be misread (Some(Nil) = explicitly no transforms)
      partitionSpec = Some(target.reverse.collectFirst {
        case c if c.partitionSpec.isDefined => c.partitionSpec.get
      }.getOrElse(Nil))).version
  }

  // ---- replaceWhere (Delta's predicate-scoped overwrite) ----

  /** Overwrite ONLY the slice a predicate describes: every live file in a
    * partition holding matching rows is logically removed and `df` is
    * written in its place. Rows of `df` outside the predicate raise
    * in-plan (Delta's replaceWhere contract — the write may not smuggle
    * data into partitions it didn't replace). Untouched partitions share
    * their files across the commit.
    */
  def replaceWhere(spark: SparkSession, path: String, df: DataFrame,
      predicate: org.apache.spark.sql.Column, partitionCols: Seq[String],
      statsCols: Seq[String] = Nil): Long = graft.JobLabel(spark, "vt.replaceWhere") {
    val fs = fsFor(spark, path)
    val all = commits(fs, path)
    require(all.nonEmpty, s"replaceWhere: no versioned table at $path")
    requireNoDeltas(all, "replaceWhere")
    // Transform tables route through their derived layout (see upsert):
    // hit partitions re-derive from raw columns, never from dir values
    val tfs = activeTransforms(all)
    require(tfs.isEmpty || partitionCols.isEmpty,
      "replaceWhere on a transform table derives its partition columns - pass none")
    val effPartitionCols = if (tfs.isEmpty) partitionCols else tfs.map(_.name)
    val live = liveFiles(all)
    // log-schema reads throughout — see delete's logReader note (dir
    // inference retypes partition values; all-null dirs infer VOID)
    val logReader = snapshotSchema(all).map(spark.read.schema(_)).getOrElse(spark.read)
    def readSet(files: Seq[String]): DataFrame = PartitionTransforms.derive(
      logReader.option("basePath", path)
        .parquet(files.map(f => s"$path/$f"): _*)
        .drop(tfs.map(_.name): _*), tfs)
    // an EMPTY snapshot (fresh CREATE TABLE, post-truncate) replaces
    // nothing — incoming rows still land below
    val hitDirs =
      if (live.isEmpty) Set.empty[String]
      else hitPartitionDirs(readSet(live).filter(predicate), effPartitionCols)
    val affected =
      if (hitDirs.isEmpty) Nil
      else live.filter(f => inDirs(f, hitDirs))
    val enforcedSet = currentConstraints(all)
    val guarded = enforced(
      df.filter(
        when(coalesce(predicate, lit(false)), lit(true))
          .otherwise(raise_error(lit(
            "replaceWhere: incoming row falls outside the replaced predicate"))
            .cast("boolean"))),
      enforcedSet)
    // Rows in the affected partitions that do NOT match the predicate
    // are PRESERVED (Delta's arbitrary-replaceWhere contract): only the
    // predicate's rows are replaced, even when the predicate is not
    // partition-aligned. Without this, a non-aligned predicate would
    // silently delete co-resident rows.
    val preserved =
      if (affected.isEmpty) guarded.filter(lit(false))
      else readSet(affected).filter(!coalesce(predicate, lit(false)))
    val shaped = byPartitions(
      PartitionTransforms.derive(guarded, tfs)
        .unionByName(preserved, allowMissingColumns = true), effPartitionCols)
    val staged = stage(spark, path, shaped, effPartitionCols)
    val adds = staged.map(_.path)
    publishWithRebase(fs, path, "replace_where", adds, affected, txn = None,
      schemaOf = _ => None, allowRebase = true,
      stats = logStats(staged, (statsCols ++ activeStatsCols(all)).distinct),
      blooms = collectBlooms(spark, path, adds, activeBloomBits(all)),
      enforcedConstraints = Some(enforcedSet)).version
  }

  /** Streaming MERGE INTO: one [[merge]] per micro-batch carrying the
    * (appId, batchId) txn token — replayed batches are no-ops, so the
    * arbitrary-clause merge gets the same exactly-once contract as
    * [[streamWriter]]. The target table must already exist.
    */
  def streamMerger(stream: DataFrame, path: String, key: String,
      partitionCols: Seq[String], clauses: Seq[MergeClause], checkpoint: String,
      appId: String = "graft-stream-merge"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(streamBatchMerger(path, key, partitionCols, clauses, appId))

  /** [[streamMerger]]'s `foreachBatch` body. No separate emptiness
    * action: [[merge]]'s partition probe answers it, and an empty batch
    * publishes nothing.
    */
  def streamBatchMerger(path: String, key: String, partitionCols: Seq[String],
      clauses: Seq[MergeClause], appId: String): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      graft.GraftSession.withMicroBatchDml(batch) {
        merge(batch.sparkSession, path, batch, key, partitionCols, clauses,
          txn = Some((appId, batchId)))
        ()
      }
  }
}

/** Clause evaluation shared by every MERGE ([[VersionedTable.merge]],
  * [[DeltaInterop.merge]], [[IcebergInterop.merge]]) over the one join
  * [[join]] builds: target aliased `t` with presence marker `__te`,
  * source aliased `s` with `__se` and a windowed per-key count `__scnt`,
  * full-outer joined on the match keys. All results are COLUMNS over
  * that join — clause application stays one declarative plan, the
  * multiple-source-rows guard is an in-plan `raise_error`.
  */
private[sinks] object MergeKernel {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.StructType
  import VersionedTable.{MatchedDelete, MatchedUpdate, MergeClause, NotMatchedInsert}

  /** `target` full-outer joined to `source` on equal `keys`. */
  def join(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val t = target.withColumn("__te", lit(1)).alias("t")
    val s = source
      .withColumn("__scnt", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .withColumn("__se", lit(1)).alias("s")
    t.join(s, keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "full_outer")
  }

  /** `guard` is true, or raises the multiple-source-rows error on a
    * source row whose key occurs more than once.
    */
  final case class Cols(matched: Column, matchedResult: Column,
      notMatchedResult: Column, fromTarget: Column, matchTag: Column,
      picked: Column, guard: Column)

  /** Clause results as rows of `out`, the merge's output schema. A
    * column of `out` that is not in `targetCols` (a schema the merge
    * evolves) reads null on the target side. `errKeys` are the key
    * columns the duplicate-source error prints.
    */
  def columns(out: StructType, targetCols: Set[String], sourceCols: Set[String],
      errKeys: Seq[String], clauses: Seq[MergeClause], errPrefix: String): Cols = {
    val outType = StructType(out.fields)
    def fromTargetCol(c: String): Column = if (targetCols(c)) col(s"t.$c") else lit(null)
    def fromTarget: Column = struct(out.fields.toSeq.map(f =>
      (if (targetCols(f.name)) col(s"t.${f.name}")
       else lit(null).cast(f.dataType)).as(f.name)): _*)
    val matchedResult = firstMatched(clauses, fromTarget,
      rowOf(out, _, fromTargetCol, errPrefix), lit(null).cast(outType))
    val notMatchedResult = inserted(out, sourceCols, clauses, errPrefix)
    val tag = matchTag(clauses)
    val matched = col("t.__te").isNotNull && col("s.__se").isNotNull
    val keyText = errKeys match {
      case Seq(k) => col(s"s.$k").cast("string")
      case ks => concat_ws(",", ks.map(k => col(s"s.$k").cast("string")): _*)
    }
    val dupError = raise_error(concat(
      lit(s"$errPrefix: multiple source rows match target key "), keyText))
    val picked =
      when(matched && col("s.__scnt") > 1, dupError.cast(outType))
        .when(matched, matchedResult)
        .when(col("t.__te").isNotNull, fromTarget)
        .otherwise(notMatchedResult)
    val guard = when(col("s.__scnt") > 1, dupError.cast("boolean")).otherwise(lit(true))
    Cols(matched, matchedResult, notMatchedResult, fromTarget, tag, picked, guard)
  }

  /** A row of `out` from an UPDATE's or INSERT's value map: `default`
    * gives the columns the map leaves unset.
    */
  private def rowOf(out: StructType, m: Map[String, Column], default: String => Column,
      errPrefix: String): Column = {
    val unknown = m.keySet.filterNot(out.fieldNames.contains)
    require(unknown.isEmpty, s"$errPrefix: unknown target columns $unknown")
    struct(out.fields.toSeq.map { f =>
      m.getOrElse(f.name, default(f.name)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The first holding matched clause's outcome: `update` of its value
    * map, or `delete`; `none` when no matched clause holds.
    */
  private def firstMatched(clauses: Seq[MergeClause], none: Column,
      update: Map[String, Column] => Column, delete: Column): Column =
    clauses.foldRight(none) {
      case (MatchedUpdate(set, cond), acc) => when(cond.getOrElse(lit(true)), update(set)).otherwise(acc)
      case (MatchedDelete(cond), acc) => when(cond.getOrElse(lit(true)), delete).otherwise(acc)
      case (_, acc) => acc
    }

  /** The first holding matched clause as a tag (`update`, `delete`, or
    * `keep` when none holds), for CDC rows and delete keys.
    */
  private def matchTag(clauses: Seq[MergeClause]): Column =
    firstMatched(clauses, lit("keep"), _ => lit("update"), lit("delete"))

  /** The row the first holding INSERT writes for an unmatched source
    * row, or null. An INSERT without values copies the source's columns
    * (null where the source has none).
    */
  private def inserted(out: StructType, sourceCols: Set[String], clauses: Seq[MergeClause],
      errPrefix: String): Column = {
    def fromSource(name: String): Column = if (sourceCols(name)) col(s"s.$name") else lit(null)
    clauses.foldRight(lit(null).cast(StructType(out.fields))) {
      case (NotMatchedInsert(values, cond), acc) =>
        when(cond.getOrElse(lit(true)),
          rowOf(out, values.getOrElse(Map.empty), fromSource, errPrefix)).otherwise(acc)
      case (_, acc) => acc
    }
  }

  /** A source-decided merge's per-row columns over the source aliased
    * `s`: `rule` is an aggregate, true when the batch is source-decided;
    * `acted` marks a row whose non-null key a matched clause updates or
    * deletes; `append` is the row the merge writes for it, or null.
    */
  final case class SourceDecided(rule: Column, acted: Column, append: Column)

  /** The rule under which a merge's outcome follows from its source
    * alone, so that deleting every acted-on key and appending every
    * `append` row equals the join. It holds when
    *  - every clause condition and value resolves against the source.
    *    An UPDATE column left unset reads `t.k`: for an ON key that is
    *    `s.k` on a match, for any other column it reads the target;
    *  - no non-null ON key repeats in the source;
    *  - each row's matched and unmatched outcomes agree: its UPDATE row
    *    equals its INSERT row, or it is deleted or kept when matched and
    *    not inserted when unmatched. A row with a null ON key never
    *    matches, so only its INSERT counts.
    * The first is checked here, on the driver: None when a clause reads
    * the target or is not deterministic (the rule and the write each
    * evaluate it). The other two are `rule`, an aggregate the caller
    * runs over the source. Each target key is taken to name one row, as
    * an upsert table's does: a key held by two target rows gets one
    * updated row, where the join would write two. A merge without a
    * matched clause keeps every matched row, so the rule could hold only
    * for a batch that inserts no keyed row: it is None, and such a merge
    * does not pay for the rule.
    */
  def sourceDecided(target: StructType, source: DataFrame, on: Seq[String],
      clauses: Seq[MergeClause], errPrefix: String): Option[SourceDecided] =
    if (!clauses.exists(c => c.isInstanceOf[MatchedUpdate] || c.isInstanceOf[MatchedDelete])) None
    // resolved as the merge's own join resolves them (an empty target
    // side, analysis only); a clause the join cannot resolve takes the
    // join path, which fails or not as it always has
    else scala.util.Try {
      val out = StructType(target.fields)
      val keyOrTarget = (c: String) => if (on.contains(c)) col(s"s.$c") else col(s"t.$c")
      val updated = firstMatched(clauses, lit(null).cast(out),
        rowOf(out, _, keyOrTarget, errPrefix), lit(null).cast(out))
      val tag = matchTag(clauses)
      val insert = inserted(out, source.columns.toSet, clauses, errPrefix)
      val probe = join(source.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), target), source, on)
      val targetSide = probe.queryExecution.analyzed.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.left.outputSet
      }.get
      val readsTarget = probe.select(updated, tag, insert).queryExecution.analyzed.expressions
        .exists(e => !e.deterministic || e.references.exists(targetSide.contains))
      val keyed = on.map(k => col(s"s.$k").isNotNull).reduce(_ && _)
      val agree = !keyed || when(tag === "update", updated <=> insert).otherwise(insert.isNull)
      val keys = on.map(k => col(s"s.$k"))
      if (readsTarget) None
      else Some(SourceDecided(
        rule = count(when(keyed, lit(1))) === count_distinct(keys.head, keys.tail: _*) &&
          count(when(!agree, lit(1))) === 0,
        acted = keyed && tag =!= "keep",
        append = insert))
    }.toOption.flatten
}
