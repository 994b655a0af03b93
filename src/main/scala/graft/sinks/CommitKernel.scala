package graft.sinks

import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The shared half of every table engine's commit: how a DataFrame
  * becomes files inside a table tree that no reader can see yet, and
  * how one log file then makes them visible. A sink's output stays
  * invisible until the log entry referencing it publishes (the
  * epoch-commit model of Structured Streaming), so a crash between
  * stage and publish leaves only unreferenced files.
  *
  * One [[stage]] call writes the frame into a per-writer UUID dir under
  * the caller's stage root, reads every produced file's parquet FOOTER
  * once (row count + column stats for the written schema, zero data
  * bytes re-read), drops zero-row files, moves the rest to the names the
  * caller chooses and cleans up after itself.
  *
  * [[publish]] makes a log entry visible: Delta and graft log versions,
  * Iceberg metadata versions and Hudi timeline instants. A writer that
  * loses the race for a name fails instead of overwriting the winner.
  * [[replace]] swaps a pointer file (Iceberg's version hint, Delta's
  * `_last_checkpoint`, catalog and checkpoint markers) for a new one.
  * Callers keep everything format-specific: shaping the frame, where
  * their stage root lives, their on-disk naming, every log codec and
  * their conflict rules.
  *
  * File identity lives here too. [[fileKey]] is the one way to name a
  * file: the driver keys its maps from log entries with it, and looks
  * the paths Spark reports up as they are. [[walk]] is the one listing
  * of a table tree, and [[touched]] the one probe for the files that
  * hold a matching row.
  */
object CommitKernel {

  /** A kept file as the naming function sees it: its path under the
    * writer's stage dir, its position among the kept files, and its
    * decoded hive partition values.
    */
  final case class Source(rel: String, index: Int,
      partitionValues: Map[String, Option[String]])

  /** A kept file after its move: `path` is relative to the table root,
    * `stat` its footer row count and column stats.
    */
  final case class Staged(path: String, bytes: Long,
      partitionValues: Map[String, Option[String]], stat: FileStats.FileStat) {
    def rows: Long = stat.numRecords.getOrElse(0L)
  }

  /** Stage `df` under `table` and return one record per kept file.
    * `stageRoot` is table-relative and shared by concurrent writers;
    * `name` maps each kept file to its table-relative destination.
    * `label` names the staging write's Spark job and should contain
    * "stage". An empty frame stages nothing and returns Nil.
    */
  def stage(df: DataFrame, table: String, stageRoot: String, label: String,
      partitionBy: Seq[String] = Nil, maxRecordsPerFile: Option[Long] = None)(
      name: Source => String): Seq[Staged] = {
    val spark = df.sparkSession
    val root = new Path(s"$table/$stageRoot")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(root, java.util.UUID.randomUUID.toString)
    graft.JobLabel(spark, label) {
      val w = df.write.mode("overwrite").partitionBy(partitionBy: _*)
      maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
        .parquet(dir.toString)
    }
    val written = walk(fs, dir).filter(_._2.endsWith(".parquet"))
    val stats = FileStats.fromFooters(spark, written.map(_._1.getPath.toString),
      StructType(df.schema.filterNot(f => partitionBy.contains(f.name))))
    // Zero-row files never reach a log: an empty unpartitioned write
    // still emits one, and callers read emptiness off what was kept.
    val kept = written.flatMap { case (st, rel) =>
      stats.get(st.getPath.toString)
        .filter(_.numRecords.forall(_ > 0)).map(stat => (st, rel, stat))
    }.zipWithIndex.map { case ((st, rel, stat), i) =>
      val values = partitionValues(rel, partitionBy)
      (st.getPath, Staged(name(Source(rel, i, values)), st.getLen, values, stat))
    }
    // Each FS op pays per-op latency (worse on an object store) and a
    // wide hive layout stages hundreds of files, so mkdirs and renames
    // run on a small pool.
    inParallel(kept.map(k => new Path(s"$table/${k._2.path}").getParent).distinct)(
      d => { fs.mkdirs(d); () })
    inParallel(kept) { case (src, s) =>
      require(fs.rename(src, new Path(s"$table/${s.path}")),
        s"stage: failed to move $src -> ${s.path}")
    }
    fs.delete(dir, true)
    removeIfEmpty(fs, root)
    kept.map(_._2)
  }

  /** The identity of the file at `p`: its qualified URI string, which
    * is exactly what Spark reports for it in `_metadata.file_path`. A
    * hive dir `cat=a%3Ab` on disk is `cat=a%253Ab` here, and `c d` is
    * `c%20d`; Spark's strings need no decoding. The URI is spelled from
    * its parts, so the local filesystem's empty authority (`file:///x`)
    * drops out as it does in a listing (`file:/x`). `input_file_name()`
    * keeps `file:///x` for a file read by its explicit path, so it is
    * not a key.
    */
  def fileKey(fs: FileSystem, p: Path): String = {
    val u = fs.makeQualified(p).toUri
    new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null, u.getFragment).toString
  }

  /** `xs` by the [[fileKey]] of each one's file. */
  def byKey[A](fs: FileSystem, xs: Seq[A])(pathOf: A => Path): Map[String, A] =
    xs.map(a => fileKey(fs, pathOf(a)) -> a).toMap

  /** Every file under `root` with its on-disk name relative to `root`,
    * entering only the directories whose relative name `descend`
    * accepts. A plain listStatus walk, not listFiles(recursive): that
    * materializes block locations per file (measured 3+ s over ~500
    * dirs).
    */
  def walk(fs: FileSystem, root: Path,
      descend: String => Boolean = _ => true): Seq[(FileStatus, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(FileStatus, String)]()
    def go(dir: Path, prefix: String): Unit = fs.listStatus(dir).foreach { st =>
      val rel = prefix + st.getPath.getName
      if (!st.isDirectory) out += st -> rel
      else if (descend(rel)) go(st.getPath, rel + "/")
    }
    go(root, "")
    out.toSeq
  }

  /** The `candidates` that hold a row of a DML's matching rows, in one
    * job labelled `label`. `files` is the matching rows' file as Spark
    * reports it (`_metadata.file_path`), one column; its distinct values
    * map back through [[fileKey]]. The probe can never see more files
    * than the candidates, so their count is its cap, and a file outside
    * them fails loudly rather than being dropped.
    */
  def touched[A](files: DataFrame, candidates: Seq[A], pathOf: A => Path,
      label: String): Seq[A] = {
    if (candidates.isEmpty) return Nil
    val spark = files.sparkSession
    val fs = pathOf(candidates.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byFile = byKey(fs, candidates)(pathOf)
    graft.JobLabel(spark, label) {
      LocalProbe.distinctStrings(files, cap = candidates.size)
    }.toSeq.map(f => byFile.getOrElse(f,
      throw new IllegalStateException(s"$label: $f is not a candidate file")))
  }

  /** Test seam: runs inside [[publish]] once the caller has chosen its
    * target name, so a spec can land a concurrent writer's entry first.
    */
  private[graft] var beforePublish: Path => Unit = _ => ()

  /** Make `bytes` visible at `dst` in one step: write a hidden temp file
    * beside it, then rename it onto `dst` with a rename that refuses an
    * existing target. A writer that loses the race for `dst` gets
    * ConcurrentModificationException and the winner's file stays as it
    * was.
    */
  def publish(fs: FileSystem, dst: Path, bytes: Array[Byte]): Unit = {
    beforePublish(dst)
    val tmp = writeTemp(fs, dst, bytes)
    // the exists guard covers filesystems whose rename overwrites
    if (fs.exists(dst) || !fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"$dst was published concurrently by another writer")
    }
  }

  /** Replace the pointer file `dst` with `bytes`: write a temp file and
    * rename it over `dst`, so readers see the old or the new content,
    * never a missing or partial file.
    */
  def replace(fs: FileSystem, dst: Path, bytes: Array[Byte]): Unit = {
    val tmp = writeTemp(fs, dst, bytes)
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.makeQualified(dst).toUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def writeTemp(fs: FileSystem, dst: Path, bytes: Array[Byte]): Path = {
    fs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    tmp
  }

  /** Age-gated reclaim of stage debris: a write that crashed DURING
    * staging leaves its whole UUID dir behind, invisible to any in-tree
    * orphan sweep. Deletes the dirs under `stageRoot` whose NEWEST entry
    * is older than `minAgeMs` (an active writer's dir keeps gaining
    * files well inside any sane retention) and returns their names.
    */
  def reclaim(fs: FileSystem, stageRoot: Path, minAgeMs: Long): Seq[String] = {
    if (!fs.exists(stageRoot)) return Nil
    val now = System.currentTimeMillis()
    def newest(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getModificationTime
      else fs.listStatus(st.getPath).map(newest)
        .foldLeft(st.getModificationTime)(math.max)
    val stale = fs.listStatus(stageRoot).toSeq
      .filter(d => d.isDirectory && now - newest(d) > minAgeMs)
    stale.foreach(d => fs.delete(d.getPath, true))
    removeIfEmpty(fs, stageRoot)
    stale.map(_.getPath.getName)
  }

  /** Hive partition values of a path's `col=value` dir segments.
    * Decoding unescapes `%XX` pairs only: Spark's partition-dir escaping
    * leaves `+` literal, so URLDecoder would turn `UTC+8` into `UTC 8`;
    * literal `%` is always written as `%25`, so the decode is lossless.
    * `__HIVE_DEFAULT_PARTITION__` is null; a column without a segment
    * is null too.
    */
  private[sinks] def partitionValues(rel: String,
      cols: Seq[String]): Map[String, Option[String]] = {
    val fromDirs = rel.split("/").dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.substring(0, i) -> Some(unescape(seg.substring(i + 1)))
        .filter(_ != "__HIVE_DEFAULT_PARTITION__"))
    }.toMap
    cols.map(c => c -> fromDirs.getOrElse(c, None)).toMap
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length)
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Remove the SHARED stage root only when empty: a recursive delete
    * would destroy a concurrent writer's mid-stage files and abort its
    * commit (each writer's UUID dir is its own).
    */
  private def removeIfEmpty(fs: FileSystem, root: Path): Unit =
    try if (fs.listStatus(root).isEmpty) fs.delete(root, false)
    catch { case _: java.io.IOException => }

  private def inParallel[A](xs: Seq[A])(f: A => Unit): Unit =
    if (xs.nonEmpty) {
      val pool = Executors.newFixedThreadPool(math.min(16, xs.size))
      try xs.map(x => pool.submit(new Callable[Unit] { def call(): Unit = f(x) }))
        .foreach(_.get())
      finally pool.shutdown()
    }
}
