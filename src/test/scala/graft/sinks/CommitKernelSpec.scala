package graft.sinks

import java.io.File
import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sinks.TableSink.SinkConfig

/** The shared staging path: what lands in the table tree, what the
  * footer pass reports, and what is left behind.
  */
class CommitKernelSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-kernel-$tag").toFile.getAbsolutePath + "/t"

  private def walk(root: String): Seq[JPath] =
    if (!new File(root).exists()) Nil
    else {
      val s = Files.walk(new File(root).toPath)
      try s.toArray.toSeq.map(_.asInstanceOf[JPath]) finally s.close()
    }

  /** Table-relative paths of every regular file under `root`. */
  private def files(root: String): Set[String] = walk(root)
    .filter(Files.isRegularFile(_))
    .map(p => new File(root).toPath.relativize(p).toString).toSet

  private def stageDirs(root: String): Seq[String] = walk(root)
    .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("stage"))
    .map(_.toString)

  private def rows(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, if (i % 2 == 0) "a" else "b", i * 10.0)).toDF("id", "cat", "v")

  test("zero-row files are dropped: an empty frame stages nothing and leaves no stage dir") {
    val t = tmp("empty")
    val kept = CommitKernel.stage(rows(Nil), t, "_stage", "spec: stage")(_.rel)
    assert(kept.isEmpty)
    assert(files(t).isEmpty, files(t))
    assert(stageDirs(t).isEmpty, stageDirs(t))
    val some = CommitKernel.stage(rows(Seq(1L, 2L, 3L)).coalesce(1), t, "_stage",
      "spec: stage")(s => s"data/${s.index}.parquet")
    assert(some.map(_.path) == Seq("data/0.parquet") && some.head.rows == 3L)
    assert(files(t) == Set("data/0.parquet"))
    assert(some.head.bytes == new File(s"$t/data/0.parquet").length())
  }

  test("footer stats equal FileStats.collect on the same files") {
    val t = tmp("stats")
    val df = Seq(
      (1L, "alpha", Some(1.5), java.sql.Date.valueOf("2024-01-05"), BigDecimal("12.34"), "x"),
      (7L, "omega", None, java.sql.Date.valueOf("2024-02-10"), BigDecimal("-0.01"), "x"),
      (-4L, "midst", Some(0.0), java.sql.Date.valueOf("2024-03-15"), BigDecimal("9.99"), "y"))
      .toDF("k", "s", "d", "day", "dec", "p")
      .withColumn("allnull", lit(null).cast("string"))
    val kept = CommitKernel.stage(df.repartition(2), t, "_stage", "spec: stage",
      Seq("p"))(_.rel)
    assert(kept.nonEmpty && kept.map(_.rows).sum == 3L)
    val dataSchema = StructType(df.schema.filterNot(_.name == "p"))
    val scan = FileStats.collect(spark, kept.map(s => s"$t/${s.path}"), dataSchema)
    kept.foreach { s =>
      assert(scan(s"$t/${s.path}") == s.stat,
        s"footer vs scan stats diverge for ${s.path}")
    }
  }

  test("partition values decode null, '+' and '%' values") {
    val t = tmp("pv")
    val df = Seq((1L, null: String), (2L, "UTC+8"), (3L, "50%"), (4L, "a b=c"))
      .toDF("id", "tz")
    val kept = CommitKernel.stage(df, t, "_stage", "spec: stage", Seq("tz"))(_.rel)
    val byId = kept.map { s =>
      spark.read.parquet(s"$t/${s.path}").as[Long].head() -> s.partitionValues
    }.toMap
    assert(byId == Map(
      1L -> Map("tz" -> None), 2L -> Map("tz" -> Some("UTC+8")),
      3L -> Map("tz" -> Some("50%")), 4L -> Map("tz" -> Some("a b=c"))))
    assert(CommitKernel.partitionValues("tz=UTC+8/x=%25/part-0.parquet", Seq("tz", "x", "y")) ==
      Map("tz" -> Some("UTC+8"), "x" -> Some("%"), "y" -> None))
  }

  /** Partition values whose directory names need URI encoding: `:` and
    * `%` are hive-escaped on disk (`a%3Ab`, `e%25f`) and encoded again in
    * the URI Spark reports (`a%253Ab`); a space is encoded once (`c%20d`).
    */
  private val odd = Seq("a:b", "c d", "e%f")

  private def oddRows: DataFrame =
    (1L to 6L).map(i => (i, odd(((i - 1) / 2).toInt), i * 10.0)).toDF("id", "cat", "v")

  test("fileKey is the string Spark reports for a file, in any directory name") {
    val t = tmp("filekey")
    oddRows.write.partitionBy("cat").parquet(t)
    val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = CommitKernel.walk(fs, new org.apache.hadoop.fs.Path(t))
      .collect { case (st, rel) if rel.endsWith(".parquet") => (st.getPath, rel) }
    assert(onDisk.map(_._2.takeWhile(_ != '/')).toSet ==
      Set("cat=a%3Ab", "cat=c d", "cat=e%25f"), "walk yields on-disk names")
    def reported(df: DataFrame): Set[String] =
      df.select(col("_metadata.file_path")).as[String].collect().toSet
    val keys = onDisk.map(f => CommitKernel.fileKey(fs, f._1)).toSet
    // the same string whether Spark lists the dir or is given each file
    assert(reported(spark.read.parquet(t)) == keys)
    assert(reported(spark.read.parquet(onDisk.map(f => s"$t/${f._2}"): _*)) == keys)
    assert(keys.exists(_.contains("/cat=a%253Ab/")) && keys.exists(_.contains("/cat=c%20d/")), keys)
    // a plain path and its qualified spellings name one file
    val p = onDisk.head._1
    assert(CommitKernel.fileKey(fs, new org.apache.hadoop.fs.Path(p.toUri.getPath)) ==
      CommitKernel.fileKey(fs, p))
  }

  test("file identity: every engine maps ':', ' ' and '%' partition dirs to the log entries they name") {
    val upsert = Seq(VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
      VersionedTable.NotMatchedInsert())
    def source(ids: Long*): DataFrame =
      oddRows.filter(col("id").isin(ids: _*)).withColumn("v", lit(999.0))
    def rowsOf(df: DataFrame): Seq[(Long, Double)] =
      df.select("id", "v").as[(Long, Double)].collect().sorted.toSeq
    def expect(deleted: Set[Long] = Set.empty, updated: Set[Long] = Set.empty) =
      (1L to 6L).filterNot(deleted).map(i => i -> (if (updated(i)) 999.0 else i * 10.0))
    def delta(t: String): Unit = { DeltaInterop.write(oddRows, t, partitionBy = Seq("cat")); () }
    def iceberg(t: String): Unit = { IcebergInterop.write(oddRows, t, partitionBy = Seq("cat")); () }
    def graft(t: String): Unit = { VersionedTable.write(spark, t, oddRows, Seq("cat")); () }
    def readDelta(t: String) = DeltaInterop.read(spark, t)
    def readIceberg(t: String) = IcebergInterop.read(spark, t)
    def readGraft(t: String) = VersionedTable.read(spark, t)
    def deltaMerge(key: Long)(t: String): Unit = {
      val r = DeltaInterop.merge(spark, t, source(key), Seq("id"), upsert)
      assert(r.rewrittenFiles == 1, s"merge rewrote ${r.rewrittenFiles} files: $r")
    }
    // Delta paths are relative: a moved table must still apply its DVs
    def movedDvTable(t: String): String = {
      DeltaInterop.write(oddRows, t)
      DeltaInterop.deleteDv(spark, t, col("id") === 2L)
      val moved = new File(new File(t).getParentFile, "x y")
      moved.mkdirs()
      Files.move(new File(t).toPath, new File(moved, "t").toPath)
      s"${moved.getPath}/t"
    }
    // a position delete names the data file as the manifest spells it
    def posDeleteNamesManifestPaths(t: String): Unit = {
      IcebergInterop.deletePositions(spark, t, col("id") === 2L)
      val data = IcebergInterop.metadataTable(spark, t, "files")
        .select("file_path").as[String].collect().toSet
      val named = files(t).filter(_.contains("delete-")).flatMap(f =>
        spark.read.parquet(s"$t/$f").select("file_path").as[String].collect())
      assert(named.nonEmpty && named.subsetOf(data), s"delete file names $named, manifest has $data")
    }
    case class Case(name: String, setup: String => Unit, op: String => Unit,
        read: String => DataFrame, expected: Seq[(Long, Double)], root: String => String = identity)
    val cases = Seq(
      Case("delta merge into a:b", delta, deltaMerge(2L), readDelta, expect(updated = Set(2L))),
      Case("delta merge into c d", delta, deltaMerge(3L), readDelta, expect(updated = Set(3L))),
      Case("delta deleteDv", delta, t => { DeltaInterop.deleteDv(spark, t, col("id") === 2L); () },
        readDelta, expect(deleted = Set(2L))),
      Case("delta updateDv", delta,
        t => { DeltaInterop.updateDv(spark, t, col("id") === 5L, Map("v" -> lit(999.0))); () },
        readDelta, expect(updated = Set(5L))),
      Case("delta DV read after the root moves to 'x y'", _ => (), _ => (), readDelta,
        expect(deleted = Set(2L)), root = movedDvTable),
      Case("iceberg merge", iceberg,
        t => { IcebergInterop.merge(spark, t, source(2L, 5L), Seq("id"), upsert); () },
        readIceberg, expect(updated = Set(2L, 5L))),
      Case("iceberg deletePositions", iceberg, posDeleteNamesManifestPaths, readIceberg,
        expect(deleted = Set(2L))),
      Case("graft delete", graft,
        t => { VersionedTable.delete(spark, t, col("id") === 2L, Seq("cat")); () },
        readGraft, expect(deleted = Set(2L))),
      Case("graft update", graft,
        t => { VersionedTable.update(spark, t, Map("v" -> lit(999.0)), col("id") === 3L, Seq("cat")); () },
        readGraft, expect(updated = Set(3L))),
      Case("graft merge-on-read", graft,
        t => { VersionedTable.upsertMOR(spark, t, source(5L), "id", "v", Seq("cat")); () },
        readGraft, expect(updated = Set(5L))))
    val failures = cases.flatMap { c =>
      val t = c.root(tmp("identity"))
      scala.util.Try {
        c.setup(t); c.op(t)
        val got = rowsOf(c.read(t))
        assert(got == c.expected, s"read back $got")
      }.failed.toOption.map(e => s"${c.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("hudi refuses a partition value a Hadoop path cannot hold, leaving the table readable") {
    val bad = Seq((9L, "2024-01-01 10:00", 90.0)).toDF("id", "cat", "v")
    def refused(name: String, t: String, read: => DataFrame)(write: => Unit): Unit = {
      val before = files(t)
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage.contains("cat") && e.getMessage.contains("2024-01-01 10:00"),
        s"$name: ${e.getMessage}")
      assert(files(t) == before, s"$name: files changed")
      assert(read.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L), name)
    }
    val cow = tmp("hudi-colon")
    HudiInterop.insert(rows(Seq(1L, 2L, 3L)), cow, "id", "v", partitionBy = Seq("cat"))
    refused("cow insert", cow, HudiInterop.read(spark, cow))(
      HudiInterop.insert(bad, cow, "id", "v", partitionBy = Seq("cat")))
    refused("cow upsert", cow, HudiInterop.read(spark, cow))(
      HudiInterop.upsert(bad, cow, "id", "v", partitionBy = Seq("cat")))
    val mor = tmp("hudi-mor-colon")
    HudiMor.upsert(rows(Seq(1L, 2L, 3L)), mor, "id", "v", partitionBy = Seq("cat"))
    refused("mor upsert", mor, HudiMor.read(spark, mor))(
      HudiMor.upsert(bad, mor, "id", "v", partitionBy = Seq("cat")))
  }

  test("a concurrent writer's UUID directory survives cleanup") {
    val t = tmp("concurrent")
    val other = new File(s"$t/_stage/other-writer")
    other.mkdirs()
    Files.write(new File(other, "part-00000.parquet").toPath, Array[Byte](1))
    CommitKernel.stage(rows(Seq(1L)), t, "_stage", "spec: stage")(_ => "f.parquet")
    assert(other.exists() && new File(other, "part-00000.parquet").exists())
    assert(new File(s"$t/_stage").list().toSeq == Seq("other-writer"),
      "only our own UUID dir is removed")
    // once the other writer is gone, the shared root goes with the next stage
    assert(CommitKernel.reclaim(
      new org.apache.hadoop.fs.Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$t/_stage"), 3600_000L).isEmpty)
    other.listFiles().foreach(_.delete()); other.delete()
    CommitKernel.stage(rows(Seq(2L)), t, "_stage", "spec: stage")(_ => "g.parquet")
    assert(!new File(s"$t/_stage").exists())
  }

  test("an empty frame into each engine's write or stream body leaves no file and no stage dir") {
    def unchanged(name: String, path: String)(body: => Unit): Unit = {
      val before = files(path)
      body
      assert(files(path) == before, s"$name: files changed")
      assert(stageDirs(path).isEmpty, s"$name: stage dirs left: ${stageDirs(path)}")
    }
    val d = tmp("delta"); DeltaInterop.write(rows(Seq(1L)), d)
    unchanged("delta", d)(DeltaInterop.streamBatchWriter(d, Nil, "app")(rows(Nil), 1L))
    val i = tmp("iceberg"); IcebergInterop.write(rows(Seq(1L)), i)
    unchanged("iceberg", i)(
      TableSink.streamBatch(SinkConfig("iceberg", i), "app")(rows(Nil), 1L))
    val hudi = SinkConfig("hudi", tmp("hudi"), upsertKey = Some("id"), precombine = Some("v"))
    TableSink.writeBatch(rows(Seq(1L)), hudi)
    unchanged("hudi", hudi.path)(TableSink.streamBatch(hudi, "app")(rows(Nil), 1L))
    val m = tmp("hudi-mor"); HudiMor.upsert(rows(Seq(1L)), m, "id", "v")
    unchanged("hudi mor", m)(HudiMor.streamBatchUpserter(m, "id", "v")(rows(Nil), 1L))
    val g = tmp("graft"); VersionedTable.write(spark, g, rows(Seq(1L)), Nil)
    unchanged("graft mor", g)(VersionedTable.upsertMOR(spark, g, rows(Nil), "id", "v", Nil,
      txn = Some(("app", 1L))))
    unchanged("graft upsert", g)(VersionedTable.upsert(spark, g, rows(Nil), "id", "v", Nil,
      txn = Some(("app", 2L))))
    assert(VersionedTable.latestVersion(spark, g) == 1L)
  }

  test("VersionedTable.write of an empty frame: a version with no rows, or a refusal when partitioned") {
    val t = tmp("vt-empty")
    assert(VersionedTable.write(spark, t, rows(Nil), Nil) == 1L)
    assert(VersionedTable.latestVersion(spark, t) == 1L)
    val back = VersionedTable.read(spark, t)
    assert(back.count() == 0L)
    assert(back.schema.fieldNames.toSeq == Seq("id", "cat", "v"))
    assert(VersionedTable.write(spark, t, rows(Nil), Nil, mode = "append") == 2L)
    assert(VersionedTable.read(spark, t).count() == 0L)
    val p = tmp("vt-empty-p")
    val e = intercept[IllegalArgumentException](
      VersionedTable.write(spark, p, rows(Nil), Seq("cat")))
    assert(e.getMessage.contains("write produced no data files"))
    assert(VersionedTable.latestVersion(spark, p) == 0L)
    assert(stageDirs(p).isEmpty)
  }

  test("of 8 writers publishing one name exactly one wins, and no temp file is left") {
    val root = tmp("publish")
    val dst = new org.apache.hadoop.fs.Path(s"$root/_log/v1.json")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val won = try {
      val attempts = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { CommitKernel.publish(fs, dst, s"writer $i".getBytes("UTF-8")); true }
            catch { case _: java.util.ConcurrentModificationException => false }
          }
        })
      }
      start.countDown()
      attempts.map(_.get()).zipWithIndex.collect { case (true, i) => i }
    } finally pool.shutdown()
    assert(won.size == 1, s"winners: $won")
    assert(new String(Files.readAllBytes(new File(s"$root/_log/v1.json").toPath), "UTF-8") ==
      s"writer ${won.head}")
    assert(files(root) == Set("_log/v1.json"))
  }

  test("replace swaps a pointer file's content in place") {
    val root = tmp("replace")
    val dst = new org.apache.hadoop.fs.Path(s"$root/hint")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitKernel.replace(fs, dst, "1".getBytes("UTF-8"))
    CommitKernel.replace(fs, dst, "2".getBytes("UTF-8"))
    assert(new String(Files.readAllBytes(new File(s"$root/hint").toPath), "UTF-8") == "2")
    assert(files(root) == Set("hint"))
  }
}
