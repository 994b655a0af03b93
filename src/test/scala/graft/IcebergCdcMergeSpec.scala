package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sinks.{DeltaInterop, IcebergInterop}
import graft.sinks.VersionedTable.{MatchedDelete, MatchedUpdate, MergeClause, NotMatchedInsert}

/** Seeded CDC batches through [[IcebergInterop.merge]], with
  * [[DeltaInterop.merge]] on the same batches as the reference: the two
  * tables hold the same rows after every batch and after the Iceberg
  * deletes collapse. CDC batches with unique keys are source-decided
  * (the Iceberg merge stages them without reading the table); duplicate
  * keys and clauses that read the target take the join path.
  */
class IcebergCdcMergeSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private implicit val fmts: Formats = DefaultFormats

  private type Row = (Option[Long], String, Double)
  private val cats = Seq("a", "b", "c")

  /** CDC clauses: delete on `D`, else upsert every column. */
  private val cdc: Seq[MergeClause] = Seq(
    MatchedDelete(Some(col("s.op") === "D")),
    MatchedUpdate(Map("cat" -> col("s.cat"), "v" -> col("s.v")), Some(col("s.op") =!= "D")),
    NotMatchedInsert(
      values = Some(Map("id" -> col("s.id"), "cat" -> col("s.cat"), "v" -> col("s.v"))),
      cond = Some(col("s.op") =!= "D")))

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-cdc-$tag").toFile.getAbsolutePath + "/t"

  private def frame(rows: Seq[(Option[Long], String, Double, String)]): DataFrame =
    rows.toDF("id", "cat", "v", "op")

  /** An Iceberg and a Delta table, both partitioned by `cat`, over `base`. */
  private def tables(tag: String, base: Seq[Row]): (String, String) = {
    val (ice, delta) = (tmp(s"$tag-iceberg"), tmp(s"$tag-delta"))
    val df = base.toDF("id", "cat", "v")
    IcebergInterop.write(df, ice, partitionBy = Seq("cat"))
    DeltaInterop.write(df, delta, partitionBy = Seq("cat"))
    (ice, delta)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("id", "cat", "v").as[Row].collect().toSeq.sortBy(_.toString)

  private def assertSame(ice: String, delta: String, what: String): Unit =
    assert(rows(IcebergInterop.read(spark, ice)) == rows(DeltaInterop.read(spark, delta)), what)

  private def merge(ice: String, delta: String, batch: DataFrame,
      clauses: Seq[MergeClause] = cdc): Unit = {
    IcebergInterop.merge(spark, ice, batch, Seq("id"), clauses)
    DeltaInterop.merge(spark, delta, batch, Seq("id"), clauses)
    ()
  }

  private def snapshots(ice: String): Seq[Long] =
    IcebergInterop.snapshotChain(spark, ice).getOrElse(Nil)

  /** The summary of the current snapshot. */
  private def summary(ice: String): Map[String, String] =
    IcebergInterop.metadataTable(spark, ice, "snapshots")
      .filter(col("snapshot_id") === snapshots(ice).last)
      .select("summary").as[Map[String, String]].head()

  private def formatVersion(ice: String): Int = {
    val hint = scala.io.Source.fromFile(s"$ice/metadata/version-hint.text").mkString.trim
    (JsonMethods.parse(scala.io.Source.fromFile(s"$ice/metadata/v$hint.metadata.json").mkString) \
      "format-version").extract[Int]
  }

  /** One CDC batch over distinct keys: updates of live keys (a third of
    * them into another partition), inserts of new keys, deletes of live
    * and of absent keys, re-inserts of keys deleted before, and two
    * null-key rows.
    */
  private def cdcBatch(rnd: scala.util.Random, live: Set[Long], deleted: Set[Long],
      fresh: Iterator[Long]): Seq[(Option[Long], String, Double, String)] = {
    def cat = cats(rnd.nextInt(cats.size))
    def v = math.round(rnd.nextDouble() * 1000) / 10.0
    val liveKeys = rnd.shuffle(live.toSeq.sorted).take(12)
    val (updated, dropped) = liveKeys.splitAt(8)
    updated.map(k => (Some(k), cat, v, "U")) ++
      dropped.map(k => (Some(k), cat, 0.0, "D")) ++
      Seq.fill(3)((Some(fresh.next()), cat, v, "U")) ++
      Seq((Some(fresh.next() + 100000L), cat, 0.0, "D")) ++
      rnd.shuffle(deleted.toSeq.sorted).take(2).map(k => (Some(k), cat, v, "U")) ++
      Seq((None, cat, v, "U"), (None, cat, v, "D"))
  }

  Seq(15L, 16L).foreach { seed =>
    test(s"CDC batches merge into Iceberg as into Delta (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val base = (1L to 40L).map(i => (Some(i): Option[Long], cats((i % 3).toInt), i * 1.0))
      val (ice, delta) = tables(s"s$seed", base)
      var live = base.flatMap(_._1).toSet
      var deleted = Set.empty[Long]
      val fresh = Iterator.from(1000).map(_.toLong)
      (0 until 5).foreach { b =>
        val batch = cdcBatch(rnd, live, deleted, fresh)
        val before = snapshots(ice).size
        merge(ice, delta, frame(batch))
        assertSame(ice, delta, s"batch $b")
        // source-decided: the delete file names every non-null key the
        // batch acts on, present in the table or not
        assert(snapshots(ice).size == before + 1)
        assert(summary(ice)("added-equality-deletes") == batch.count(_._1.isDefined).toString,
          s"batch $b: ${summary(ice)}")
        val keyed = batch.collect { case (Some(k), _, _, op) => k -> op }
        live = live ++ keyed.collect { case (k, "U") => k } -- keyed.collect { case (k, "D") => k }
        deleted = deleted ++ keyed.collect { case (k, "D") => k } -- live
      }

      // a batch made only of deletes of absent keys: the one metadata
      // difference — Iceberg commits a snapshot whose delete file
      // removes nothing
      val before = snapshots(ice).size
      merge(ice, delta, frame(Seq((Some(900001L), "a", 0.0, "D"), (Some(900002L), "b", 0.0, "D"))))
      assertSame(ice, delta, "absent deletes")
      assert(snapshots(ice).size == before + 1)
      val absent = summary(ice)
      assert(absent("added-equality-deletes") == "2" && !absent.contains("added-data-files"),
        absent)

      // duplicate keys take the join path: a duplicate that matches
      // raises on both sides and commits nothing, one that does not match
      // inserts both rows
      val liveKey = live.min
      val dupLive = frame(Seq((Some(liveKey), "a", 1.0, "U"), (Some(liveKey), "b", 2.0, "U")))
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      Seq[() => Any](
        () => IcebergInterop.merge(spark, ice, dupLive, Seq("id"), cdc),
        () => DeltaInterop.merge(spark, delta, dupLive, Seq("id"), cdc)).foreach { run =>
        val e = intercept[Exception](run())
        assert(msgs(e).exists(_.contains("multiple source rows")), msgs(e).mkString)
      }
      assertSame(ice, delta, "matched duplicate")
      merge(ice, delta, frame(Seq((Some(777777L), "a", 1.0, "U"), (Some(777777L), "c", 2.0, "U"))))
      assertSame(ice, delta, "unmatched duplicate")
      assert(rows(IcebergInterop.read(spark, ice)).count(_._1.contains(777777L)) == 2)

      // an UPDATE that leaves a non-key column unset reads the target:
      // join path, whose delete file names only the matched keys
      val keep = Seq(MatchedUpdate(Map("v" -> col("s.v"))), NotMatchedInsert())
      val twoLive = live.toSeq.sorted.take(2)
      merge(ice, delta, frame(twoLive.map(k => (Some(k), "c", -1.0, "U")) :+
        ((Some(888888L), "b", 8.0, "U"))), keep)
      assertSame(ice, delta, "update of v only")
      assert(summary(ice)("added-equality-deletes") == "2", summary(ice))

      IcebergInterop.collapseDeletes(spark, ice)
      assertSame(ice, delta, "after collapseDeletes")
    }
  }

  test("a source-decided merge reads no data file of the table") {
    val ice = tmp("blind")
    IcebergInterop.write((1L to 6L).map(i => (i, cats((i % 3).toInt), i * 1.0))
      .toDF("id", "cat", "v"), ice, partitionBy = Seq("cat"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // every data file of the table becomes unreadable
    walk(new java.io.File(s"$ice/data")).filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes("UTF-8")))
    val before = snapshots(ice).size
    IcebergInterop.merge(spark, ice, frame(Seq((Some(2L), "b", 2.5, "U"),
      (Some(3L), "a", 0.0, "D"), (Some(7L), "c", 7.0, "U"))), Seq("id"), cdc)
    assert(snapshots(ice).size == before + 1)
    assert(summary(ice)("added-equality-deletes") == "3")
    // the join path reads them, and fails
    intercept[Exception](IcebergInterop.merge(spark, ice, frame(Seq((Some(4L), "a", 1.0, "U"))),
      Seq("id"), Seq(MatchedUpdate(Map("v" -> col("s.v"))))))
  }

  test("an insert-only merge into a v1 table stays a plain v1 append") {
    val base = (1L to 6L).map(i => (Some(i): Option[Long], cats((i % 3).toInt), i * 1.0))
    val (ice, delta) = tables("v1", base)
    assert(formatVersion(ice) == 1)
    merge(ice, delta, frame(Seq((Some(2L), "a", 20.0, "U"), (Some(9L), "b", 90.0, "U"))),
      Seq(NotMatchedInsert()))
    assertSame(ice, delta, "insert-only")
    assert(formatVersion(ice) == 1, "an insert-only merge must not upgrade the format")
    assert(!summary(ice).contains("added-delete-files"), summary(ice))
  }
}
