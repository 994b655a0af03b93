package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.TableSink.SinkConfig

/** Job budgets of the streaming sink bodies: Spark jobs started per
  * body call, counted by a [[graft.QueryTrace]]. At micro-batch sizes the
  * fixed cost per job is the commit's cost, so a probe action that
  * creeps back in shows here before it shows in a benchmark.
  */
class JobBudgetSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-budget-$tag").toFile.getAbsolutePath + "/t"

  private def jobsOf(body: => Unit): Int = {
    val trace = graft.QueryTrace.attach(spark)
    try { trace.reset(); body; trace.snapshot().jobs.size }
    finally trace.close()
  }

  private def batch(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, if (i % 2 == 0) "a" else "b", i * 10.0)).toDF("id", "cat", "v")

  private def empty: DataFrame = batch(Nil)

  /** Commits so far: Delta log versions or Iceberg snapshots. */
  private def commits(format: String, path: String): Long = format match {
    case "delta" => DeltaInterop.latestVersion(spark, path) + 1
    case "iceberg" => IcebergInterop.snapshotChain(spark, path).map(_.size.toLong).getOrElse(0L)
  }

  Seq("delta", "iceberg").foreach { format =>
    test(s"$format append body: one job per non-empty batch, at most one and no commit when empty") {
      val path = tmp(s"$format-append")
      val body = TableSink.streamBatch(
        SinkConfig(format, path, partitionBy = Seq("cat")), appId = s"budget-$format")
      val first = jobsOf(body(empty, 0L))
      assert(first <= 1, s"empty first batch ran $first jobs")
      assert(commits(format, path) == 0, "an empty first batch must not create the table")
      assert(jobsOf(body(batch(Seq(1L, 2L, 3L)), 1L)) == 1)
      assert(jobsOf(body(batch(Seq(4L, 5L)), 2L)) == 1)
      assert(commits(format, path) == 2)
      val idle = jobsOf(body(empty, 3L))
      assert(idle <= 1, s"empty batch ran $idle jobs")
      assert(commits(format, path) == 2, "an empty batch must add no log version or snapshot")
      val rows = TableSink.readBatch(spark, format, path).select("id").as[Long].collect()
      assert(rows.sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("hudi copy-on-write body: upsert into an existing table runs 2 jobs, empty batches commit nothing") {
    val path = tmp("hudi")
    val body = TableSink.streamBatch(SinkConfig("hudi", path, partitionBy = Seq("cat"),
      upsertKey = Some("id"), precombine = Some("v")), appId = "budget-hudi")
    // bootstrap: the one explicit emptiness check left
    body(empty, 0L)
    assert(HudiInterop.completedInstants(spark, path).isEmpty,
      "an empty first batch must not create the table")
    body(batch(Seq(1L, 2L, 3L)), 1L)
    // routing-pair probe + staging write; no emptiness or schema job
    assert(jobsOf(body(batch(Seq(3L, 4L)), 2L)) == 2)
    assert(HudiInterop.completedInstants(spark, path).size == 2)
    val idle = jobsOf(body(empty, 3L))
    assert(idle <= 1, s"empty batch ran $idle jobs")
    assert(HudiInterop.completedInstants(spark, path).size == 2,
      "an empty batch must add no instant")
    val rows = HudiInterop.read(spark, path).select("id").as[Long].collect()
    assert(rows.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  Seq("delta", "iceberg").foreach { format =>
    test(s"$format merge body runs no standalone emptiness job") {
      val clauses = Seq(
        VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
        VersionedTable.NotMatchedInsert())
      def table(tag: String): String = {
        val p = tmp(s"$format-merge-$tag")
        TableSink.writeBatch(batch(Seq(1L, 2L, 3L)), SinkConfig(format, p, partitionBy = Seq("cat")))
        p
      }
      def merge(p: String, src: DataFrame): Unit = format match {
        case "delta" => DeltaInterop.merge(spark, p, src, Seq("id"), clauses); ()
        case "iceberg" => IcebergInterop.merge(spark, p, src, Seq("id"), clauses); ()
      }
      val bodyPath = table("body")
      val directPath = table("direct")
      val body = format match {
        case "delta" => DeltaInterop.streamBatchMerger(bodyPath, Seq("id"), clauses, "budget-m")
        case "iceberg" => IcebergInterop.streamBatchMerger(bodyPath, Seq("id"), clauses, "budget-m")
      }
      val src = batch(Seq(2L, 4L)).withColumn("v", col("v") + 1.0)
      val viaBody = jobsOf(body(src, 0L))
      val direct = jobsOf(graft.GraftSession.withMicroBatchDml(src)(merge(directPath, src)))
      assert(viaBody == direct, s"body ran $viaBody jobs, the merge alone $direct")
      // an empty batch stops at the key envelope: one job, no commit
      val before = commits(format, bodyPath)
      val idle = jobsOf(body(empty, 1L))
      assert(idle <= 1, s"empty batch ran $idle jobs")
      assert(commits(format, bodyPath) == before)
    }
  }

  test("graft merge body runs exactly the jobs of a direct merge; an empty batch publishes nothing") {
    val clauses = Seq(
      VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
      VersionedTable.NotMatchedInsert())
    def table(tag: String): String = {
      val p = tmp(s"graft-merge-$tag")
      VersionedTable.write(spark, p, batch(Seq(1L, 2L, 3L)), Seq("cat"))
      p
    }
    val bodyPath = table("body")
    val directPath = table("direct")
    val body = VersionedTable.streamBatchMerger(bodyPath, "id", Seq("cat"), clauses, "budget-m")
    // a shuffled source, like a stream's batch: an emptiness action on it
    // is a job (on a local relation it would run on the driver)
    val src = batch(Seq(2L, 4L)).withColumn("v", col("v") + 1.0).repartition(2)
    val viaBody = jobsOf(body(src, 0L))
    val direct = jobsOf(graft.GraftSession.withMicroBatchDml(src)(
      VersionedTable.merge(spark, directPath, src, "id", Seq("cat"), clauses)))
    assert(viaBody == direct, s"body ran $viaBody jobs, the merge alone $direct")
    // an empty batch stops at the partition probe: one job, no commit
    val before = VersionedTable.latestVersion(spark, bodyPath)
    val idle = jobsOf(body(empty.repartition(2), 1L))
    assert(idle <= 1, s"empty batch ran $idle jobs")
    assert(VersionedTable.latestVersion(spark, bodyPath) == before)
  }

  test("batch DML job budgets on a small partitioned table") {
    val clauses = Seq(
      VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
      VersionedTable.NotMatchedInsert())
    val src = batch(Seq(2L, 7L)).withColumn("v", col("v") + 1.0)
    def table(format: String): String = {
      val p = tmp(s"dml-$format")
      format match {
        case "graft" => VersionedTable.write(spark, p, batch(1L to 6L), Seq("cat"))
        case f => TableSink.writeBatch(batch(1L to 6L), SinkConfig(f, p, partitionBy = Seq("cat")))
      }
      p
    }
    def jobs(format: String, prep: String => Unit = _ => ())(op: String => Unit): Int = {
      val p = table(format)
      prep(p)
      jobsOf(op(p))
    }
    val more = batch(Seq(7L, 8L))
    def append(p: String): Unit = { IcebergInterop.write(more, p, partitionBy = Seq("cat")); () }
    val measured = Seq(
      "VersionedTable.delete" -> jobs("graft")(p =>
        VersionedTable.delete(spark, p, col("id") === 2L, Seq("cat"))),
      "VersionedTable.update" -> jobs("graft")(p =>
        VersionedTable.update(spark, p, Map("v" -> lit(0.0)), col("id") === 2L, Seq("cat"))),
      "DeltaInterop.merge" -> jobs("delta")(p =>
        DeltaInterop.merge(spark, p, src, Seq("id"), clauses)),
      "DeltaInterop.deleteDv" -> jobs("delta")(p =>
        DeltaInterop.deleteDv(spark, p, col("id") === 2L)),
      "DeltaInterop.updateDv" -> jobs("delta")(p =>
        DeltaInterop.updateDv(spark, p, col("id") === 2L, Map("v" -> lit(0.0)))),
      "IcebergInterop.deletePositions" -> jobs("iceberg")(p =>
        IcebergInterop.deletePositions(spark, p, col("id") === 2L)),
      "IcebergInterop.merge" -> jobs("iceberg")(p =>
        IcebergInterop.merge(spark, p, src, Seq("id"), clauses)),
      "IcebergInterop.merge (insert-only)" -> jobs("iceberg")(p =>
        IcebergInterop.merge(spark, p, src, Seq("id"), Seq(VersionedTable.NotMatchedInsert()))),
      "IcebergInterop.write" -> jobs("iceberg")(append),
      "IcebergInterop.deleteEquality" -> jobs("iceberg")(p =>
        IcebergInterop.deleteEquality(spark, p, Seq(2L).toDF("id"))),
      "IcebergInterop.compact" -> jobs("iceberg", append)(p =>
        IcebergInterop.compact(spark, p)),
      "IcebergInterop.rewriteManifests" -> jobs("iceberg", append)(p =>
        IcebergInterop.rewriteManifests(spark, p)),
      "IcebergInterop.writeToBranch" -> jobs("iceberg", p =>
        IcebergInterop.createBranch(spark, p, "audit"))(p =>
        IcebergInterop.writeToBranch(more, p, "audit")))
    // measured before the file-identity refactor (the Iceberg write, delete,
    // maintenance and branch rows before the one-commit refactor, the
    // insert-only merge before source-decided merges); the counts must
    // not move
    val budget = Seq(
      "VersionedTable.delete" -> 3,
      "VersionedTable.update" -> 3,
      "DeltaInterop.merge" -> 11,
      "DeltaInterop.deleteDv" -> 5,
      "DeltaInterop.updateDv" -> 8,
      "IcebergInterop.deletePositions" -> 1,
      "IcebergInterop.merge" -> 10,
      "IcebergInterop.merge (insert-only)" -> 9,
      "IcebergInterop.write" -> 2,
      "IcebergInterop.deleteEquality" -> 1,
      "IcebergInterop.compact" -> 2,
      "IcebergInterop.rewriteManifests" -> 0,
      "IcebergInterop.writeToBranch" -> 2)
    assert(measured == budget)
  }

  /** CDC-shaped clauses: delete on `D`, else upsert every column. */
  private val cdc = Seq(
    VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
    VersionedTable.MatchedUpdate(Map("cat" -> col("s.cat"), "v" -> col("s.v")),
      Some(col("s.op") =!= "D")),
    VersionedTable.NotMatchedInsert(
      values = Some(Map("id" -> col("s.id"), "cat" -> col("s.cat"), "v" -> col("s.v"))),
      cond = Some(col("s.op") =!= "D")))

  private def cdcBatch(upserts: Seq[Long], deletes: Seq[Long]): DataFrame =
    batch(upserts).withColumn("op", lit("U"))
      .unionByName(batch(deletes).withColumn("op", lit("D")))

  test("a source-decided iceberg merge stages from its source alone: 3 jobs in a stream body") {
    def table(tag: String): String = {
      val p = tmp(s"iceberg-decided-$tag")
      TableSink.writeBatch(batch(1L to 6L), SinkConfig("iceberg", p, partitionBy = Seq("cat")))
      p
    }
    val src = cdcBatch(Seq(2L, 7L), Seq(3L, 9L))
    val bodyPath = table("body")
    val body = IcebergInterop.streamBatchMerger(bodyPath, Seq("id"), cdc, "budget-cdc")
    // envelope and rule in one aggregate, then the appends and the delete
    // keys; the second batch's table already carries a delete file, which
    // only a read of the table would pay for
    assert(jobsOf(body(src, 0L)) == 3)
    assert(jobsOf(body(cdcBatch(Seq(4L, 8L), Seq(2L)), 1L)) == 3)
    val idle = jobsOf(body(empty.withColumn("op", lit("U")), 2L))
    assert(idle <= 1, s"empty batch ran $idle jobs")
    val batchPath = table("batch")
    val batchJobs = jobsOf(IcebergInterop.merge(spark, batchPath, src, Seq("id"), cdc))
    assert(batchJobs == 7, s"batch DML ran $batchJobs jobs")
    assert(IcebergInterop.read(spark, bodyPath).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 5L, 6L, 7L, 8L))
    assert(IcebergInterop.read(spark, batchPath).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 6L, 7L))
  }

  test("iceberg reads, merges and delete collapses run as many jobs over 1 equality-delete file as over 3") {
    def table(deleteFiles: Int): String = {
      val p = tmp(s"iceberg-eq-$deleteFiles")
      TableSink.writeBatch(batch(1L to 12L), SinkConfig("iceberg", p, partitionBy = Seq("cat")))
      (1 to deleteFiles).foreach(i => IcebergInterop.deleteEquality(spark, p, Seq(i.toLong).toDF("id")))
      p
    }
    val clauses = Seq(
      VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
      VersionedTable.NotMatchedInsert())
    val src = batch(Seq(5L, 20L)).withColumn("v", col("v") + 1.0)
    def measure(deleteFiles: Int): Seq[(String, Int)] = {
      val Seq(read, merged, collapsed) = Seq.fill(3)(table(deleteFiles))
      Seq(
        "read" -> jobsOf(IcebergInterop.read(spark, read).collect()),
        "merge" -> jobsOf(IcebergInterop.merge(spark, merged, src, Seq("id"), clauses)),
        "collapseDeletes" -> jobsOf(IcebergInterop.collapseDeletes(spark, collapsed)))
    }
    val one = measure(1)
    val three = measure(3)
    assert(three == one, s"1 file: $one, 3 files: $three")
    assert(one == Seq("read" -> 2, "merge" -> 11, "collapseDeletes" -> 3), one)
  }
}
