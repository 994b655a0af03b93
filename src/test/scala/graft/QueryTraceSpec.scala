package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{DeltaInterop, HudiInterop, HudiMor, IcebergInterop, VersionedTable}

/** What [[QueryTrace]] attributes: jobs to their `JobLabel`, CPU and
  * driver time to the traced interval, and every commit-path job to a
  * graft label, so that a profile of a merge has no anonymous jobs.
  */
class QueryTraceSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def traced(body: => Unit): QueryTrace.Snapshot = {
    val trace = QueryTrace.attach(spark)
    try { trace.reset(); body; trace.snapshot() }
    finally trace.close()
  }

  test("a two-action query runs two jobs under their two labels") {
    val s = traced {
      JobLabel(spark, "first")(spark.range(0, 1000, 1, 2).filter("id % 7 = 0").collect())
      JobLabel(spark, "second")(spark.range(0, 1000, 1, 2).filter("id % 3 = 0").collect())
    }
    val sum = s.summary
    assert(sum.jobs == 2)
    assert(sum.labels == Map("first" -> 1, "second" -> 1))
    assert(sum.tasks == 4)
    assert(sum.cpuSec > 0)
    assert(sum.driverSec >= 0 && sum.driverSec <= s.wallSec,
      s"driver ${sum.driverSec} s, wall ${s.wallSec} s")
    assert(sum.json.contains(""""labels":{"first":1,"second":1}"""))
  }

  test("every format's merge, SQL MERGE INTO and a MOR stream's first batch run no unlabeled job") {
    val root = Files.createTempDirectory("graft-trace").toFile.getAbsolutePath
    val base = Seq((1L, "a", 1.0, 1L), (2L, "b", 2.0, 1L), (3L, "a", 3.0, 1L))
      .toDF("id", "cat", "v", "ts")
    val src = Seq((2L, "b", 20.0, 2L), (4L, "a", 4.0, 2L)).toDF("id", "cat", "v", "ts")
    val gone = Seq((3L, "a", 0.0, 3L)).toDF("id", "cat", "v", "ts")
    DeltaInterop.write(base, s"$root/delta", partitionBy = Seq("cat"))
    IcebergInterop.write(base, s"$root/iceberg", partitionBy = Seq("cat"))
    HudiInterop.insert(base, s"$root/cow", "id", "ts", Seq("cat"))
    HudiMor.upsert(base, s"$root/mor", "id", "ts", Seq("cat"))
    VersionedTable.write(spark, s"$root/graft", base, Seq("cat"))
    val table = s"graft.trace${System.nanoTime()}.t"
    spark.sql(s"CREATE NAMESPACE ${table.stripSuffix(".t")}")
    spark.sql(s"CREATE TABLE $table (id BIGINT, cat STRING, v DOUBLE, ts BIGINT) PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO $table VALUES (1, 'a', 1.0, 1), (2, 'b', 2.0, 1), (3, 'a', 3.0, 1)")
    src.createOrReplaceTempView("trace_src")
    val clauses = Seq(
      VersionedTable.MatchedUpdate(Map("v" -> col("s.v"), "ts" -> col("s.ts"))),
      VersionedTable.NotMatchedInsert())
    val s = traced {
      DeltaInterop.merge(spark, s"$root/delta", src, Seq("id"), clauses)
      IcebergInterop.merge(spark, s"$root/iceberg", src, Seq("id"), clauses)
      HudiInterop.upsert(src, s"$root/cow", "id", "ts", Seq("cat"))
      HudiMor.upsert(src, s"$root/mor", "id", "ts", Seq("cat"))
      HudiMor.delete(gone.select("id", "cat"), s"$root/mor", "id", Seq("cat"))
      VersionedTable.upsertMOR(spark, s"$root/graft", src, "id", "ts", Seq("cat"))
      VersionedTable.deleteMOR(spark, s"$root/graft", gone, "id", "ts", Seq("cat"))
      spark.sql(s"""MERGE INTO $table t USING trace_src s ON t.id = s.id AND t.cat = s.cat
        WHEN MATCHED THEN UPDATE SET v = s.v, ts = s.ts WHEN NOT MATCHED THEN INSERT *""")
      // a MOR stream body's empty first batch runs its one emptiness check
      // (a local or limit-0 frame would be answered on the driver)
      HudiMor.streamBatchUpserter(s"$root/mor-stream", "id", "ts", Seq("cat"))(
        spark.range(0, 4, 1, 2).filter(col("id") < 0).toDF(), 0L)
    }
    assert(s.jobs.nonEmpty)
    val unlabeled = s.jobs.filter(_.label.isEmpty)
    def stageOf(j: QueryTrace.Job) = s.stages.find(st => j.stageIds.contains(st.id)).fold("?")(_.name)
    assert(unlabeled.isEmpty, s"${unlabeled.size} of ${s.jobs.size} jobs carry no label: " +
      unlabeled.map(stageOf).mkString("; "))
    assert(spark.table(table).count() == 4)
    assert(VersionedTable.read(spark, s"$root/graft").count() == 3)
  }
}
