package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dump-schema tripwire for the driver's correctness gate.
  *
  * Round-7 lesson (the output-side twin of SchemaProbeSpec): a session conf
  * change (`outputTimestampType=TIMESTAMP_MICROS`) silently made Verify's
  * parquet dumps carry tz-adjusted timestamps while the DuckDB oracle stays
  * naive — six green queries went red at the driver's strict schema+hash
  * gate, and fourteen local Verify runs never noticed because the local
  * compare tolerated the drift. This spec writes a real dump through
  * [[Verify.stripTz]] (the exact code Verify.main runs) and asserts the
  * parquet logical type that comes back is NTZ — so the next session-conf
  * change that perturbs dump schemas is ONE named failure here, before the
  * driver sees it.
  */
class VerifyDumpSpec extends SparkSpec {

  test("Verify dumps carry no tz-adjusted timestamp columns") {
    val s = spark; import s.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
      .toDF("id", "raw_ts")
      .withColumn("raw_ts", col("raw_ts").cast(TimestampType))
    val dir = Files.createTempDirectory("graft-verify-dump").toFile.getAbsolutePath
    Verify.stripTz(df).coalesce(1).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val tzAdjusted = back.schema.fields.collect {
      case f if f.dataType == TimestampType => f.name
    }
    assert(tzAdjusted.isEmpty,
      s"DUMP SCHEMA DRIFT: columns ${tzAdjusted.mkString(",")} read back as " +
        "session-zoned TimestampType, i.e. the dump's parquet footer says " +
        "isAdjustedToUTC=true — the DuckDB oracle emits naive timestamps, so " +
        "the driver's schema+hash gate will fail every query projecting one. " +
        "Fix Verify.stripTz / the session outputTimestampType interplay.")
    // and the wall-clock value survives the cast unchanged (session is UTC)
    val v = back.select(date_format(col("raw_ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head()
    assert(v == "2024-01-02 03:04:05", s"stripTz changed the value: $v")
  }

  test("every registered query dumps through stripTz without tz-adjusted output") {
    // cheap static check on the flagship six that burned round 7: run them
    // at sf0.001 and assert stripTz leaves no TimestampType in the schema
    val six = Seq("q_enrich", "q_json_explode", "q_sessionize",
      "q_session_native", "q_stream_window", "q_stream_window_sliding")
    six.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val out = Verify.stripTz(fn(spark, sf))
        val bad = out.schema.fields.filter(_.dataType == TimestampType)
        assert(bad.isEmpty,
          s"$name: stripTz left session-zoned TimestampType columns " +
            s"${bad.map(_.name).mkString(",")} in the dump schema")
      }
    }
  }

  test("a run filtered to two queries dumps and lists only those two") {
    val two = Seq("q_enrich", "q_sessionize")
    val dir = Files.createTempDirectory("graft-verify-two").toFile.getAbsolutePath
    Verify.dump(spark, sf, dir, two)
    val dumped = new java.io.File(dir).list().filterNot(_ == "oracle_sql.json").toSet
    assert(dumped == two.toSet)
    val oracle = new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "oracle_sql.json")), "UTF-8")
    val listed = SparkEntry.oracleSql.keys.filter(k => oracle.contains("\"" + k + "\": ")).toSet
    assert(listed == two.filter(SparkEntry.oracleSql.contains).toSet)
    assert(listed.nonEmpty)
  }
}
