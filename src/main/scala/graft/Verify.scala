package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Cast every session-zoned TimestampType column to TIMESTAMP_NTZ before
    * dumping. GraftSession pins `outputTimestampType=TIMESTAMP_MICROS`
    * (lakehouse footer stats need it), which makes TimestampType dump as
    * tz-adjusted INT64 (pyarrow: `timestamp[us, tz=UTC]`) while the DuckDB
    * oracle emits naive `timestamp[us]` — a schema+hash mismatch at the
    * driver gate even when every value is identical (cost round 7 six
    * queries). The session is UTC-pinned, so the cast preserves wall-clock
    * values exactly and only drops isAdjustedToUTC from the footer.
    * VerifyDumpSpec tripwires this contract against a real dump.
    */
  private[graft] def stripTz(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          d.withColumn(f.name, d.col(s"`${f.name}`")
            .cast(org.apache.spark.sql.types.TimestampNTZType))
        case _ => d
      }
    }

  /** Dumps the named queries (all when `names` is empty) under `outDir`,
    * with an `oracle_sql.json` that holds the oracle SQL of the same queries.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def chosen(name: String) = names.isEmpty || names.contains(name)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => chosen(q._1)).foreach { case (name, fn) =>
      try stripTz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(q => chosen(q._1))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `Verify <sfDir> <outDir> [query...]`: every registered query, or only the named ones. */
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, names)
    spark.stop()
  }
}
