package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Op

/** Metadata-only CONVERSION between the lakehouse wire formats — the
  * migration path every production lakehouse eventually needs (Iceberg
  * ships it as the `snapshot`/`migrate` procedures, Delta as `CONVERT
  * TO DELTA`): adopt an existing table's DATA FILES into the other
  * format's metadata without copying a byte. The donor's parquet stays
  * where it is; the target format gets a fresh metadata tree whose
  * first commit references those files by absolute path, with column
  * stats recomputed in one distributed pass so file skipping works in
  * the target immediately.
  *
  * Ownership contract (both directions): the DONOR format keeps
  * owning the shared files' lifecycle. The converted table is fully
  * live in the target format — reads, appends, DML, compaction all
  * work — but target-side physical cleanup can never reclaim donor
  * files ([[DeltaInterop.vacuum]] walks only its own tree; Iceberg
  * snapshot expiry deletes only files its own metadata introduced).
  * Running destructive maintenance on the DONOR after converting
  * breaks the target, exactly as it does for the real procedures —
  * convert-then-retire is the supported pattern.
  *
  * Scale: conversion cost is one metadata write + one stats pass over
  * the adopted files (a scan, embarrassingly parallel); it never
  * shuffles and never rewrites data. A 100 TB migration is minutes of
  * stats scan, not a copy.
  *
  * The reference runs Delta, Hudi and Iceberg sinks side by side over
  * the same feed (`jobs/S3ToDeltaStreamJob.scala`,
  * `S3ToIcebergStreamJob.scala`); conversion is how such a deployment
  * consolidates formats without a historical backfill.
  */
object FormatConvert {

  /** CONVERT TO ICEBERG: adopt a Delta table's current snapshot as a
    * fresh Iceberg table. Unpartitioned Delta tables only — Delta's
    * hive layout physically STRIPS partition columns from the data
    * files, so a metadata-only adoption cannot produce self-contained
    * Iceberg data files for a partitioned source (rewrite through
    * [[IcebergInterop.write]] instead; refusing loudly beats silently
    * reading nulls).
    */
  def deltaToIceberg(spark: SparkSession, deltaPath: String,
      icebergPath: String): Long = {
    val snap = DeltaInterop.snapshot(spark, deltaPath)
    require(snap.metaData.configuration
        .getOrElse("delta.columnMapping.mode", "none") == "none",
      "deltaToIceberg: source uses column mapping — its parquet carries " +
        "physical column names the adopted Iceberg schema would not resolve")
    require(snap.adds.forall(_.deletionVector.isEmpty),
      "deltaToIceberg: source carries deletion vectors — a metadata-only " +
        "adoption of the parquet files would resurrect soft-deleted rows; " +
        "rewrite (DeltaInterop.compact collapses DVs) and re-convert")
    require(snap.metaData.partitionColumns.isEmpty,
      "deltaToIceberg: partitioned Delta sources are not metadata-convertible " +
        "(hive layout strips partition columns from data files) — rewrite via " +
        "IcebergInterop.write instead")
    IcebergInterop.commitExternal(spark, icebergPath, snap.schema,
      snap.adds.map(a => (DeltaInterop.resolveAddPath(deltaPath, a.path), a.size)))
  }

  /** CONVERT TO DELTA: adopt an Iceberg table's current snapshot as a
    * fresh Delta table. Identity-partitioned Iceberg sources convert
    * fine — graft's Iceberg writer keeps identity source columns
    * physically in the data files (the real-writer layout), so every
    * adopted file is self-contained; the converted Delta table is
    * unpartitioned (partition-pruning re-derives from `add.stats`,
    * which carry the identity columns' min=max bounds).
    */
  def icebergToDelta(spark: SparkSession, icebergPath: String,
      deltaPath: String): Long = {
    val (schema, refs) = IcebergInterop.currentDataFiles(spark, icebergPath)
    DeltaInterop.commitExternal(spark, deltaPath, schema,
      refs.map(r => (r.path, r.bytes)))
  }

  /** CONVERT a Hudi COW table TO DELTA: adopt the current snapshot's
    * live base files (latest committed slice per file group). The
    * `_hoodie_*` meta columns stay physically in the donor files but
    * the Delta schema omits them — by-name parquet projection never
    * reads them again. Partitioned Hudi sources convert fine (Hudi
    * writes partition columns INTO the data files); the partition
    * column rides along as a plain column whose recomputed per-file
    * stats prune exactly where dir pruning did.
    */
  def hudiToDelta(spark: SparkSession, hudiPath: String,
      deltaPath: String): Long = {
    val (schema, files) = HudiInterop.currentDataFiles(spark, hudiPath)
    DeltaInterop.commitExternal(spark, deltaPath, schema, files)
  }

  /** CONVERT a Hudi COW table TO ICEBERG — same adoption contract as
    * [[hudiToDelta]]; per-file record counts (Iceberg manifests carry
    * them) come from the adopted files' footers, read once with their
    * column stats.
    */
  def hudiToIceberg(spark: SparkSession, hudiPath: String,
      icebergPath: String): Long = {
    val (schema, files) = HudiInterop.currentDataFiles(spark, hudiPath)
    IcebergInterop.commitExternal(spark, icebergPath, schema, files)
  }

  /** Driver-checked CONVERT TO ICEBERG round trip: orders land as a
    * Delta table, convert metadata-only, then a derived slice APPENDS
    * through the Iceberg writer — proving the converted table is live
    * in the target format, not a frozen export — and the read-back
    * aggregate covers both the adopted and the native files. The
    * DuckDB oracle replays the same algebra over raw orders parquet;
    * the two metadata layers must be invisible to results.
    */
  def convertToIcebergRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft-convert-ice")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    DeltaInterop.write(orders, s"$base/orders_delta")
    deltaToIceberg(spark, s"$base/orders_delta", s"$base/orders_iceberg")
    IcebergInterop.write(
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      s"$base/orders_iceberg")
    IcebergInterop.read(spark, s"$base/orders_iceberg")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked CONVERT TO DELTA round trip — the mirror image:
    * orders land as an Iceberg table, convert metadata-only, a derived
    * slice appends through the Delta writer, and the read-back
    * aggregate covers adopted + native files through the Delta log.
    */
  def convertToDeltaRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft-convert-delta")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    IcebergInterop.write(orders, s"$base/orders_iceberg")
    icebergToDelta(spark, s"$base/orders_iceberg", s"$base/orders_delta")
    DeltaInterop.write(
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      s"$base/orders_delta")
    DeltaInterop.read(spark, s"$base/orders_delta")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Driver-checked CONVERT FROM HUDI round trip: orders land as a
    * partitioned Hudi COW table, an upsert doubles the %10 keys (so
    * conversion must resolve LATEST slices, not all files), convert
    * metadata-only to Delta, then a derived slice appends through the
    * Delta writer — adopted + native files in one log. The oracle
    * replays the same algebra over raw orders; Hudi meta columns and
    * both metadata layers must be invisible to results.
    */
  def convertFromHudiRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("graft-convert-hudi")
    val orders = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
    HudiInterop.insert(orders, s"$base/orders_hudi", recordKey = "o_orderkey",
      precombine = "o_orderdate", partitionBy = Seq("o_orderstatus"))
    HudiInterop.upsert(
      orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      s"$base/orders_hudi", recordKey = "o_orderkey",
      precombine = "o_orderdate", partitionBy = Seq("o_orderstatus"))
    hudiToDelta(spark, s"$base/orders_hudi", s"$base/orders_delta")
    DeltaInterop.write(
      orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3),
      s"$base/orders_delta")
    DeltaInterop.read(spark, s"$base/orders_delta")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double")
          .as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val ConvertOracle = """
    WITH staged AS (
      SELECT o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice * 2 FROM orders
      WHERE o_orderkey % 10 = 0)
    SELECT o_orderstatus, count(*) AS n_rows,
           cast(sum(cast(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM staged GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  val ops: Seq[Op] = Seq(
    Op("q_convert_to_iceberg", convertToIcebergRoundTrip, Some(ConvertOracle)),
    Op("q_convert_to_delta", convertToDeltaRoundTrip, Some(ConvertOracle)),
    Op("q_convert_from_hudi", convertFromHudiRoundTrip, Some("""
      WITH hudi_latest AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders),
      appended AS (
        SELECT o_orderstatus, p FROM hudi_latest
        UNION ALL
        SELECT o_orderstatus, o_totalprice * 3 FROM orders
        WHERE o_orderkey % 7 = 0)
      SELECT o_orderstatus, count(*) AS n_rows,
             cast(sum(cast(p AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      FROM appended GROUP BY o_orderstatus ORDER BY o_orderstatus""")))
}
