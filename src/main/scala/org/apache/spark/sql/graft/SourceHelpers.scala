package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}

import graft.sinks.CommitKernel

/** Shared plumbing for the graft V1 streaming sources (CDC + table tail). */
private[graft] object SourceHelpers {

  /** The stream's start version, PERSISTED in the checkpoint on first
    * construction: a "latest at stream start" default is only meaningful
    * at first start — recomputing it on restart would make a replayed
    * getBatch(None, end) see an empty (or wrong) version range and wedge
    * the checkpoint. Same pattern as FileStreamSource's metadata log.
    */
  def persistedStartVersion(spark: SparkSession, metadataPath: String,
      default: => Long): Long = {
    val fs = new org.apache.hadoop.fs.Path(metadataPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(metadataPath, "graft-start-version")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } else {
      val v = default
      // losing the publish race to a concurrent constructor is fine —
      // both computed the value before any offset could be logged
      try CommitKernel.publish(fs, marker,
        v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: java.util.ConcurrentModificationException if fs.exists(marker) => }
      v
    }
  }

  /** Small atomically-replaced marker holding one line of text under the
    * checkpoint — the Iceberg tail's (depth, snapshot-id) head guard.
    */
  def writeMarker(spark: SparkSession, metadataPath: String, name: String,
      value: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(metadataPath, name)
    CommitKernel.replace(
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration), marker,
      value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def readMarker(spark: SparkSession, metadataPath: String,
      name: String): Option[String] = {
    val fs = new org.apache.hadoop.fs.Path(metadataPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(metadataPath, name)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** V1 contract: getBatch must return a STREAMING frame — but version
    * diffs/tails must be PLANNED as batch (tagging their leaves streaming
    * would give joins/unions streaming semantics: null-side rows wait on
    * a watermark that never closes). Plan as an ordinary batch query,
    * expose its RDD behind a streaming-tagged LogicalRDD boundary.
    */
  def asStreamingFrame(spark: SparkSession, batch: DataFrame): DataFrame = {
    val qe = batch.queryExecution
    Dataset.ofRows(spark,
      org.apache.spark.sql.execution.LogicalRDD(
        qe.analyzed.output, qe.toRdd, isStreaming = true)(spark))
  }
}
