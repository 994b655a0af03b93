package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}

/** One-job driver probes for the commit machinery.
  *
  * The lakehouse writers repeatedly need the DISTINCT values of a tiny
  * projection (touched files, affected partition dirs, routing pairs) on
  * the driver. `.distinct().collect()` pays a full shuffle for that —
  * and under AQE the shuffle materializes as its own job, so every probe
  * costs two jobs of pure fixed latency. Per-partition local dedup +
  * driver dedup answers the same question in ONE shuffle-free job.
  *
  * Memory contract: each task accumulates into a set and STOPS CONSUMING
  * once the set exceeds `cap` — one partition alone then already proves
  * "> cap distinct values", so per-task memory is O(cap), never O(rows).
  * Below the cap the result is exact and complete. Callers with a
  * refusal ceiling pass it as `cap` and check `length > cap`. `cap` is
  * required: every caller states its bound (a touched-file probe can
  * never exceed its candidate count; an unbounded caller says
  * `Int.MaxValue` and why), and a non-empty input never yields an empty
  * result under any cap, so a probe doubles as the emptiness answer.
  */
private[graft] object LocalProbe {

  def distinctRows(df: DataFrame, cap: Int): Array[Row] = {
    val perPartition = df.rdd.mapPartitions { it =>
      val seen = new java.util.LinkedHashSet[Row]()
      while (it.hasNext && seen.size <= cap) { seen.add(it.next()); () }
      import scala.jdk.CollectionConverters._
      seen.iterator.asScala
    }
    perPartition.collect().distinct
  }

  /** Distinct values of a single string column (nulls kept as null). */
  def distinctStrings(df: DataFrame, cap: Int): Array[String] =
    distinctRows(df, cap).map(r => if (r.isNullAt(0)) null else r.getString(0))
}
