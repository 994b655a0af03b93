package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LocalProbeSpec extends SparkSpec {
  private val ss = SparkSpec.spark

  test("distinctRows equals distinct().collect() across partitions") {
    val df = ss.range(0, 1000, 1, 7)
      .select((col("id") % 13).as("a"), (col("id") % 4).cast("int").as("b"))
    val got = LocalProbe.distinctRows(df, cap = Int.MaxValue).toSet
    val want = df.distinct().collect().toSet
    assert(got == want)
    assert(got.size == 52) // 13 × 4 — below any cap, exact and complete
  }

  test("distinctStrings dedups and keeps nulls as null") {
    val df = ss.range(0, 100, 1, 3)
      .select(when(col("id") % 10 === 0, lit(null))
        .otherwise(concat(lit("v"), col("id") % 5)).cast("string").as("s"))
    val got = LocalProbe.distinctStrings(df, cap = Int.MaxValue).toSet
    assert(got == Set(null, "v0", "v1", "v2", "v3", "v4"))
  }

  test("cap bounds the per-task set build but still proves > cap") {
    // 100 distinct values over cap=10: each task stops consuming at
    // cap+1 entries (memory O(cap), not O(rows)), and the merged result
    // exceeds the cap — the refusal signal callers check for
    val df = ss.range(0, 100, 1, 4).select(col("id").cast("string").as("s"))
    val got = LocalProbe.distinctStrings(df, cap = 10)
    assert(got.length > 10)
    assert(got.length <= 44) // ≤ (cap+1) per task × 4 tasks
  }
}
