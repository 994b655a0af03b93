package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Stats-map keying: stats drive pruning, and a wrong key silently
  * drops matching rows — so the keys must survive basename collisions
  * (hive partition dirs, donor files from arbitrary commits) and the
  * URI-vs-plain-path spelling split between `input_file_name()` and
  * caller paths.
  */
class FileStatsSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  test("collect keys by full path: basename collisions get their own stats") {
    val dir = Files.createTempDirectory("graft-filestats").toFile.getAbsolutePath
    def plant(sub: String, ids: Seq[Long]): String = {
      val tmp = s"$dir/stage-$sub"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(s"$dir/$sub"))
      // force the SAME basename in both dirs — the collision case a
      // hive-partitioned single-task write produces naturally
      val dst = Paths.get(s"$dir/$sub/part-00000-fixed.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    val fa = plant("cat=a", Seq(1L, 2L, 3L))
    val fb = plant("cat=b", Seq(100L, 200L))
    val schema = StructType(Seq(StructField("id", LongType)))
    val stats = FileStats.collect(spark, Seq(fa, fb), schema)
    assert(stats.size == 2, s"one entry per file, got ${stats.keySet}")
    val sa = stats(fa)
    val sb = stats(fb)
    assert(sa.numRecords.contains(3L) && sb.numRecords.contains(2L))
    assert(sa.cols("id").min.contains(1L) && sa.cols("id").max.contains(3L))
    assert(sb.cols("id").min.contains(100L) && sb.cols("id").max.contains(200L))
  }

  test("resolveAddPath keeps scheme and authority of absolute URIs") {
    // the protocol's absolute-URI add form: stripping to the URI path
    // would read /key off the LOCAL filesystem instead of the bucket
    assert(DeltaInterop.resolveAddPath("/tbl", "s3://bucket/dir/x.parquet") ==
      "s3://bucket/dir/x.parquet")
    assert(DeltaInterop.resolveAddPath("/tbl", "s3://bucket/a%20b/x.parquet") ==
      "s3://bucket/a b/x.parquet")
    // local URI forms collapse to plain absolute paths
    assert(DeltaInterop.resolveAddPath("/tbl", "file:///tmp/d/x.parquet") ==
      "/tmp/d/x.parquet")
    // relative adds resolve against the table root, percent-decoded
    assert(DeltaInterop.resolveAddPath("/tbl", "cat=a/part-0.parquet") ==
      "/tbl/cat=a/part-0.parquet")
    assert(DeltaInterop.resolveAddPath("/tbl", "cat%3Da/part-0.parquet") ==
      "/tbl/cat=a/part-0.parquet")
  }

  test("fromFooters equals the distributed scan across the type battery") {
    val spark = ss
    val dir = Files.createTempDirectory("graft-footer-stats").toString
    val schema = StructType(Seq(
      StructField("i8", ByteType), StructField("i16", ShortType),
      StructField("i32", IntegerType), StructField("i64", LongType),
      StructField("f32", FloatType), StructField("f64", DoubleType),
      StructField("s", StringType), StructField("d", DateType),
      StructField("ts", TimestampType),
      StructField("dec_small", DecimalType(9, 2)),   // parquet INT32/64
      StructField("dec_big", DecimalType(38, 6)),    // parquet FIXED/BINARY
      StructField("all_null", StringType),
      StructField("some_null", LongType)))
    val rows = (1 to 500).map { i =>
      org.apache.spark.sql.Row(
        (i % 100).toByte, (i * 3).toShort, i * 7, i.toLong * 1000003L,
        i / 7.0f, i / 13.0d,
        if (i % 11 == 0) null else s"str-${"%04d".format(i)}",
        java.sql.Date.valueOf(s"2024-01-${1 + i % 28}"),
        java.sql.Timestamp.valueOf(s"2024-02-0${1 + i % 9} 03:04:05.12345"),
        BigDecimal(i * 37, 2).bigDecimal,
        BigDecimal(i.toLong * 982451653L, 6).bigDecimal,
        null,
        if (i % 3 == 0) null else i.toLong)
    }
    // two row groups per file: tiny block size forces a mid-file split,
    // exercising the cross-block merge
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size >= 2)
    val scanned = FileStats.collect(spark, files, schema)
    val footers = FileStats.fromFooters(spark, files, schema)
    assert(footers.keySet == scanned.keySet)
    scanned.foreach { case (k, sStat) =>
      val fStat = footers(k)
      assert(fStat.numRecords == sStat.numRecords, s"numRecords of $k")
      sStat.cols.foreach { case (c, sc) =>
        val fc = fStat.cols(c)
        def show(v: Option[Any]) = v.map(x => s"${x.getClass.getSimpleName}:$x")
        assert(show(fc.min) == show(sc.min), s"min of $c in $k")
        assert(show(fc.max) == show(sc.max), s"max of $c in $k")
        assert(fc.nullCount == sc.nullCount, s"nullCount of $c in $k")
        assert(fc.allNull == sc.allNull, s"allNull of $c in $k")
      }
    }
  }

  test("a user cast keeps its file and an exact widening prunes, on Delta and Iceberg") {
    // d = 5.5: cast(d as int) = 5 holds, but d's bounds [5.5, 5.5] say
    // nothing about the cast; i = 7: i > 5L is cast(i as bigint) > 5,
    // and that cast maps every int exactly
    val rows = Seq((1L, 5.5d, 7)).toDF("k", "d", "i")
    val userCast = col("d").cast("int") === 5
    val delta = Files.createTempDirectory("graft-cast-delta").toString + "/t"
    DeltaInterop.write(rows, delta)
    def deltaKept(where: org.apache.spark.sql.Column) =
      DeltaInterop.pruneAdds(spark, DeltaInterop.snapshot(spark, delta), Some(where)).size
    assert(deltaKept(userCast) == 1)
    assert(deltaKept(col("i") > 5L) == 1 && deltaKept(col("i") > 7L) == 0)
    DeltaInterop.update(spark, delta, userCast, Map("k" -> lit(2L)))
    assert(DeltaInterop.read(spark, delta).select("k").as[Long].collect().toSeq == Seq(2L))
    DeltaInterop.delete(spark, delta, userCast)
    assert(DeltaInterop.read(spark, delta).count() == 0)

    val ice = Files.createTempDirectory("graft-cast-iceberg").toString + "/t"
    IcebergInterop.write(rows, ice)
    def iceKept(where: org.apache.spark.sql.Column) =
      IcebergInterop.liveFilesWhere(spark, ice, Some(where)).size
    assert(iceKept(userCast) == 1)
    assert(iceKept(col("i") > 5L) == 1 && iceKept(col("i") > 7L) == 0)
    IcebergInterop.deletePositions(spark, ice, userCast)
    assert(IcebergInterop.read(spark, ice).count() == 0)
  }

  test("seeded differential: the evaluator never drops a file holding a matching row") {
    val rnd = new scala.util.Random(20261019L)
    val two53 = 1L << 53
    val longs = (-2L to 2L).flatMap(o => Seq(two53 + o, -two53 + o)) ++
      Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue)
    val decs = Seq("0.00", "-0.01", "12.34", "12.35", "-99999.99",
      "123456789012345678.91", "123456789012345678.90").map(BigDecimal(_))
    val doubles = Seq(0.0, -0.0, 0.1, 5.5, -1.5, 1e300, two53.toDouble,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
    // UTF-16 and UTF-8 order disagree between supplementary characters
    // and U+E000..U+FFFF
    val strings = Seq("", "a", "ab", "\uE000", "\uFFFD", "\uFF21x",
      "\uD83D\uDE00", "\uD800\uDC00", "a\uD83D\uDE00", "a\uFFFD")
    val ints = (-3 to 3) ++ Seq(Int.MaxValue, Int.MinValue)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def maybe[A](v: => A): Option[A] = if (rnd.nextInt(6) == 0) None else Some(v)
    val nFiles = 40
    val data = (0 until nFiles).flatMap { fid =>
      // each file draws from a slice of every pool, so ranges differ
      def slice[A](xs: Seq[A]): Seq[A] = {
        val from = rnd.nextInt(xs.size)
        xs.slice(from, from + 1 + rnd.nextInt(3))
      }
      val (ls, ds, dbs, ss, is) =
        (slice(longs), slice(decs), slice(doubles), slice(strings), slice(ints))
      Seq.fill(1 + rnd.nextInt(4))((fid, maybe(pick(ls)), maybe(pick(ds)),
        maybe(pick(dbs)), maybe(pick(ss)), maybe(pick(is))))
    }
    val df = data.toDF("fid", "l", "dec", "d", "s", "i")
      .withColumn("dec", col("dec").cast("decimal(20,2)"))
    val dir = Files.createTempDirectory("graft-diff").toString
    df.repartition(col("fid")).write.mode("overwrite").partitionBy("fid").parquet(dir)
    val dataSchema = StructType(df.schema.filter(_.name != "fid"))
    val files = (0 until nFiles).map { fid =>
      fid -> new java.io.File(s"$dir/fid=$fid").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    }
    assert(files.forall(_._2.size == 1), "one file per fid")
    val footers = FileStats.fromFooters(spark, files.map(_._2.head), dataSchema)
    // through the log codec, as every graft and Delta log stores them
    val stats = files.map { case (fid, Seq(f)) =>
      fid -> FileStats.fileStatOf(
        FileStats.statsJson(footers(f), dataSchema.fields.toSeq),
        dataSchema.fields.toSeq)
    }.toMap

    def column(): (org.apache.spark.sql.Column, () => org.apache.spark.sql.Column) =
      rnd.nextInt(11) match {
        case 0 => col("l") -> (() => lit(pick(longs)))
        case 1 => col("l") -> (() => lit(pick(longs).toInt))
        case 2 => col("l").try_cast("double") -> (() => lit(pick(longs).toDouble))
        case 3 => col("dec") -> (() => lit(pick(decs)))
        case 4 => col("dec").try_cast("int") -> (() => lit(pick(decs).toInt))
        case 5 => col("d") -> (() => lit(pick(doubles)))
        case 6 => col("d").try_cast("int") -> (() => lit(pick(ints)))
        case 7 => col("s") -> (() => lit(pick(strings)))
        case 8 => col("i").cast("long") -> (() => lit(pick(longs)))
        case 9 => col("i").cast("double") -> (() => lit(pick(doubles)))
        case _ => col("i") -> (() => lit(pick(ints)))
      }
    def atom(): org.apache.spark.sql.Column = {
      val (c, v) = column()
      rnd.nextInt(9) match {
        case 0 => c === v()
        case 1 => c < v()
        case 2 => c <= v()
        case 3 => c > v()
        case 4 => c >= v()
        case 5 => v() < c
        case 6 => c.isin(Seq.fill(1 + rnd.nextInt(3))(v()): _*)
        case 7 => c.isNull
        case _ => c.isNotNull
      }
    }
    def pred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) atom()
      else if (rnd.nextBoolean()) pred(depth - 1) && pred(depth - 1)
      else pred(depth - 1) || pred(depth - 1)
    val preds = Seq.fill(900)(pred(3))
    // which files hold a row matching each predicate: 200 per job
    val truth = preds.grouped(200).map { ps =>
      df.groupBy("fid").agg(max(when(ps.head, 1).otherwise(0)),
        ps.tail.map(p => max(when(p, 1).otherwise(0))): _*)
        .collect().map(r => r.getInt(0) -> (1 to ps.size).map(r.getInt(_) == 1)).toMap
    }.reduce((a, b) => a.map { case (fid, hits) => fid -> (hits ++ b(fid)) })
    var pruned = 0
    preds.zipWithIndex.foreach { case (p, i) =>
      val cond = FileStats.condition(spark, dataSchema, p)
      (0 until nFiles).foreach { fid =>
        val keep = FileStats.mayMatch(cond, stats(fid))
        assert(keep || !truth(fid)(i), s"file $fid holds a row matching $p but was pruned")
        assert(FileStats.mayMatch(cond, footers(files(fid)._2.head)) || !truth(fid)(i),
          s"footer stats of file $fid prune $p")
        if (!keep) pruned += 1
      }
    }
    assert(pruned > preds.size, s"only $pruned (file, predicate) pairs pruned")
  }
}
