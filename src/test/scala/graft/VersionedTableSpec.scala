package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sinks.{CommitKernel, FileStats, VersionedTable}

class VersionedTableSpec extends SparkSpec {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def table(): String =
    Files.createTempDirectory("graft-vt").toFile.getAbsolutePath + "/t"

  private def df(rows: (Long, String, Long)*) =
    rows.toDF("k", "p", "v")

  /** Files scanned UNDER the MOR collapse window of a merged-read plan. */
  private def windowScanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.collectLeaves().collect {
          case l: LogicalRelation =>
            l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSeq
        }.flatten
    }.flatten
  }

  test("footer-route stats equal the distributed scan route across the type battery") {
    // the log records each file's footer stats from the staging pass;
    // FileStats.collect, a distributed re-scan, is the ground truth it
    // must match through the log's add.stats codec — null counts, row
    // counts, numeric and string min/max, null-only columns, and
    // decimal/float/long widths
    val t = table()
    val rows = Seq(
      (1L, "alpha", 1.5d, Some(3), BigDecimal("12.34")),
      (7L, "omega", -2.25d, None, BigDecimal("-0.01")),
      (-4L, "midst", 0.0d, Some(9), BigDecimal("99999.99")))
      .toDF("k", "s", "d", "oi", "dec")
      .withColumn("allnull", lit(null).cast("string"))
      .withColumn("p", lit("x"))
    val cols = Seq("k", "s", "d", "oi", "dec", "allnull")
    val trace = graft.QueryTrace.attach(spark)
    val labels =
      try {
        trace.reset()
        VersionedTable.write(spark, t, rows.repartition(2), Seq("p"),
          statsCols = cols :+ "p")
        trace.snapshot().summary.labels
      } finally trace.close()
    // a stats column living in the DIRECTORY (partition col) takes its
    // value from the path: the staging write is the only job
    assert(labels.keySet == Set("graft: stage files"), labels)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val logged = spark.sql(s"SELECT file, stats_json FROM graft_files('$t')")
      .as[(String, String)].collect()
    val schema = VersionedTable.tableSchema(spark, t)
    val dataSchema = org.apache.spark.sql.types.StructType(schema.filter(_.name != "p"))
    val scan = FileStats.collect(spark, logged.map(r => s"$t/${r._1}").toSeq, dataSchema)
    assert(logged.length == 2 && scan.size == 2)
    logged.foreach { case (rel, json) =>
      val foot = FileStats.fileStatOf(json, schema.fields.toSeq)
      val truth = scan(s"$t/$rel")
      assert(foot.numRecords == truth.numRecords, s"row count of $rel")
      cols.foreach(c => assert(foot.cols.get(c) == truth.cols.get(c),
        s"footer vs scan stats diverge for $c in $rel"))
      val x = org.apache.spark.unsafe.types.UTF8String.fromString("x")
      assert(foot.cols("p") == FileStats.ColStats(Some(x), Some(x), Some(0L), allNull = false))
    }
  }

  test("stats skip exactly for longs above 2^53: readPruned and DELETE keep the row") {
    // 2^53 + 1 has no double: a bound or literal rounded to a double
    // reads 2^53 and `hi > 2^53` would wrongly prune the file
    val t = table()
    val big = 9007199254740993L
    VersionedTable.write(spark, t, Seq((big, "a", 1L)).toDF("k", "p", "v"), Nil,
      statsCols = Seq("k"))
    val (hit, scanned, total) =
      VersionedTable.readPruned(spark, t, col("k") > 9007199254740992L)
    assert(hit.select("k").as[Long].collect().toSeq == Seq(big) && scanned == 1)
    assert(VersionedTable.readPruned(spark, t, col("k") > big)._2 == 0 && total == 1,
      "a predicate the bound disproves still prunes")
    VersionedTable.delete(spark, t, col("k") > 9007199254740992L, Nil)
    assert(VersionedTable.read(spark, t).count() == 0)
  }

  test("a user cast on a stats column never prunes; an exact widening still does") {
    // cast(d as int) = 5 holds for d = 5.5, though [5.5, 5.5] misses 5
    val t = table()
    VersionedTable.write(spark, t, Seq((1L, 5.5d, 7)).toDF("k", "d", "i"), Nil,
      statsCols = Seq("d", "i"))
    val userCast = col("d").cast("int") === 5
    val (hit, scanned, _) = VersionedTable.readPruned(spark, t, userCast)
    assert(hit.count() == 1 && scanned == 1)
    assert(VersionedTable.readPruned(spark, t, col("i") > 5L)._2 == 1)
    assert(VersionedTable.readPruned(spark, t, col("i") > 7L)._2 == 0,
      "cast(i as bigint) maps every int exactly, so i's bounds prune")
    VersionedTable.update(spark, t, Map("k" -> lit(2L)), userCast, Nil)
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSeq == Seq(2L))
    VersionedTable.delete(spark, t, userCast, Nil)
    assert(VersionedTable.read(spark, t).count() == 0)
  }

  test("a table whose log carries the older stats shape reads and skips soundly") {
    // commits written before the add.stats shape recorded numeric bounds
    // rounded to doubles and string bounds as plain strings
    val t = table()
    val rows = Seq((1L, "a"), (5L, "b"), (10L, "x"), (9007199254740993L, "y"))
      .toDF("k", "s")
    def plant(name: String, part: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$t-stage-$name"
      part.coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(java.nio.file.Paths.get(t))
      Files.move(f.toPath, java.nio.file.Paths.get(s"$t/$name.parquet"))
    }
    plant("a", rows.filter(col("k") <= 5L))
    plant("b", rows.filter(col("k") > 5L))
    val schemaJson = org.json4s.JString(rows.schema.json)
    val commit = s"""{"version":1,"tsMs":0,"op":"overwrite",
      |"adds":["a.parquet","b.parquet"],"removes":[],
      |"schemaJson":${org.json4s.jackson.JsonMethods.compact(schemaJson)},
      |"stats":{
      |"a.parquet":{"rows":2,"minNum":{"k":1.0},"maxNum":{"k":5.0},
      |"minStr":{"s":"a"},"maxStr":{"s":"b"},"nulls":{"k":0,"s":0}},
      |"b.parquet":{"rows":2,"minNum":{"k":10.0},"maxNum":{"k":9.007199254740992E15},
      |"minStr":{"s":"x"},"maxStr":{"s":"y"},"nulls":{"k":0,"s":0}}}}""".stripMargin
    Files.createDirectories(java.nio.file.Paths.get(s"$t/_graft_log"))
    Files.write(java.nio.file.Paths.get(s"$t/_graft_log/v${"%020d".format(1L)}.json"),
      commit.getBytes("UTF-8"))
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSet ==
      Set(1L, 5L, 10L, 9007199254740993L))
    // ranges the old bounds prove still skip
    val (low, lowScanned, _) = VersionedTable.readPruned(spark, t, col("k") > 6L)
    assert(lowScanned == 1 && low.count() == 2)
    assert(VersionedTable.readPruned(spark, t, col("s") === "a")._2 == 1)
    assert(VersionedTable.readPruned(spark, t, col("k").isNull)._2 == 0)
    // a strict predicate whose literal equals a rounded bound keeps the file
    val (edge, edgeScanned, _) =
      VersionedTable.readPruned(spark, t, col("k") > 9007199254740992L)
    assert(edgeScanned == 1 && edge.select("k").as[Long].collect().toSeq ==
      Seq(9007199254740993L))
    assert(VersionedTable.readPruned(spark, t, col("k") < 1L)._2 == 1,
      "a lower bound equal to the literal keeps its file too")
    // graft_files shows the older entries in the add.stats shape
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val shown = spark.sql(s"SELECT stats_json FROM graft_files('$t')").as[String].collect()
    assert(shown.forall(j => FileStats.fileStatOf(j, rows.schema.fields.toSeq)
      .numRecords.contains(2L)), shown.mkString("\n"))
  }

  test("write/append/upsert build a version history; every snapshot stays readable") {
    val t = table()
    val v1 = VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 1L)), Seq("p"))
    val v2 = VersionedTable.write(spark, t, df((3L, "a", 1L)), Seq("p"), mode = "append")
    val v3 = VersionedTable.upsert(spark, t,
      df((1L, "a", 2L)), key = "k", precombine = "v", partitionCols = Seq("p"))
    assert((v1, v2, v3) == (1L, 2L, 3L))
    assert(VersionedTable.latestVersion(spark, t) == 3L)

    def snap(v: Long) = VersionedTable.read(spark, t, asOfVersion = Some(v))
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(snap(1) == Set((1L, 1L), (2L, 1L)))
    assert(snap(2) == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    assert(snap(3) == Set((1L, 2L), (2L, 1L), (3L, 1L)))
    // latest == v3
    assert(VersionedTable.read(spark, t).select("k", "v")
      .as[(Long, Long)].collect().toSet == snap(3))

    val hist = VersionedTable.history(spark, t)
      .select("version", "op").as[(Long, String)].collect().toSet
    assert(hist == Set((1L, "overwrite"), (2L, "append"), (3L, "upsert")))
  }

  test("upsert shares untouched partitions' files across versions (COW, no rewrite)") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 1L)), Seq("p"))
    VersionedTable.upsert(spark, t, df((1L, "a", 2L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val f1 = VersionedTable.read(spark, t, asOfVersion = Some(1)).inputFiles.toSet
    val f2 = VersionedTable.read(spark, t).inputFiles.toSet
    val bFiles1 = f1.filter(_.contains("p=b/"))
    assert(bFiles1.nonEmpty && bFiles1.subsetOf(f2),
      "partition b untouched by the upsert must keep its exact files")
    assert(f1.filter(_.contains("p=a/")).intersect(f2.filter(_.contains("p=a/"))).isEmpty,
      "partition a was rewritten — snapshots must not share its files")
  }

  test("upsert with an empty update set is a no-op, never a commit or an error") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 1L)), Seq("p"))
    val latest = VersionedTable.latestVersion(spark, t)
    // emptiness is answered by the affected-partition probe the upsert
    // runs anyway — the streaming writer relies on this no-op (it runs
    // no separate isEmpty action per micro-batch)
    val v = VersionedTable.upsert(spark, t, df().filter(lit(false)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(v == latest, "empty upsert must return the current version")
    assert(VersionedTable.latestVersion(spark, t) == latest, "no commit may land")
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("overwrite is a logical remove: previous snapshot still readable until vacuum") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.write(spark, t, df((9L, "a", 9L)), Seq("p"))
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSeq == Seq(9L))
    assert(VersionedTable.read(spark, t, asOfVersion = Some(1))
      .select("k").as[Long].collect().toSeq == Seq(1L))

    val dead = VersionedTable.vacuum(spark, t, retainVersions = 1)
    assert(dead.nonEmpty, "v1's files must be reclaimed")
    // latest still intact; the vacuumed snapshot's files are gone
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSeq == Seq(9L))
    assert(dead.forall(f => !new java.io.File(s"$t/$f").exists()))
  }

  test("vacuum reclaims orphans from crashed writes, age-gated") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    // simulate a write that crashed after staging into the partition dir
    val orphan = new java.io.File(s"$t/p=a/part-99999-dead-beef.c000.snappy.parquet")
    Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    // fresh orphan survives (could be a concurrent writer mid-commit)
    VersionedTable.vacuum(spark, t, retainVersions = 1)
    assert(orphan.exists())
    // aged orphan is reclaimed; the table is untouched
    val cleaned = VersionedTable.vacuum(spark, t, retainVersions = 1, orphanMinAgeMs = 0L)
    assert(cleaned.exists(_.endsWith("part-99999-dead-beef.c000.snappy.parquet")))
    assert(!orphan.exists())
    assert(VersionedTable.read(spark, t).count() == 1)
  }

  test("merge applies clauses in order: delete, conditional update, gated insert") {
    val t = table()
    VersionedTable.write(spark, t,
      df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L)), Seq("p"))
    val src = Seq((1L, "a", "U"), (2L, "a", "D"), (5L, "a", "I"), (6L, "b", "X"))
      .toDF("k", "p", "op")
    VersionedTable.merge(spark, t, src, key = "k", partitionCols = Seq("p"),
      clauses = Seq(
        VersionedTable.MatchedDelete(Some(col("s.op") === "D")),
        VersionedTable.MatchedUpdate(Map("v" -> (col("t.v") + 100L)),
          Some(col("s.op") === "U")),
        VersionedTable.NotMatchedInsert(
          values = Some(Map("k" -> col("s.k"), "p" -> col("s.p"), "v" -> lit(0L))),
          cond = Some(col("s.op") === "I"))))
    // 1 updated, 2 deleted, 3/4 untouched, 5 inserted, 6 (op=X) dropped
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 110L), (3L, 30L), (4L, 40L), (5L, 0L)))
    // prior snapshot untouched; untouched partition b shares files
    assert(VersionedTable.read(spark, t, asOfVersion = Some(1))
      .count() == 4)
  }

  test("merge keeps matched rows no clause selects; first matching clause wins") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "a", 2L)), Seq("p"))
    val src = Seq((1L, "a", "skip"), (2L, "a", "both")).toDF("k", "p", "op")
    VersionedTable.merge(spark, t, src, key = "k", partitionCols = Seq("p"),
      clauses = Seq(
        VersionedTable.MatchedUpdate(Map("v" -> lit(99L)), Some(col("s.op") === "both")),
        VersionedTable.MatchedDelete(Some(col("s.op") === "both"))))
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 1L), (2L, 99L)))
  }

  test("merge errors when multiple source rows match one target row") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    val src = Seq((1L, "a", 5L), (1L, "a", 6L)).toDF("k", "p", "v")
    val e = intercept[Exception] {
      VersionedTable.merge(spark, t, src, key = "k", partitionCols = Seq("p"),
        clauses = Seq(VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
    // failed merge must not commit
    assert(VersionedTable.read(spark, t).select("v").as[Long].collect().toSeq == Seq(1L))
  }

  test("merge COW: only source-affected partitions are rewritten") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 2L)), Seq("p"))
    val src = Seq((1L, "a", 9L)).toDF("k", "p", "v")
    VersionedTable.merge(spark, t, src, key = "k", partitionCols = Seq("p"),
      clauses = Seq(VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))))
    val f1 = VersionedTable.read(spark, t, asOfVersion = Some(1)).inputFiles.toSet
    val f2 = VersionedTable.read(spark, t).inputFiles.toSet
    assert(f1.filter(_.contains("p=b/")).subsetOf(f2),
      "partition b untouched by merge must keep its files")
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 9L), (2L, 2L)))
  }

  test("merge is idempotent under a txn token (streaming replay)") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    val src = Seq((1L, "a", 2L)).toDF("k", "p", "v")
    val clauses = Seq(VersionedTable.MatchedUpdate(Map("v" -> (col("t.v") + col("s.v")))))
    val v1 = VersionedTable.merge(spark, t, src, "k", Seq("p"), clauses,
      txn = Some(("app", 7L)))
    val v2 = VersionedTable.merge(spark, t, src, "k", Seq("p"), clauses,
      txn = Some(("app", 7L)))
    assert(v1 == v2, "replayed batch must be a no-op returning the same version")
    assert(VersionedTable.read(spark, t).select("v").as[Long].collect().toSeq == Seq(3L))
  }

  test("upsertMOR appends deltas without touching base files; read merges latest-wins") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L)), Seq("p"))
    val baseFiles = VersionedTable.read(spark, t).inputFiles.toSet
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 10L), (4L, "b", 4L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    // no base file rewritten or removed — the MOR write contract
    assert(baseFiles.forall(f => new java.io.File(f.stripPrefix("file:")).exists()))
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 10L), (2L, 2L), (3L, 3L), (4L, 4L)))
    // second delta stacks; later commit wins precombine ties
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 10L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(VersionedTable.read(spark, t).count() == 4)
    // prior snapshots unaffected
    assert(VersionedTable.read(spark, t, asOfVersion = Some(1)).count() == 3)
  }

  test("compactDeltas materializes the merge and reclaims deltas via vacuum") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 2L)), Seq("p"))
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 9L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val bFiles = VersionedTable.read(spark, t, asOfVersion = Some(1))
      .inputFiles.filter(_.contains("p=b/")).toSet
    VersionedTable.compactDeltas(spark, t)
    val after = VersionedTable.read(spark, t)
    assert(after.select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 9L), (2L, 2L)))
    // compaction touched only the delta-holding partition
    assert(bFiles.subsetOf(after.inputFiles.toSet),
      "partition b had no deltas — its files must be shared, not rewritten")
    // idempotent when nothing to compact
    val v = VersionedTable.latestVersion(spark, t)
    assert(VersionedTable.compactDeltas(spark, t) == v)
    // vacuum to latest reclaims the delta files
    VersionedTable.vacuum(spark, t, retainVersions = 1, orphanMinAgeMs = 0L)
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 9L), (2L, 2L)))
  }

  test("COW ops refuse to run over live deltas; cluster consumes them") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 2L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, t, df((1L, "a", 3L)),
        key = "k", precombine = "v", partitionCols = Seq("p"))
    }
    assert(e.getMessage.contains("compactDeltas"))
    intercept[IllegalArgumentException] {
      VersionedTable.delete(spark, t, col("k") === 1L, Seq("p"))
    }
    // cluster doubles as compaction: merged rewrite, deltas consumed
    VersionedTable.cluster(spark, t, sortCols = Seq("k"), partitionCols = Seq("p"))
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 2L)))
    // now COW ops work again
    VersionedTable.upsert(spark, t, df((1L, "a", 5L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(VersionedTable.read(spark, t).select("v").as[Long].collect().toSeq == Seq(5L))
  }

  test("CDF across MOR commits: merged-state diff, compaction diffs empty") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L)), Seq("p"))
    // v2: MOR delta — update k=1, insert k=4 into partition a
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 10L), (4L, "a", 4L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val d12 = VersionedTable.changes(spark, t, 1L, 2L, key = "k", partitionCols = Seq("p"))
      .select("k", "v", "_change_type").as[(Long, Long, String)].collect().toSet
    assert(d12 == Set((1L, 10L, "update"), (4L, 4L, "insert")),
      "MOR delta commit must diff as row-level changes, not file noise")
    // v3: compaction — logical no-op, CDF must be empty
    VersionedTable.compactDeltas(spark, t)
    assert(VersionedTable.changes(spark, t, 2L, 3L, key = "k",
      partitionCols = Seq("p")).count() == 0,
      "compaction rewrites rows unchanged — the diff must drop them all")
    // end-to-end diff spans the MOR commit + compaction
    val d13 = VersionedTable.changes(spark, t, 1L, 3L, key = "k", partitionCols = Seq("p"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(d13 == Set((1L, "update"), (4L, "insert")))
  }

  test("upsertMOR is idempotent under a txn token") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    val v1 = VersionedTable.upsertMOR(spark, t, df((1L, "a", 2L)),
      key = "k", precombine = "v", partitionCols = Seq("p"), txn = Some(("app", 3L)))
    val v2 = VersionedTable.upsertMOR(spark, t, df((1L, "a", 2L)),
      key = "k", precombine = "v", partitionCols = Seq("p"), txn = Some(("app", 3L)))
    assert(v1 == v2)
    assert(VersionedTable.read(spark, t).count() == 1)
  }

  test("timestamp travel resolves the last commit at or before the timestamp") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.write(spark, t, df((2L, "a", 2L)), Seq("p"), mode = "append")
    val hist = VersionedTable.history(spark, t)
      .select("version", "ts_ms").as[(Long, Long)].collect().sortBy(_._1)
    val ts1 = hist.head._2
    val got = VersionedTable.read(spark, t, asOfTimestampMs = Some(ts1))
      .select("k").as[Long].collect().toSet
    // ts of v1 may equal ts of v2 on a fast box — accept either prefix snapshot
    assert(got == Set(1L) || (hist(1)._2 == ts1 && got == Set(1L, 2L)), got)
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, t, asOfTimestampMs = Some(ts1 - 1000))
    }
  }

  test("log replay uses checkpoints: 12 appends read back whole, snapshot mid-history works") {
    val t = table()
    VersionedTable.write(spark, t, df((0L, "a", 0L)), Seq("p"))
    (1 to 11).foreach(i =>
      VersionedTable.write(spark, t, df((i.toLong, "a", 0L)), Seq("p"), mode = "append"))
    assert(VersionedTable.latestVersion(spark, t) == 12L)
    assert(VersionedTable.read(spark, t).count() == 12L)
    assert(VersionedTable.read(spark, t, asOfVersion = Some(11))
      .select("k").as[Long].collect().toSet == (0L to 10L).toSet)
  }

  test("concurrent commit to the same version is rejected, log stays consistent") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    // Reserve version 2 behind the writer's back, once it chose that name.
    val v1 = new java.io.File(s"$t/_graft_log/v${"%020d".format(1L)}.json")
    CommitKernel.beforePublish = blocker => {
      CommitKernel.beforePublish = _ => ()
      Files.copy(v1.toPath, java.nio.file.Paths.get(blocker.toUri.getPath))
    }
    try intercept[java.util.ConcurrentModificationException] {
      VersionedTable.write(spark, t, df((2L, "a", 1L)), Seq("p"), mode = "append")
    } finally CommitKernel.beforePublish = _ => ()
  }

  test("concurrent writers on disjoint partitions rebase; same-partition conflict rejected") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 1L)), Seq("p"))
    // A concurrent append to partition b lands between our staging and
    // our commit: the upsert to partition a must rebase and win v3.
    CommitKernel.beforePublish = _ => {
      CommitKernel.beforePublish = _ => ()
      VersionedTable.write(spark, t, df((5L, "b", 1L)), Seq("p"), mode = "append")
    }
    try {
      val v = VersionedTable.upsert(spark, t, df((1L, "a", 2L)),
        key = "k", precombine = "v", partitionCols = Seq("p"))
      assert(v == 3L, "rebased over the concurrent append")
    } finally CommitKernel.beforePublish = _ => ()
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 1L), (5L, 1L)), "both writers' effects visible")

    // A CREATE that loses the rename race must fail, not land a second
    // 'create' commit silently redefining the winner's schema and spec.
    val ct = table()
    val winner = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType)))
    val loser = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    CommitKernel.beforePublish = _ => {
      CommitKernel.beforePublish = _ => ()
      VersionedTable.createEmpty(spark, ct, winner)
    }
    try {
      intercept[IllegalStateException](VersionedTable.createEmpty(spark, ct, loser))
    } finally CommitKernel.beforePublish = _ => ()
    assert(VersionedTable.tableSchema(spark, ct) == winner, "winner's schema stands")
    assert(VersionedTable.latestVersion(spark, ct) == 1L)

    // A concurrent rewrite of the SAME partition must be a real conflict.
    CommitKernel.beforePublish = _ => {
      CommitKernel.beforePublish = _ => ()
      VersionedTable.upsert(spark, t, df((2L, "b", 9L)),
        key = "k", precombine = "v", partitionCols = Seq("p"))
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        VersionedTable.delete(spark, t, col("k") === 5L, Seq("p"))
      }
    } finally CommitKernel.beforePublish = _ => ()
    assert(VersionedTable.read(spark, t).filter(col("k") === 2L)
      .select("v").as[Long].head() == 9L, "the winning writer's commit stands")
  }

  test("changes() yields keyed row-level insert/update/delete between versions") {
    val t = table()
    VersionedTable.write(spark, t,
      df((1L, "a", 1L), (2L, "a", 1L), (3L, "b", 1L)), Seq("p"))
    // v2: update k=1, insert k=4 (partition a); partition b untouched
    VersionedTable.upsert(spark, t, df((1L, "a", 2L), (4L, "a", 1L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    // v3: delete k=2
    VersionedTable.delete(spark, t, col("k") === 2L, Seq("p"))

    val cdf12 = VersionedTable.changes(spark, t, 1, 2, key = "k", partitionCols = Seq("p"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf12 == Set((1L, "update"), (4L, "insert")),
      s"rewrite copies of unchanged rows must be dropped: $cdf12")

    val cdf23 = VersionedTable.changes(spark, t, 2, 3, key = "k", partitionCols = Seq("p"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf23 == Set((2L, "delete")))

    val cdf13 = VersionedTable.changes(spark, t, 1, 3, key = "k", partitionCols = Seq("p"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf13 == Set((1L, "update"), (4L, "insert"), (2L, "delete")))

    // no-change window → empty frame with the _change_type column
    val none = VersionedTable.changes(spark, t, 3, 3, key = "k")
    assert(none.count() == 0 && none.columns.contains("_change_type"))
  }

  test("delete rewrites only hit partitions; delete-to-empty partition stages no file") {
    val t = table()
    VersionedTable.write(spark, t,
      df((1L, "a", 1L), (2L, "a", 1L), (3L, "b", 1L)), Seq("p"))
    val before = VersionedTable.read(spark, t).inputFiles.toSet
    VersionedTable.delete(spark, t, col("k") === 1L, Seq("p"))
    val after = VersionedTable.read(spark, t)
    assert(after.select("k").as[Long].collect().toSet == Set(2L, 3L))
    assert(before.filter(_.contains("p=b/")).subsetOf(after.inputFiles.toSet),
      "partition b had no matches — its files must be untouched")
    // empty the whole of partition b: its dir contributes no live file
    VersionedTable.delete(spark, t, col("p") === "b", Seq("p"))
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSet == Set(2L))
    // predicate matching nothing is a no-op version-wise
    val v = VersionedTable.latestVersion(spark, t)
    assert(VersionedTable.delete(spark, t, col("k") === 99L, Seq("p")) == v)
  }

  test("delete/update rewrite only the FILES holding matches, not whole dirs") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.write(spark, t, df((2L, "a", 1L)), Seq("p"), mode = "append")
    // two files share dir p=a; find the one holding only k=2
    val k2file = VersionedTable.read(spark, t).filter(col("k") === 2L)
      .select(input_file_name()).head().getString(0)
    VersionedTable.delete(spark, t, col("k") === 1L, Seq("p"))
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSeq == Seq(2L))
    assert(VersionedTable.read(spark, t).inputFiles.toSet.contains(k2file),
      "the co-resident file without matches must be shared, not rewritten")
    // same for update
    VersionedTable.write(spark, t, df((3L, "a", 1L)), Seq("p"), mode = "append")
    val k2file2 = VersionedTable.read(spark, t).filter(col("k") === 2L)
      .select(input_file_name()).head().getString(0)
    VersionedTable.update(spark, t, Map("v" -> lit(5L)), col("k") === 3L, Seq("p"))
    assert(VersionedTable.read(spark, t).filter(col("k") === 3L)
      .select("v").as[Long].head() == 5L)
    assert(VersionedTable.read(spark, t).inputFiles.toSet.contains(k2file2),
      "update must not rewrite files without matching rows")
  }

  test("DML partition-dir rendering matches the writer (timestamps, numeric strings)") {
    // timestamp identity partitioning: java.sql.Timestamp.toString
    // renders '...:00.0' — a dir name the writer never produced
    val t = table()
    val tdf = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2L)).toDF("k", "ts", "v")
    VersionedTable.write(spark, t, tdf, Seq("ts"))
    VersionedTable.delete(spark, t, col("k") === 1L, Seq("ts"))
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSeq == Seq(2L))
    VersionedTable.update(spark, t, Map("v" -> lit(9L)), col("k") === 2L, Seq("ts"))
    assert(VersionedTable.read(spark, t).select("v").as[Long].head() == 9L)

    // numeric-parseable STRING partition values: dir-value inference
    // would retype p as INT and scope the rewrite to 'p=1' (no such dir)
    val t2 = table()
    VersionedTable.write(spark, t2, df((1L, "01", 1L), (2L, "02", 1L)), Seq("p"))
    VersionedTable.delete(spark, t2, col("p") === "01", Seq("p"))
    assert(VersionedTable.read(spark, t2).select("k").as[Long].collect().toSeq == Seq(2L))
    VersionedTable.upsert(spark, t2, df((2L, "02", 5L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(VersionedTable.read(spark, t2).select("v").as[Long].head() == 5L)
  }

  test("versionAt resolves a timestamp to the last commit at or before it") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    val ts1 = VersionedTable.history(spark, t).select("ts_ms").as[Long].head()
    Thread.sleep(10) // distinct commit timestamps
    VersionedTable.write(spark, t, df((2L, "a", 1L)), Seq("p"), mode = "append")
    assert(VersionedTable.versionAt(spark, t, ts1) == 1L)
    assert(VersionedTable.versionAt(spark, t, System.currentTimeMillis() + 1000L) == 2L)
    intercept[IllegalArgumentException](VersionedTable.versionAt(spark, t, ts1 - 60000L))
  }

  test("streamWriter commits one txn per micro-batch; replayed batch is a no-op") {
    val t = table()
    val src = Files.createTempDirectory("graft-vt-src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vt-ckpt").toFile.getAbsolutePath
    df((1L, "a", 1L), (2L, "b", 1L)).coalesce(1).write.parquet(s"$src/f1")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("k LONG, p STRING, v LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
      val q = VersionedTable.streamWriter(stream, t, key = "k",
        precombine = "v", partitionCols = Seq("p"), checkpoint = ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSet == Set(1L, 2L))
    val v1 = VersionedTable.latestVersion(spark, t)

    // land a second file with an update + an insert; restart from the
    // same checkpoint — only the NEW batch may commit
    df((1L, "a", 2L), (3L, "a", 1L)).coalesce(1).write.parquet(s"$src/f2")
    runOnce()
    val got = VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(VersionedTable.latestVersion(spark, t) == v1 + 1, "exactly one new commit")

    // simulate a foreachBatch replay of an already-committed batchId
    val vNow = VersionedTable.latestVersion(spark, t)
    val replayed = VersionedTable.upsert(spark, t, df((9L, "a", 9L)),
      key = "k", precombine = "v", partitionCols = Seq("p"),
      txn = Some(("graft-stream", 1L)))
    assert(replayed <= vNow, "replayed txn must not produce a new version")
    assert(!VersionedTable.read(spark, t).select("k").as[Long].collect().contains(9L))
  }

  test("streamWriter in merge-on-read mode: delta-only commits, bootstrap from empty") {
    val t = table()
    val src = Files.createTempDirectory("graft-vt-msrc").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vt-mckpt").toFile.getAbsolutePath
    df((1L, "a", 1L), (2L, "b", 1L)).coalesce(1).write.parquet(s"$src/f1")
    df((1L, "a", 2L), (3L, "a", 1L)).coalesce(1).write.parquet(s"$src/f2")
    val stream = spark.readStream
      .schema("k LONG, p STRING, v LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
    val q = VersionedTable.streamWriter(stream, t, key = "k", precombine = "v",
      partitionCols = Seq("p"), checkpoint = ckpt, mergeOnRead = true).start()
    q.processAllAvailable(); q.stop()
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 2L), (2L, 1L), (3L, 1L)))
    // every streaming commit was a delta append — zero base files written
    val hist = VersionedTable.history(spark, t)
      .select("op", "n_added").as[(String, Int)].collect()
    assert(hist.forall { case (op, added) => op == "upsert_mor" && added == 0 })
    VersionedTable.compactDeltas(spark, t)
    assert(VersionedTable.read(spark, t).count() == 3)
  }

  test("CHECK constraints: add validates existing rows, writers enforce in-plan, drop lifts") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 5L)), Seq("p"))
    // adding a constraint the table violates must fail
    intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, t, "v_big", "v > 100")
    }
    VersionedTable.addConstraint(spark, t, "v_pos", "v > 0")
    assert(VersionedTable.constraintsOf(spark, t) == Map("v_pos" -> "v > 0"))
    // a violating append fails before committing anything
    val vBefore = VersionedTable.latestVersion(spark, t)
    intercept[Exception] {
      VersionedTable.write(spark, t, df((2L, "a", -1L)), Seq("p"), mode = "append")
    }
    assert(VersionedTable.latestVersion(spark, t) == vBefore, "failed write must not commit")
    assert(VersionedTable.read(spark, t).count() == 1)
    // a violating upsert fails too (new key, so the merge keeps its row);
    // note an update LOSING the precombine race never materializes, so
    // (1, -5) would correctly pass — use an insert that survives
    intercept[Exception] {
      VersionedTable.upsert(spark, t, df((5L, "a", -2L)),
        key = "k", precombine = "v", partitionCols = Seq("p"))
    }
    VersionedTable.upsert(spark, t, df((1L, "a", 7L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    // drop: violations are allowed again
    VersionedTable.dropConstraint(spark, t, "v_pos")
    VersionedTable.write(spark, t, df((3L, "a", -9L)), Seq("p"), mode = "append")
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("restore rolls back to an old version as a new commit; history stays readable") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 2L)), Seq("p"))
    VersionedTable.upsert(spark, t, df((1L, "a", 10L), (3L, "a", 3L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    VersionedTable.delete(spark, t, col("k") === 2L, Seq("p"))
    // v3 state: (1,10), (3,3). Restore v1: (1,1), (2,2).
    val v4 = VersionedTable.restore(spark, t, 1L)
    assert(v4 == 4L)
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 1L), (2L, 2L)))
    // the rolled-back state is still time-travelable for audit
    assert(VersionedTable.read(spark, t, asOfVersion = Some(3))
      .select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (3L, 3L)))
    // CDF across the restore reports the logical rollback
    val d = VersionedTable.changes(spark, t, 3L, 4L, key = "k", partitionCols = Seq("p"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(d == Set((1L, "update"), (2L, "insert"), (3L, "delete")))
  }

  test("restore fails when the target version's files were vacuumed") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.write(spark, t, df((2L, "a", 2L)), Seq("p")) // overwrite
    VersionedTable.vacuum(spark, t, retainVersions = 1, orphanMinAgeMs = 0L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, t, 1L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("replaceWhere swaps only the matching slice; out-of-slice rows raise") {
    val t = table()
    VersionedTable.write(spark, t,
      df((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L)), Seq("p"))
    VersionedTable.replaceWhere(spark, t, df((9L, "a", 9L)),
      col("p") === "a", partitionCols = Seq("p"))
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((9L, 9L), (3L, 3L)))
    // untouched partition b shares files across the commit
    val f1 = VersionedTable.read(spark, t, asOfVersion = Some(1)).inputFiles.toSet
    val f2 = VersionedTable.read(spark, t).inputFiles.toSet
    assert(f1.filter(_.contains("p=b/")).subsetOf(f2))
    // a row landing OUTSIDE the replaced slice is a contract violation
    intercept[Exception] {
      VersionedTable.replaceWhere(spark, t, df((8L, "b", 8L)),
        col("p") === "a", partitionCols = Seq("p"))
    }
  }

  test("streamMerger applies MERGE clauses per micro-batch, exactly-once") {
    val t = table()
    val src = Files.createTempDirectory("graft-vt-sm").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vt-smc").toFile.getAbsolutePath
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "a", 2L)), Seq("p"))
    df((1L, "a", 100L)).coalesce(1).write.parquet(s"$src/f1")   // update k=1
    df((3L, "a", 3L)).coalesce(1).write.parquet(s"$src/f2")     // insert k=3
    val clauses = Seq(
      VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
      VersionedTable.NotMatchedInsert())
    def runOnce(): Unit = {
      val stream = spark.readStream.schema("k LONG, p STRING, v LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      val q = VersionedTable.streamMerger(stream, t, key = "k",
        partitionCols = Seq("p"), clauses = clauses, checkpoint = ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(VersionedTable.read(spark, t).select("k", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 100L), (2L, 2L), (3L, 3L)))
    val vAfter = VersionedTable.latestVersion(spark, t)
    // restart from the same checkpoint: nothing new, no new commits
    runOnce()
    assert(VersionedTable.latestVersion(spark, t) == vAfter)
  }

  test("append evolves schema additively; old snapshots keep their schema; type change rejected") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    // v2: append rows carrying a NEW column w
    VersionedTable.write(spark, t,
      Seq((2L, "a", 1L, "x")).toDF("k", "p", "v", "w"), Seq("p"), mode = "append")
    val latest = VersionedTable.read(spark, t)
    assert(latest.columns.toSeq == Seq("k", "v", "w", "p"),
      s"log-declared order, new column appended: ${latest.columns.toSeq}")
    assert(latest.select("k", "w").as[(Long, Option[String])].collect().toSet ==
      Set((1L, None), (2L, Some("x"))), "pre-evolution rows read w as null")
    // v1 snapshot: w did not exist yet
    assert(!VersionedTable.read(spark, t, asOfVersion = Some(1)).columns.contains("w"))
    // upsert may also evolve: new column u
    VersionedTable.upsert(spark, t, Seq((1L, "a", 2L, 7L)).toDF("k", "p", "v", "u"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val afterUpsert = VersionedTable.read(spark, t)
    assert(afterUpsert.columns.contains("u") && afterUpsert.columns.contains("w"))
    assert(afterUpsert.filter(col("k") === 1L).select("u").as[Option[Long]].head() == Some(7L))
    // type change is a rewrite, not evolution
    intercept[IllegalArgumentException] {
      VersionedTable.write(spark, t,
        Seq((9L, "a", "not-a-long")).toDF("k", "p", "v"), Seq("p"), mode = "append")
    }
  }

  test("graft_snapshot SQL table function reads latest and AS OF versions") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.write(spark, t, df((2L, "a", 2L)), Seq("p"), mode = "append")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    assert(spark.sql(s"SELECT k FROM graft_snapshot('$t')")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.sql(s"SELECT k FROM graft_snapshot('$t', 1)")
      .as[Long].collect().toSet == Set(1L))
    assert(spark.sql(
      s"SELECT p, count(*) AS n FROM graft_snapshot('$t') GROUP BY p")
      .as[(String, Long)].collect().toSeq == Seq(("a", 2L)))
  }

  test("cluster + readPruned: range predicates skip files via log stats") {
    val t = table()
    val rows = (0L until 1000L).map(k => (k, "a", k * 2))
    VersionedTable.write(spark, t, rows.toDF("k", "p", "v"), Seq("p"))
    VersionedTable.cluster(spark, t, sortCols = Seq("k"), partitionCols = Seq("p"),
      filesPerPartition = 8)
    val (df, scanned, total) = VersionedTable.readPruned(spark, t,
      col("k") >= 100L && col("k") < 200L)
    assert(total >= 8, s"cluster must have split into ranged files (got $total)")
    assert(scanned < total, s"stats must prune files: $scanned of $total")
    assert(df.select("k").as[Long].collect().sorted.toSeq == (100L until 200L))
    // point lookup: at most 1-2 files
    val (one, s1, _) = VersionedTable.readPruned(spark, t, col("k") === 500L)
    assert(s1 <= 2 && one.count() == 1)
    // predicate proving emptiness scans nothing
    val (none, s0, _) = VersionedTable.readPruned(spark, t, col("k") > 99999L)
    assert(s0 == 0 && none.count() == 0)
    // unsupported predicate shape degrades to a full scan, still correct
    val (all, sAll, tAll) = VersionedTable.readPruned(spark, t, col("k") % 7 === 0)
    assert(sAll == tAll && all.count() == rows.count(_._1 % 7 == 0))
    // string stats: cluster by p works too (single partition value here)
    val (strDf, _, _) = VersionedTable.readPruned(spark, t, col("p") === "a")
    assert(strDf.count() == 1000)
  }

  test("bloom index prunes point lookups and IN on high-cardinality columns") {
    val t = table()
    val rows = (0L until 1000L).map(k => (k, s"id-$k", "a"))
    VersionedTable.write(spark, t,
      rows.toDF("k", "id", "p").repartition(4, col("k")), Seq("p"),
      bloomCols = Seq("k", "id"))
    // hash-repartitioned files: min/max overlap fully, ONLY a bloom can skip
    val (one, s1, t1) = VersionedTable.readPruned(spark, t, col("k") === 500L)
    assert(t1 >= 4, s"expected multiple files, got $t1")
    assert(s1 == 1, s"bloom must prune to the single containing file, scanned $s1")
    assert(one.count() == 1)
    // int literal against a bigint column: the analyzer-cast literal still probes
    val (_, s2, _) = VersionedTable.readPruned(spark, t, col("k") === 500)
    assert(s2 == s1)
    // string bloom
    val (sdf, s3, _) = VersionedTable.readPruned(spark, t, col("id") === "id-77")
    assert(s3 == 1 && sdf.count() == 1)
    // IN scans only the union of possibly-containing files
    val (inDf, s4, _) = VersionedTable.readPruned(spark, t, col("id").isin("id-5", "id-700"))
    assert(s4 <= 2 && inDf.count() == 2)
    // a key provably absent everywhere scans nothing
    val (noneDf, s5, _) = VersionedTable.readPruned(spark, t, col("id") === "id-nope")
    assert(s5 == 0 && noneDf.count() == 0)
    // non-equality predicates ignore blooms: full scan, still correct
    val (rdf, s6, t6) = VersionedTable.readPruned(spark, t, col("k") >= 990L)
    assert(s6 == t6 && rdf.count() == 10)
    // cluster re-indexes blooms alongside its range stats: after a rewrite
    // sorted by k, an id point lookup still prunes to one file via bloom
    VersionedTable.cluster(spark, t, sortCols = Seq("k"), partitionCols = Seq("p"),
      filesPerPartition = 4, bloomCols = Seq("id"))
    val (cdf, s7, _) = VersionedTable.readPruned(spark, t, col("id") === "id-500")
    assert(s7 == 1 && cdf.count() == 1)
  }

  test("rewrites maintain stats and bloom indexes (sticky coverage)") {
    val t = table()
    val rows = (0L until 400L).map(k => (k, s"id-$k", if (k % 2 == 0) "a" else "b"))
    VersionedTable.write(spark, t, rows.toDF("k", "id", "p").repartition(2, col("k")),
      Seq("p"), statsCols = Seq("k"), bloomCols = Seq("id"))
    // upsert rewrites partition a; its replacement files must inherit the
    // table's active stats+bloom coverage, not decay to conservative scans
    VersionedTable.upsert(spark, t, Seq((1000L, "id-1000", "a")).toDF("k", "id", "p"),
      key = "k", precombine = "k", partitionCols = Seq("p"))
    val (dfNew, sNew, tNew) = VersionedTable.readPruned(spark, t, col("id") === "id-1000")
    assert(dfNew.count() == 1 && sNew < tNew)
    // discriminating checks: a key absent EVERYWHERE scans nothing only if
    // the rewritten file carries a fresh bloom / fresh k stats
    val (dfAbs, sAbs, _) = VersionedTable.readPruned(spark, t, col("id") === "id-9999")
    assert(dfAbs.count() == 0 && sAbs == 0, s"bloom must survive the upsert rewrite ($sAbs)")
    val (dfRange, sRange, _) = VersionedTable.readPruned(spark, t, col("k") > 2000L)
    assert(dfRange.count() == 0 && sRange == 0, s"stats must survive the upsert rewrite ($sRange)")
    // delete's rewrite maintains coverage too: id-7 lives in ONE p=b file,
    // every other file (incl. the fresh p=a rewrite) bloom-prunes
    VersionedTable.delete(spark, t, col("k") === 0L, Seq("p"))
    val (df7, s7, t7) = VersionedTable.readPruned(spark, t, col("id") === "id-7")
    assert(df7.count() == 1 && s7 == 1 && t7 >= 3, s"expected 1 of $t7 scanned, got $s7")
  }

  test("hidden partitioning in the log: layout invisible, raw predicates prune dirs") {
    import graft.sinks.PartitionTransforms
    val t = table()
    val rows = (0L until 400L).map(k => (k, k * 3))
    VersionedTable.write(spark, t, rows.toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    // derived dir column never surfaces in reads
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v") && r.count() == 400)
    // raw range predicate prunes dirs with NO stats recorded at all
    val (d, s, n) = VersionedTable.readPruned(spark, t,
      col("k") >= 150L && col("k") < 250L)
    assert(n >= 4 && s < n, s"dir pruning must skip: $s of $n")
    assert(d.select("k").as[Long].collect().sorted.toSeq == (150L until 250L))
    // append INHERITS the log's partition spec (no transforms passed)
    VersionedTable.write(spark, t, Seq((1000L, 0L)).toDF("k", "v"), Nil, mode = "append")
    assert(VersionedTable.read(spark, t).count() == 401)
    val (d2, s2, _) = VersionedTable.readPruned(spark, t, col("k") === 1000L)
    assert(s2 == 1 && d2.count() == 1)
    // keyed ops route through the DERIVED layout: upsert updates in place
    VersionedTable.upsert(spark, t, Seq((150L, 999L)).toDF("k", "v"),
      key = "k", precombine = "v", partitionCols = Nil)
    assert(VersionedTable.read(spark, t).filter(col("k") === 150L)
      .select("v").as[Long].head() == 999L)
    assert(VersionedTable.read(spark, t).count() == 401) // update, not append
    // and delete routes too
    VersionedTable.delete(spark, t, col("k") === 1000L, Nil)
    assert(VersionedTable.read(spark, t).count() == 400)
    // CDF follows transform tables and hides the derived layout
    val cdf = VersionedTable.changes(spark, t, 1L, 3L, key = "k")
    assert(!cdf.columns.contains("__p_k"), "derived dir column must not leak into CDF")
    assert(cdf.filter(col("_change_type") === "insert")
      .select("k").as[Long].collect().toSeq == Seq(1000L))
    assert(cdf.filter(col("_change_type") === "update")
      .select("k").as[Long].collect().toSeq == Seq(150L))
    // fragment one derived dir with two more inheriting appends…
    VersionedTable.write(spark, t, Seq((151L, 1L)).toDF("k", "v"), Nil, mode = "append")
    VersionedTable.write(spark, t, Seq((152L, 2L)).toDF("k", "v"), Nil, mode = "append")
    // …then optimize recovers the derived layout from dir paths and compacts
    val preOpt = VersionedTable.read(spark, t)
      .select("k", "v").as[(Long, Long)].collect().toSet
    VersionedTable.optimize(spark, t, maxFilesPerPartition = 1)
    val postOpt = VersionedTable.read(spark, t)
    assert(postOpt.columns.toSeq == Seq("k", "v"))
    assert(postOpt.select("k", "v").as[(Long, Long)].collect().toSet == preOpt)
    // dir pruning still works over the compacted layout
    val (dOpt, sOpt, nOpt) = VersionedTable.readPruned(spark, t,
      col("k") >= 150L && col("k") < 250L)
    assert(sOpt < nOpt && dOpt.count() == preOpt.count(kv => kv._1 >= 150 && kv._1 < 250))
    // merge-on-read now composes with transform tables — covered by the
    // dedicated "merge-on-read composes with hidden partitioning" spec
    // time travel sees the pre-append snapshot, still hiding the layout
    val old = VersionedTable.read(spark, t, asOfVersion = Some(1L))
    assert(old.columns.toSeq == Seq("k", "v") && old.count() == 400)
    // overwrite WITHOUT transforms clears the spec; upsert works again
    VersionedTable.write(spark, t, rows.toDF("k", "v"), Nil)
    VersionedTable.upsert(spark, t, Seq((1L, 9L)).toDF("k", "v"),
      key = "k", precombine = "v", partitionCols = Nil)
    assert(VersionedTable.read(spark, t).filter(col("k") === 1L)
      .select("v").as[Long].head() == 9L)
  }

  test("cluster within the derived layout: dir pruning and range stats compose") {
    import graft.sinks.PartitionTransforms
    val t = table()
    val rnd = new scala.util.Random(7)
    val rows = (0L until 2000L).map(k => (k, rnd.nextInt(10000).toLong))
    VersionedTable.write(spark, t, rows.toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 1000))) // 2 dirs
    VersionedTable.cluster(spark, t, sortCols = Seq("v"), partitionCols = Nil,
      filesPerPartition = 4)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v") && r.count() == 2000)
    // raw k range → dir pruning from the transform spec (strictly inside
    // dir 0: the boundary value 1000 conservatively keeps its own dir)
    val (d1, s1, n1) = VersionedTable.readPruned(spark, t, col("k") < 900L)
    assert(s1 < n1 && d1.count() == 900)
    // v range → per-file range stats laid down by the clustered rewrite
    val (d2, s2, n2) = VersionedTable.readPruned(spark, t, col("v") < 1000L)
    assert(s2 < n2, s"stats must skip within dirs: $s2 of $n2")
    assert(d2.count() == rows.count(_._2 < 1000))
    // and the two prune dimensions compose
    val (d3, s3, _) = VersionedTable.readPruned(spark, t,
      col("k") < 900L && col("v") < 1000L)
    assert(s3 <= s2 && d3.count() == rows.count(p => p._1 < 900 && p._2 < 1000))
    // z-order within the derived layout: 2-d skipping survives the
    // rewrite and dir pruning still applies
    VersionedTable.clusterZOrder(spark, t, zCols = Seq("k", "v"),
      partitionCols = Nil, filesPerPartition = 4)
    val (dz, sz, nz) = VersionedTable.readPruned(spark, t,
      col("v") < 500L && col("k") < 900L)
    assert(dz.count() == rows.count(p => p._2 < 500 && p._1 < 900))
    assert(sz < nz, s"z-order stats must skip within dirs: $sz of $nz")
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("k", "v"))
  }

  test("streamWriter upserts into a transform table; appends evolve its schema") {
    import graft.sinks.PartitionTransforms
    val t = table()
    // bootstrap the transform table, then stream keyed updates into it
    VersionedTable.write(spark, t,
      Seq((1L, 10L, 1L), (250L, 20L, 1L)).toDF("k", "v", "ver"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    val src = Files.createTempDirectory("graft-vt-tf-src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-vt-tf-ckpt").toFile.getAbsolutePath
    Seq((1L, 11L, 2L), (777L, 7L, 1L)).toDF("k", "v", "ver")
      .coalesce(1).write.parquet(s"$src/f1")
    val stream = spark.readStream.schema("k LONG, v LONG, ver LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
    val q = VersionedTable.streamWriter(stream, t, key = "k",
      precombine = "ver", partitionCols = Nil, checkpoint = ckpt).start()
    q.processAllAvailable(); q.stop()
    val got = VersionedTable.read(spark, t)
      .select("k", "v").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 11L), (250L, 20L), (777L, 7L)))
    // and the layout stayed hidden + prunable
    val (d, s, n) = VersionedTable.readPruned(spark, t, col("k") === 777L)
    assert(d.count() == 1 && s < n)
    // an append proposing a DIFFERENT spec would mix layouts — refused
    intercept[IllegalArgumentException](VersionedTable.write(spark, t,
      Seq((5L, 5L, 5L)).toDF("k", "v", "ver"), Nil, mode = "append",
      transforms = Seq(PartitionTransforms.TruncateNum("k", 500))))
    // additive schema evolution through an inheriting append
    VersionedTable.write(spark, t,
      Seq((901L, 1L, 1L, "x")).toDF("k", "v", "ver", "extra"), Nil, mode = "append")
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v", "ver", "extra"))
    assert(r.filter(col("k") === 1L).select("extra").collect()(0).isNullAt(0))
  }

  test("convert adopts a plain parquet table in place; graft_files exposes the log") {
    val t = table()
    // a pre-existing NON-versioned partitioned table
    df((1L, "a", 1L), (2L, "b", 2L), (3L, "a", 3L)).write
      .partitionBy("p").parquet(t)
    VersionedTable.convert(spark, t)
    assert(VersionedTable.latestVersion(spark, t) == 1L)
    assert(VersionedTable.read(spark, t).select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // full DML surface works after adoption, zero rewrite at convert time
    VersionedTable.upsert(spark, t, df((1L, "a", 9L)),
      key = "k", precombine = "v", partitionCols = Seq("p"),
      statsCols = Seq("k"))
    assert(VersionedTable.read(spark, t).filter(col("k") === 1L)
      .select("v").as[Long].head() == 9L)
    // time travel to the adopted snapshot
    assert(VersionedTable.read(spark, t, asOfVersion = Some(1L))
      .filter(col("k") === 1L).select("v").as[Long].head() == 1L)
    // converting twice refuses
    intercept[IllegalArgumentException](VersionedTable.convert(spark, t))
    // graft_files: one row per live file, counts/stats from the log only
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val files = spark.sql(s"SELECT * FROM graft_files('$t')").collect()
    assert(files.nonEmpty && files.forall(!_.getBoolean(2)))
    val statsRows = files.flatMap(r => Option(r.get(3)).map(_.asInstanceOf[Long]))
    assert(statsRows.sum == 2L, "upsert-rewritten partition a carries row counts")
  }

  test("replaceWhere preserves non-matching co-resident rows (arbitrary predicate)") {
    val t = table()
    VersionedTable.write(spark, t,
      df((1L, "a", 1L), (2L, "a", 200L), (3L, "b", 300L)), Seq("p"))
    // predicate NOT aligned to the partition layout: v > 100 hits p=a and
    // p=b, but row (1, a, 1) does not match and must survive the swap
    VersionedTable.replaceWhere(spark, t, df((9L, "a", 150L)),
      col("v") > 100L, Seq("p"))
    val got = VersionedTable.read(spark, t)
      .select("k", "p", "v").as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a", 1L), (9L, "a", 150L)),
      s"non-matching co-resident rows must be preserved, matching ones replaced: $got")
  }

  test("changes from version 0 replays the full history as inserts") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 2L)), Seq("p"))
    VersionedTable.upsert(spark, t, df((1L, "a", 9L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val cdf = VersionedTable.changes(spark, t, 0L, 2L, key = "k")
    assert(cdf.select("k", "_change_type").as[(Long, String)].collect().toSet ==
      Set((1L, "insert"), (2L, "insert")))
    assert(cdf.filter(col("k") === 1L).select("v").as[Long].head() == 9L)
  }

  test("changes spans additive schema evolution (old side null-fills new cols)") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.upsert(spark, t,
      Seq((1L, "a", 2L, "x")).toDF("k", "p", "v", "extra"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val cdf = VersionedTable.changes(spark, t, 1L, 2L, key = "k")
    assert(cdf.columns.contains("extra"))
    assert(cdf.select("k", "_change_type").as[(Long, String)].collect().toSeq ==
      Seq((1L, "update")))
  }

  test("a write racing a concurrent addConstraint fails instead of landing unvalidated rows") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    // inject addConstraint between the writer's validation and its publish
    CommitKernel.beforePublish = _ => {
      CommitKernel.beforePublish = _ => ()
      VersionedTable.addConstraint(spark, t, "v_pos", "v > 0")
    }
    try {
      intercept[java.util.ConcurrentModificationException](
        VersionedTable.write(spark, t, df((2L, "a", -5L)), Seq("p"), mode = "append"))
    } finally CommitKernel.beforePublish = _ => ()
    // the violating row never landed; a re-run now validates and fails loudly
    assert(VersionedTable.read(spark, t).count() == 1)
    intercept[Exception](
      VersionedTable.write(spark, t, df((2L, "a", -5L)), Seq("p"), mode = "append"))
  }

  test("vacuum reclaims stage debris of writes that crashed mid-staging") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    val debris = new java.io.File(s"$t/_graft_stage/crashed-uuid")
    debris.mkdirs()
    val f = new java.io.File(debris, "part-00000-dead.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - 48L * 3600_000L
    f.setLastModified(old); debris.setLastModified(old)
    val cleaned = VersionedTable.vacuum(spark, t, orphanMinAgeMs = 3600_000L)
    assert(cleaned.exists(_.contains("crashed-uuid")), s"stage debris must be swept: $cleaned")
    assert(!debris.exists())
    assert(VersionedTable.read(spark, t).count() == 1)
  }

  test("replaceWhere on a transform table swaps only the derived slice") {
    import graft.sinks.PartitionTransforms
    val t = table()
    VersionedTable.write(spark, t,
      (0L until 300L).map(k => (k, k)).toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    VersionedTable.replaceWhere(spark, t, Seq((150L, 0L)).toDF("k", "v"),
      col("k") >= 100L && col("k") < 200L, Nil)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v"))
    assert(r.count() == 201) // dirs 0 and 200 untouched, dir 100 swapped
    assert(r.filter(col("k") >= 100L && col("k") < 200L).count() == 1)
    // incoming rows outside the predicate still raise in-plan
    intercept[Exception](VersionedTable.replaceWhere(spark, t,
      Seq((999L, 0L)).toDF("k", "v"), col("k") < 100L, Nil))
  }

  test("MERGE INTO a transform table routes through the derived layout") {
    import graft.sinks.PartitionTransforms
    val t = table()
    VersionedTable.write(spark, t,
      (0L until 400L).map(k => (k, k)).toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    val dirsBefore = VersionedTable.history(spark, t).count()
    VersionedTable.merge(spark, t,
      Seq((10L, 999L), (450L, 1L)).toDF("k", "v"),
      key = "k", partitionCols = Nil,
      clauses = Seq(
        VersionedTable.MatchedUpdate(Map("v" -> col("s.v"))),
        VersionedTable.NotMatchedInsert(None)))
    assert(dirsBefore == 1L)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v"))
    assert(r.count() == 401)
    assert(r.filter(col("k") === 10L).select("v").as[Long].head() == 999L)
    assert(r.filter(col("k") === 450L).select("v").as[Long].head() == 1L)
    // only the source-affected derived dirs were rewritten: rows outside
    // dir 0 (update) and dir 400 (insert) kept their version-1 files
    val cdf = VersionedTable.changes(spark, t, 1L, 2L, key = "k")
    assert(cdf.select("k", "_change_type").as[(Long, String)].collect().toSet ==
      Set((10L, "update"), (450L, "insert")))
  }

  test("readPruned on a MOR table: delta-free dirs skip, delta dirs always merge") {
    val t = table()
    val rows = (0L until 1000L).map(k => (k, if (k < 500) "a" else "b", k))
    VersionedTable.write(spark, t, rows.toDF("k", "p", "v"), Seq("p"), statsCols = Seq("k"))
    VersionedTable.cluster(spark, t, sortCols = Seq("k"), partitionCols = Seq("p"),
      filesPerPartition = 4)
    // deltas land only in partition b
    VersionedTable.upsertMOR(spark, t,
      Seq((550L, "b", 111111L), (5000L, "b", 1L)).toDF("k", "p", "v"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    // updated key: partition b merges (all its base files scan), delta wins
    val (d1, s1, t1) = VersionedTable.readPruned(spark, t, col("k") === 550L)
    assert(d1.select("v").as[Long].collect().toSeq == Seq(111111L))
    assert(s1 < t1, s"delta-free partition a must prune: $s1 of $t1")
    // delta-only key: every a-file prunes, b scans, the row comes back
    val (d2, s2, _) = VersionedTable.readPruned(spark, t, col("k") === 5000L)
    assert(d2.select("v").as[Long].collect().toSeq == Seq(1L))
    assert(s2 < t1 && s2 > 0)
    // a key in the delta-FREE partition prunes to its clustered file(s)
    val (d3, s3, _) = VersionedTable.readPruned(spark, t, col("k") === 100L)
    assert(d3.select("v").as[Long].collect().toSeq == Seq(100L))
    assert(s3 < t1)
    // CRITICAL soundness case: a base row OUTRANKS a late delta on
    // precombine — pruning must not flip the winner to the stale delta
    VersionedTable.upsertMOR(spark, t,
      Seq((100L, "a", -1L)).toDF("k", "p", "v"), // stale: precombine -1 < 100
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val (d4, _, _) = VersionedTable.readPruned(spark, t, col("v") === -1L)
    assert(d4.count() == 0, "stale delta must not surface through a pruned read")
    assert(VersionedTable.readPruned(spark, t, col("k") === 100L)._1
      .select("v").as[Long].head() == 100L)
  }

  test("expireLog bounds the log; surviving versions identical; expired travel errors") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    (2 to 25).foreach(i =>
      VersionedTable.write(spark, t, df((i.toLong, "a", i.toLong)), Seq("p"), mode = "append"))
    // 25 commits, checkpoints at v10/v20; horizon 25-10=15 → expire below v10
    val expired = VersionedTable.expireLog(spark, t, keepVersions = 10)
    assert(expired == (1L until 10L), s"expected v1..v9 expired, got $expired")
    assert(VersionedTable.read(spark, t).count() == 25)
    assert(VersionedTable.latestVersion(spark, t) == 25L)
    // a surviving mid-history version reads exactly as before
    assert(VersionedTable.read(spark, t, asOfVersion = Some(12L)).count() == 12)
    // the checkpointed floor itself survives
    assert(VersionedTable.read(spark, t, asOfVersion = Some(10L)).count() == 10)
    // expired versions fail with the clean snapshot error
    val e = intercept[IllegalArgumentException](
      VersionedTable.read(spark, t, asOfVersion = Some(5L)).count())
    assert(e.getMessage.contains("no version <= 5"))
    // idempotent: nothing further below the horizon's checkpoint
    assert(VersionedTable.expireLog(spark, t, keepVersions = 10).isEmpty)
    // appends continue normally after expiry
    VersionedTable.write(spark, t, df((26L, "a", 26L)), Seq("p"), mode = "append")
    assert(VersionedTable.read(spark, t).count() == 26)
  }

  test("expireLog never strands table metadata: spec and constraints survive retention") {
    import graft.sinks.PartitionTransforms
    val t = table()
    VersionedTable.write(spark, t,
      (0L until 100L).map(k => (k, k)).toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    VersionedTable.addConstraint(spark, t, "v_nonneg", "v >= 0")
    (1 to 20).foreach(i => VersionedTable.write(spark, t,
      Seq((100L + i, i.toLong)).toDF("k", "v"), Nil, mode = "append"))
    val gone = VersionedTable.expireLog(spark, t, keepVersions = 5)
    assert(gone.nonEmpty, "checkpoints carry metadata, so expiry must proceed")
    assert(gone.contains(1L), "the original spec-bearing commit is expired")
    // yet the metadata lives on through the stamped checkpoint floor:
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("k", "v"))
    assert(VersionedTable.constraintsOf(spark, t).contains("v_nonneg"))
    intercept[Exception](VersionedTable.write(spark, t,
      Seq((999L, -5L)).toDF("k", "v"), Nil, mode = "append"))
    // appends still inherit the hidden layout and stay prunable
    VersionedTable.write(spark, t, Seq((500L, 1L)).toDF("k", "v"), Nil, mode = "append")
    val (d, s, n) = VersionedTable.readPruned(spark, t, col("k") === 500L)
    assert(d.count() == 1 && s < n)
  }

  test("merge-on-read composes with hidden partitioning: deltas land in the derived layout") {
    import graft.sinks.PartitionTransforms
    val t = table()
    val rows = (0L until 400L).map(k => (k, k))
    VersionedTable.write(spark, t, rows.toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    // one update into an existing derived dir, one insert into a NEW dir
    VersionedTable.upsertMOR(spark, t, Seq((150L, 999L), (420L, 999L)).toDF("k", "v"),
      key = "k", precombine = "v", partitionCols = Nil)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v"), "derived layout must stay hidden")
    assert(r.count() == 401)
    assert(r.filter(col("k") === 150L).select("v").as[Long].head() == 999L)
    // delta files physically live under derived dirs
    assert(r.inputFiles.exists(f => f.contains("__p_k=100")),
      "delta must land in its derived dir")
    // raw-predicate dir pruning still works on the MOR snapshot
    val (d, s, n) = VersionedTable.readPruned(spark, t, col("k") === 50L)
    assert(d.select("v").as[Long].collect().toSeq == Seq(50L) && s < n)
    // time travel pre-delta, layout still hidden
    val old = VersionedTable.read(spark, t, asOfVersion = Some(1L))
    assert(old.columns.toSeq == Seq("k", "v") && old.count() == 400)
    // compaction recovers the derived layout; merged state unchanged
    VersionedTable.compactDeltas(spark, t)
    val c = VersionedTable.read(spark, t)
    assert(c.columns.toSeq == Seq("k", "v") && c.count() == 401)
    assert(c.filter(col("k") === 150L).select("v").as[Long].head() == 999L)
    assert(c.filter(col("k") === 420L).select("v").as[Long].head() == 999L)
    // pruning composes over the compacted derived layout
    val (d2, s2, n2) = VersionedTable.readPruned(spark, t, col("k") === 420L)
    assert(d2.count() == 1 && s2 < n2)
    // the streaming MOR writer shape: txn-idempotent delta appends
    val v = VersionedTable.upsertMOR(spark, t, Seq((10L, 1000L)).toDF("k", "v"),
      key = "k", precombine = "v", partitionCols = Nil, txn = Some(("app", 7L)))
    assert(VersionedTable.upsertMOR(spark, t, Seq((10L, 2000L)).toDF("k", "v"),
      key = "k", precombine = "v", partitionCols = Nil, txn = Some(("app", 7L))) == v,
      "replayed txn must be a no-op")
    assert(VersionedTable.read(spark, t)
      .filter(col("k") === 10L).select("v").as[Long].head() == 1000L)
  }

  test("MOR merged read bypasses the collapse window for provably-untouched base files") {
    val t = table()
    // four clustered base files with disjoint key ranges, stats recorded
    (0 until 4).foreach { i =>
      VersionedTable.write(spark, t,
        (i * 100L until (i + 1) * 100L).map(k => (k, "a", k)).toDF("k", "p", "v")
          .coalesce(1),
        Seq("p"), mode = if (i == 0) "overwrite" else "append",
        statsCols = Seq("k"))
    }
    // the delta touches only the 100..199 file's range
    VersionedTable.upsertMOR(spark, t, Seq((150L, "a", 11111L)).toDF("k", "p", "v"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val r = VersionedTable.read(spark, t)
    assert(r.count() == 400)
    assert(r.filter(col("k") === 150L).select("v").as[Long].head() == 11111L)
    assert(r.filter(col("k") === 50L).select("v").as[Long].head() == 50L)
    // plan shape: ONLY the overlapping base file + the delta feed the
    // window; the three disjoint files arrive via the shuffle-free union
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val windowScans = r.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.collectLeaves().collect {
          case l: LogicalRelation =>
            l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.toSeq
        }.flatten
    }.flatten
    assert(windowScans.size == 2,
      s"expected 1 overlapping base + 1 delta under the window, got ${windowScans.size}: $windowScans")
    assert(r.inputFiles.length == 5, "bypassed files must still be read")
    // stats skipping now reaches bypassed files inside the delta dir
    val (dp, sp, np) = VersionedTable.readPruned(spark, t, col("k") === 350L)
    assert(dp.select("v").as[Long].collect().toSeq == Seq(350L))
    assert(sp < np, s"bypassed file should stats-prune: $sp of $np")
    // a key range overlapping the delta still merges exactly
    val (dm, _, _) = VersionedTable.readPruned(spark, t, col("k") === 150L)
    assert(dm.select("v").as[Long].collect().toSeq == Seq(11111L))
  }

  test("format(\"graft-table\") batch API: read/write/upsert/time-travel by format name") {
    val t = table()
    df((1L, "a", 1L), (2L, "b", 2L)).write.format("graft-table")
      .option("path", t).option("partitionCols", "p").mode("overwrite").save()
    df((3L, "a", 3L)).write.format("graft-table")
      .option("path", t).option("partitionCols", "p").mode("append").save()
    // keyed write = upsert
    df((1L, "a", 100L)).write.format("graft-table")
      .option("path", t).option("partitionCols", "p")
      .option("key", "k").option("precombine", "v").mode("append").save()
    val r = spark.read.format("graft-table").option("path", t).load()
    assert(r.select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 100L), (2L, 2L), (3L, 3L)))
    // filters and projection flow through the pruned scan
    assert(r.filter(col("k") === 2L).select("v").as[Long].collect().toSeq == Seq(2L))
    assert(r.filter(col("p") === "a").count() == 2)
    // time travel by version and by timestamp
    val v1 = spark.read.format("graft-table").option("path", t)
      .option("versionAsOf", "1").load()
    assert(v1.select("k").as[Long].collect().toSet == Set(1L, 2L))
    val ts1 = new java.sql.Timestamp(
      VersionedTable.history(spark, t).filter(col("version") === 1L)
        .select("ts_ms").as[Long].head()).toString
    val byTs = spark.read.format("graft-table").option("path", t)
      .option("timestampAsOf", ts1).load()
    assert(byTs.count() == 2)
    // MOR keyed write by format name
    df((4L, "b", 4L)).write.format("graft-table")
      .option("path", t).option("partitionCols", "p")
      .option("key", "k").option("precombine", "v")
      .option("mergeOnRead", "true").mode("append").save()
    assert(spark.read.format("graft-table").option("path", t).load().count() == 4)
    // df.write.partitionBy routes through the V1 partitioning option
    val t2 = table()
    df((1L, "a", 1L), (2L, "b", 2L)).write.format("graft-table")
      .option("path", t2).partitionBy("p").mode("overwrite").save()
    assert(VersionedTable.read(spark, t2).inputFiles.exists(_.contains("p=a")),
      "writer partitionBy must partition the table")
    // a fully-deleted table still loads (log-only schema, zero rows)
    VersionedTable.delete(spark, t2, lit(true), Seq("p"))
    val empty = spark.read.format("graft-table").option("path", t2).load()
    assert(empty.columns.toSeq == Seq("k", "p", "v") && empty.count() == 0)
    // half-specified keyed options fail loudly instead of appending
    intercept[IllegalArgumentException] {
      df((9L, "a", 9L)).write.format("graft-table")
        .option("path", t2).option("key", "k").mode("append").save()
    }
  }

  test("restore pins the target's partition spec: transform tables roll back cleanly") {
    import graft.sinks.PartitionTransforms
    val t = table()
    val rows = (0L until 300L).map(k => (k, k))
    VersionedTable.write(spark, t, rows.toDF("k", "v"), Nil,
      transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    VersionedTable.write(spark, t, Seq((9999L, 1L)).toDF("k", "v"), Nil,
      mode = "append") // v2 inherits the spec
    // v3: overwrite WITHOUT transforms — plain layout, spec cleared
    VersionedTable.write(spark, t, Seq((1L, 1L)).toDF("k", "v"), Nil)
    assert(VersionedTable.read(spark, t).count() == 1)
    // restore to v2: the files AND the transform spec come back together
    VersionedTable.restore(spark, t, 2L)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v"), "derived layout must stay hidden after restore")
    assert(r.count() == 301)
    // derived-dir pruning works again off the restored spec
    val (d, s, n) = VersionedTable.readPruned(spark, t, col("k") < 100L)
    assert(d.count() == 100 && s < n, s"restored spec must prune dirs: $s of $n")
    // the rolled-back plain-layout version stays auditable
    assert(VersionedTable.read(spark, t, asOfVersion = Some(3L)).count() == 1)
    // appends after the restore inherit the restored spec and prune
    VersionedTable.write(spark, t, Seq((50000L, 5L)).toDF("k", "v"), Nil, mode = "append")
    val (d2, s2, _) = VersionedTable.readPruned(spark, t, col("k") === 50000L)
    assert(d2.count() == 1 && s2 == 1)
  }

  test("deleteMOR: tombstone deltas delete keys O(batch); compaction materializes; upsert resurrects") {
    val t = table()
    VersionedTable.write(spark, t,
      df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)), Seq("p"))
    // delete k=2 via a tombstone delta — no base rewrite
    val v2 = VersionedTable.deleteMOR(spark, t, df((2L, "a", 100L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    def keys() = VersionedTable.read(spark, t).select("k").as[Long].collect().sorted.toSeq
    assert(keys() == Seq(1L, 3L))
    // the base partition's files are untouched (delta-only write)
    assert(VersionedTable.read(spark, t, asOfVersion = Some(1L)).count() == 3)
    // readPruned still works over the tombstoned snapshot
    val (dp, _, _) = VersionedTable.readPruned(spark, t, col("k") === 2L)
    assert(dp.count() == 0)
    val (dp1, _, _) = VersionedTable.readPruned(spark, t, col("k") === 1L)
    assert(dp1.select("v").as[Long].collect().toSeq == Seq(10L))
    // CDF reports the delete
    val cdf = VersionedTable.changes(spark, t, 1L, v2, key = "k", partitionCols = Seq("p"))
    assert(cdf.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSeq == Seq(2L))
    // a LOWER-precombine tombstone loses to the base row (no delete)
    VersionedTable.deleteMOR(spark, t, df((1L, "a", 5L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(keys() == Seq(1L, 3L), "stale tombstone must not delete a newer row")
    // a higher-precombine upsert resurrects the deleted key
    VersionedTable.upsertMOR(spark, t, df((2L, "a", 200L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(keys() == Seq(1L, 2L, 3L))
    assert(VersionedTable.read(spark, t).filter(col("k") === 2L)
      .select("v").as[Long].head() == 200L)
    // delete again, then compact: the deletion is physical, merged state intact
    VersionedTable.deleteMOR(spark, t, df((2L, "a", 300L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(keys() == Seq(1L, 3L))
    VersionedTable.compactDeltas(spark, t)
    assert(keys() == Seq(1L, 3L))
    assert(VersionedTable.read(spark, t).columns.toSet == Set("k", "p", "v"))
    // txn-idempotent replay is a no-op
    val vd = VersionedTable.deleteMOR(spark, t, df((3L, "b", 999L)),
      key = "k", precombine = "v", partitionCols = Seq("p"), txn = Some(("app", 1L)))
    assert(VersionedTable.deleteMOR(spark, t, df((1L, "a", 999L)),
      key = "k", precombine = "v", partitionCols = Seq("p"), txn = Some(("app", 1L))) == vd)
    assert(keys() == Seq(1L))
    // empty batches are no-ops for both MOR writers (no empty delta files)
    val latest = VersionedTable.latestVersion(spark, t)
    assert(VersionedTable.deleteMOR(spark, t, df().filter(lit(false)),
      key = "k", precombine = "v", partitionCols = Seq("p")) == latest)
    assert(VersionedTable.upsertMOR(spark, t, df().filter(lit(false)),
      key = "k", precombine = "v", partitionCols = Seq("p")) == latest)
    assert(VersionedTable.latestVersion(spark, t) == latest)
  }

  test("deleteMOR routes tombstones through the derived layout of transform tables") {
    import graft.sinks.PartitionTransforms
    val t = table()
    VersionedTable.write(spark, t, (0L until 400L).map(k => (k, k)).toDF("k", "v"),
      Nil, transforms = Seq(PartitionTransforms.TruncateNum("k", 100)))
    VersionedTable.deleteMOR(spark, t,
      Seq((150L, 999L), (250L, 999L)).toDF("k", "v"),
      key = "k", precombine = "v", partitionCols = Nil)
    val r = VersionedTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v"))
    assert(r.count() == 398)
    assert(r.filter(col("k").isin(150L, 250L)).count() == 0,
      "tombstones must land in the derived dirs the keys live in")
    // and compaction materializes under the derived layout
    VersionedTable.compactDeltas(spark, t)
    assert(VersionedTable.read(spark, t).count() == 398)
    val (d, s, n) = VersionedTable.readPruned(spark, t, col("k") === 50L)
    assert(d.count() == 1 && s < n)
  }

  test("restore keeps delta merge tie-breaks: re-added deltas carry their original version") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    // two delta upserts with EQUAL precombine: later commit must win ties
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 7L)),
      key = "k", precombine = "v", partitionCols = Seq("p")) // v2: v=7
    VersionedTable.upsertMOR(spark, t, Seq((1L, "a", 7L, "win")).toDF("k", "p", "v", "tag"),
      key = "k", precombine = "v", partitionCols = Seq("p")) // v3: v=7, tag=win
    def tagNow() = VersionedTable.read(spark, t)
      .filter(col("k") === 1L).select("tag").as[String].head()
    assert(tagNow() == "win")
    VersionedTable.compactDeltas(spark, t) // v4 consumes the deltas
    // restore to v3: both delta files come back — the v3 one must STILL
    // outrank the v2 one on the equal-precombine tie
    VersionedTable.restore(spark, t, 3L)
    assert(tagNow() == "win",
      "restore must not scramble equal-precombine tie-breaks")
  }

  test("string stats compare in UTF8 byte order: supplementary chars neither mis-prune nor mis-bypass") {
    // U+10000 sorts BELOW U+E000 in Java's UTF-16 order but ABOVE it in
    // Spark's UTF8String byte order (the order min/max were collected in)
    val supp = new String(Character.toChars(0x10000))
    val t = table()
    VersionedTable.write(spark, t,
      Seq(("", "a", 1L), (supp, "a", 2L)).toDF("s", "p", "v"), Seq("p"),
      statsCols = Seq("s"))
    val (d, _, _) = VersionedTable.readPruned(spark, t, col("s") === "")
    assert(d.count() == 1, "stats pruning under the wrong order loses the row")
    // MOR bypass: the delta range [U+E000, U+10000] OVERLAPS the base
    // file's [U+E000, U+E000] — Java order would call them disjoint and
    // un-merge the live update
    val t2 = table()
    VersionedTable.write(spark, t2,
      Seq(("", "a", 1L)).toDF("k", "p", "v"), Seq("p"), statsCols = Seq("k"))
    VersionedTable.upsertMOR(spark, t2,
      Seq(("", "a", 100L), (supp, "a", 100L)).toDF("k", "p", "v"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val got = VersionedTable.read(spark, t2).filter(col("k") === "")
      .select("v").as[Long].collect().toSeq
    assert(got == Seq(100L), s"delta update must win through the merge, got $got")
  }

  test("bloom probe bypasses base files range tests cannot clear (scattered updates)") {
    val t = table()
    // four base files with INTERLEAVED keys: every file spans ~0..399, so
    // range disjointness can never prune any of them
    (0 until 4).foreach { i =>
      VersionedTable.write(spark, t,
        (0L until 100L).map(j => (j * 4 + i, "a", j * 4 + i)).toDF("k", "p", "v")
          .coalesce(1),
        Seq("p"), mode = if (i == 0) "overwrite" else "append",
        statsCols = Seq("k"), bloomCols = Seq("k"))
    }
    // the update touches keys ≡ 1 (mod 4) — only file i=1 holds them
    VersionedTable.upsertMOR(spark, t,
      Seq((1L, "a", 99999L), (5L, "a", 88888L)).toDF("k", "p", "v"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val r = VersionedTable.read(spark, t)
    assert(r.count() == 400)
    assert(r.filter(col("k") === 1L).select("v").as[Long].head() == 99999L)
    assert(r.filter(col("k") === 5L).select("v").as[Long].head() == 88888L)
    assert(r.filter(col("k") === 2L).select("v").as[Long].head() == 2L)
    // the bloom probe clears the three files without the touched keys
    val windowScans = windowScanFiles(r)
    assert(windowScans.size == 2,
      s"expected only the key-holding base file + the delta under the window, got $windowScans")
    assert(r.inputFiles.length == 5, "bloom-bypassed files still read via the union")
    // conservative fallback: a dir whose delta rows exceed the probe cap
    // keeps EVERY base file in the merge (and stays correct)
    val savedCap = VersionedTable.morBloomProbeMaxKeys
    try {
      VersionedTable.morBloomProbeMaxKeys = 1L // the delta holds 2 rows
      val r2 = VersionedTable.read(spark, t)
      assert(windowScanFiles(r2).size == 5,
        "over-cap dir must keep all base files in the merge")
      assert(r2.filter(col("k") === 1L).select("v").as[Long].head() == 99999L)
    } finally VersionedTable.morBloomProbeMaxKeys = savedCap
  }

  test("graft.write.tasksPerPartition splits a rewrite across parallel writers, deterministically") {
    val t = table()
    VersionedTable.write(spark, t,
      (0L until 1000L).map(k => (k, "a", k)).toDF("k", "p", "v"), Seq("p"))
    spark.conf.set("graft.write.tasksPerPartition", "4")
    // AQE's size-aware coalescing correctly folds tiny salted shuffles
    // back together at TEST scale (at 100 TB it keeps them apart) — turn
    // it off to observe the split mechanism itself
    val savedCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      VersionedTable.upsert(spark, t,
        (0L until 1000L).map(k => (k, "a", k + 10000L)).toDF("k", "p", "v"),
        key = "k", precombine = "v", partitionCols = Seq("p"))
      val files = VersionedTable.read(spark, t).inputFiles
      assert(files.length > 1 && files.length <= 4,
        s"expected the rewrite split across up to 4 writers, got ${files.length}")
      val got = VersionedTable.read(spark, t)
        .select("k", "v").as[(Long, Long)].collect().toMap
      assert(got.size == 1000 && got(0L) == 10000L && got(999L) == 10999L)
    } finally {
      spark.conf.unset("graft.write.tasksPerPartition")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", savedCoalesce)
    }
    // default (knob unset) stays one writer per dir
    VersionedTable.upsert(spark, t,
      (0L until 1000L).map(k => (k, "a", k + 20000L)).toDF("k", "p", "v"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    assert(VersionedTable.read(spark, t).inputFiles.length == 1)
  }

  test("bloom probe refuses base files with possible null keys (null-null collapse)") {
    val t = table()
    val rows: Seq[(Option[Long], String, Long)] =
      Seq((Some(10L), "a", 1L), (None, "a", 2L))
    VersionedTable.write(spark, t, rows.toDF("k", "p", "v").coalesce(1),
      Seq("p"), statsCols = Seq("k"), bloomCols = Seq("k"))
    // the delta's key (999) is provably absent from the base bloom, but
    // the base file may hold NULL keys — a null delta key could collapse
    // with them, so the file must stay under the window
    VersionedTable.upsertMOR(spark, t,
      Seq((999L, "a", 100L)).toDF("k", "p", "v"),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    val r = VersionedTable.read(spark, t)
    assert(windowScanFiles(r).size == 2,
      "a possibly-null-keyed base file must never bypass")
    assert(r.count() == 3)
    assert(r.filter(col("k").isNull).count() == 1)
    assert(r.filter(col("k") === 999L).select("v").as[Long].head() == 100L)
  }

  test("expireLog keeps uncompacted MOR deltas readable: checkpoints stamp the delta manifest") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 2L)), Seq("p"))
    // v2: uncompacted delta upsert — stays live through every checkpoint
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 100L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    (3 to 25).foreach(i => VersionedTable.write(spark, t,
      df((100L + i, "a", i.toLong)), Seq("p"), mode = "append"))
    def upserted(): Long = VersionedTable.read(spark, t)
      .filter(col("k") === 1L).select("v").as[Long].head()
    assert(upserted() == 100L)
    // expiry proceeds: the v10/v20 checkpoints carry the delta manifest
    val gone = VersionedTable.expireLog(spark, t, keepVersions = 10)
    assert(gone.contains(2L), s"delta commit v2 should expire under a stamped floor: $gone")
    assert(upserted() == 100L, "upserted row lost after log expiry")
    // a surviving mid-history version still merges the delta
    assert(VersionedTable.read(spark, t, asOfVersion = Some(12L))
      .filter(col("k") === 1L).select("v").as[Long].head() == 100L)
    // vacuum must not reclaim manifest-referenced delta files
    VersionedTable.vacuum(spark, t, retainVersions = 2, orphanMinAgeMs = Long.MaxValue)
    assert(upserted() == 100L, "vacuum reclaimed a checkpoint-manifest-referenced delta")
  }

  test("expireLog refuses a legacy floor that would drop live MOR deltas") {
    import java.nio.charset.StandardCharsets.UTF_8
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 2L)), Seq("p"))
    VersionedTable.upsertMOR(spark, t, df((1L, "a", 100L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    (3 to 25).foreach(i => VersionedTable.write(spark, t,
      df((100L + i, "a", i.toLong)), Seq("p"), mode = "append"))
    // simulate a pre-manifest log: strip checkpointDeltas from every commit
    val logDir = java.nio.file.Paths.get(s"$t/_graft_log")
    val logStream = java.nio.file.Files.list(logDir)
    val logFiles =
      try logStream.iterator().asScala.toList finally logStream.close()
    logFiles
      .filter(_.getFileName.toString.matches("v\\d{20}\\.json")).foreach { p =>
      val s = new String(java.nio.file.Files.readAllBytes(p), UTF_8)
      val s2 = s.replaceAll(",\"checkpointDeltas\":\\[[^\\]]*\\]", "")
      if (s2 != s) {
        java.nio.file.Files.write(p, s2.getBytes(UTF_8))
        // drop Hadoop LocalFileSystem's checksum sidecar — the rewrite
        // invalidates it
        java.nio.file.Files.deleteIfExists(
          p.getParent.resolve("." + p.getFileName.toString + ".crc"))
      }
    }
    assert(VersionedTable.expireLog(spark, t, keepVersions = 10).isEmpty,
      "a manifest-less floor below a live delta commit must refuse to expire")
    assert(VersionedTable.read(spark, t)
      .filter(col("k") === 1L).select("v").as[Long].head() == 100L)
    // the table re-qualifies at the next (manifest-stamped) checkpoint
    (26 to 35).foreach(i => VersionedTable.write(spark, t,
      df((100L + i, "a", i.toLong)), Seq("p"), mode = "append"))
    val gone = VersionedTable.expireLog(spark, t, keepVersions = 5)
    assert(gone.contains(2L), s"stamped v30 floor should allow expiry: $gone")
    assert(VersionedTable.read(spark, t)
      .filter(col("k") === 1L).select("v").as[Long].head() == 100L)
  }

  test("null-count stats prune IS NULL / IS NOT NULL") {
    val t = table()
    val rows = (0L until 100L).map(k =>
      (k, if (k < 50) None else Some(k), if (k < 50) "a" else "b"))
    VersionedTable.write(spark, t, rows.toDF("k", "v", "p"), Seq("p"),
      statsCols = Seq("k", "v"))
    val (nullDf, sN, tN) = VersionedTable.readPruned(spark, t, col("v").isNull)
    assert(sN < tN, s"IS NULL must skip all-non-null files: $sN of $tN")
    assert(nullDf.count() == 50)
    val (nnDf, sNN, _) = VersionedTable.readPruned(spark, t, col("v").isNotNull)
    assert(sNN < tN, s"IS NOT NULL must skip all-null files: $sNN of $tN")
    assert(nnDf.count() == 50)
  }

  test("IS NULL pruning never reaches through casts (cast makes nulls from non-nulls)") {
    val t = table()
    val rows = (0L until 100L).map(k => (k, s"x$k", if (k < 50) "a" else "b"))
    VersionedTable.write(spark, t, rows.toDF("k", "s", "p"), Seq("p"),
      statsCols = Seq("k", "s"))
    // try_cast(s AS int) is NULL for EVERY row here, but s itself has zero
    // nulls — pruning from s's null count would skip every file and
    // return nothing.
    val (nullDf, sN, tN) = VersionedTable.readPruned(spark, t,
      expr("try_cast(s AS int)").isNull)
    assert(sN == tN, s"cast-wrapped IS NULL must scan conservatively: $sN of $tN")
    assert(nullDf.count() == 100)
    // and the mirror: all rows fail IS NOT NULL — files with zero s-nulls
    // must still be scanned, the exact predicate does the filtering
    val (nnDf2, sNN2, _) = VersionedTable.readPruned(spark, t,
      expr("try_cast(s AS int)").isNotNull)
    assert(sNN2 == tN)
    assert(nnDf2.count() == 0)
  }

  test("graft_pruned SQL table function reads through stats+bloom skipping") {
    val t = table()
    val rows = (0L until 1000L).map(k => (k, "a", k * 2))
    VersionedTable.write(spark, t, rows.toDF("k", "p", "v"), Seq("p"))
    VersionedTable.cluster(spark, t, sortCols = Seq("k"), partitionCols = Seq("p"),
      filesPerPartition = 8, bloomCols = Seq("k"))
    graft.functions.GraftFunctions.ensureRegistered(spark)
    assert(spark.sql(s"SELECT k FROM graft_pruned('$t', 'k >= 100 AND k < 110')")
      .as[Long].collect().sorted.toSeq == (100L until 110L))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_pruned('$t', 'k = 500')")
      .as[Long].head() == 1L)
    // AS OF version argument travels too
    VersionedTable.write(spark, t, df((5000L, "a", 0L)), Seq("p"), mode = "append")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_pruned('$t', 'k >= 0', 2)")
      .as[Long].head() == 1000L)
  }

  test("optimize coalesces fragmented partitions, preserves history and CDF silence") {
    val t = table()
    VersionedTable.write(spark, t, df((0L, "a", 0L), (100L, "b", 0L)), Seq("p"))
    (1 to 6).foreach(i =>
      VersionedTable.write(spark, t, df((i.toLong, "a", 0L)), Seq("p"), mode = "append"))
    val vBefore = VersionedTable.latestVersion(spark, t)
    val before = VersionedTable.read(spark, t)
    val aFilesBefore = before.inputFiles.count(_.contains("p=a/"))
    val bFilesBefore = before.inputFiles.filter(_.contains("p=b/")).toSet
    assert(aFilesBefore == 7)

    val v = VersionedTable.optimize(spark, t, maxFilesPerPartition = 4)
    assert(v == vBefore + 1)
    val after = VersionedTable.read(spark, t)
    assert(after.inputFiles.count(_.contains("p=a/")) < 7, "partition a coalesced")
    assert(after.inputFiles.filter(_.contains("p=b/")).toSet == bFilesBefore,
      "healthy partition b untouched")
    assert(after.select("k").as[Long].collect().toSet == (0L to 6L).toSet + 100L)
    // prior snapshot readable; optimize is invisible to the change feed
    assert(VersionedTable.read(spark, t, asOfVersion = Some(vBefore)).count() == 8)
    assert(VersionedTable.changes(spark, t, vBefore, v, key = "k",
      partitionCols = Seq("p")).count() == 0)
    // idempotent: nothing left to do
    assert(VersionedTable.optimize(spark, t, maxFilesPerPartition = 4) == v)
  }

  test("clusterZOrder prunes range queries on BOTH dimensions; 1-d sort only on one") {
    // two decorrelated pseudo-uniform dims over [0, 1000)
    val rows = (0L until 20000L).map(k => (k, (k * 7919) % 1000, (k * 104729) % 1000))
    def build(zorder: Boolean): String = {
      val t = table()
      VersionedTable.write(spark, t, rows.toDF("k", "x", "y"), partitionCols = Nil)
      if (zorder)
        VersionedTable.clusterZOrder(spark, t, Seq("x", "y"), Nil, filesPerPartition = 16)
      else
        VersionedTable.cluster(spark, t, Seq("x"), Nil, filesPerPartition = 16)
      t
    }
    def scannedFrac(t: String, pred: org.apache.spark.sql.Column): (Double, Long) = {
      val (df, scanned, total) = VersionedTable.readPruned(spark, t, pred)
      (scanned.toDouble / total, df.count())
    }
    val zt = build(zorder = true)
    val lt = build(zorder = false)
    val xPred = col("x") >= 100L && col("x") < 150L
    val yPred = col("y") >= 100L && col("y") < 150L
    val expectX = rows.count(r => r._2 >= 100 && r._2 < 150)
    val expectY = rows.count(r => r._3 >= 100 && r._3 < 150)

    val (zx, zxRows) = scannedFrac(zt, xPred)
    val (zy, zyRows) = scannedFrac(zt, yPred)
    assert(zxRows == expectX && zyRows == expectY, "pruning must not lose rows")
    assert(zx < 0.8 && zy < 0.8, f"z-order must prune both dims: x=$zx%.2f y=$zy%.2f")

    val (lx, lxRows) = scannedFrac(lt, xPred)
    val (ly, lyRows) = scannedFrac(lt, yPred)
    assert(lxRows == expectX && lyRows == expectY)
    assert(lx < 0.3, f"1-d sort prunes its own column hard: $lx%.2f")
    assert(ly == 1.0, "1-d sort cannot prune the other column")
    assert(zx + zy < lx + ly, "z-order wins on combined workloads")
  }

  test("q_cluster round trip: pruned range read equals the batch filter") {
    val out = VersionedTable.clusterRoundTrip(spark, sf)
    val expect = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") < 100000.0)
    assert(out.count() == expect.count())
  }

  test("graft-table-changes streams row-level CDC per commit, resumes from checkpoint") {
    val t = table()
    val work = Files.createTempDirectory("graft-cdc").toFile.getAbsolutePath
    VersionedTable.write(spark, t, df((1L, "a", 1L), (2L, "b", 1L)), Seq("p"))

    def runStream(): Unit = {
      val q = spark.readStream
        .format("graft-table-changes")
        .option("table.path", t)
        .option("key", "k")
        .option("partitionCols", "p")
        .option("startingVersion", "1")
        .load()
        .writeStream
        .format("parquet")
        .option("checkpointLocation", s"$work/ckpt")
        .option("path", s"$work/sink")
        .start()
      q.processAllAvailable(); q.stop()
    }

    VersionedTable.upsert(spark, t, df((1L, "a", 2L), (3L, "a", 1L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))            // v2
    runStream()
    val first = spark.read.parquet(s"$work/sink")
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(first == Set((1L, "update", 2L), (3L, "insert", 2L)), first)

    // two more commits land while the stream is down; restart catches up
    VersionedTable.delete(spark, t, col("k") === 2L, Seq("p"))           // v3
    VersionedTable.upsert(spark, t, df((4L, "b", 1L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))            // v4
    runStream()
    val all = spark.read.parquet(s"$work/sink")
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(all == first ++ Set((2L, "delete", 3L), (4L, "insert", 4L)), all)
  }

  test("CDC with preimages maintains an incremental aggregate exactly") {
    val t = table()
    val work = Files.createTempDirectory("graft-cdc-agg").toFile.getAbsolutePath
    VersionedTable.write(spark, t,
      df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)), Seq("p"))
    // the materialized view state: per-partition (sum, count), seeded v1
    val agg = scala.collection.mutable.Map[String, (Long, Long)](
      "a" -> (30L, 2L), "b" -> (5L, 1L))

    VersionedTable.upsert(spark, t, df((1L, "a", 17L), (4L, "b", 9L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))     // v2
    VersionedTable.delete(spark, t, col("k") === 2L, Seq("p"))   // v3

    val q = spark.readStream
      .format("graft-table-changes")
      .option("table.path", t).option("key", "k")
      .option("partitionCols", "p").option("includePreimage", "true")
      .option("startingVersion", "1")
      .load()
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.groupBy("p").agg(
            sum(when(col("_change_type").isin("insert", "update_postimage"), col("v"))
              .when(col("_change_type").isin("delete", "update_preimage"), -col("v"))
              .otherwise(0L)).as("dSum"),
            sum(when(col("_change_type").isin("insert"), 1L)
              .when(col("_change_type").isin("delete"), -1L)
              .otherwise(0L)).as("dCnt"))
          .collect().foreach { r =>
            val (s0, c0) = agg.getOrElse(r.getString(0), (0L, 0L))
            agg(r.getString(0)) = (s0 + r.getLong(1), c0 + r.getLong(2))
          }
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()

    // the incrementally-maintained aggregate equals a full recompute
    val direct = VersionedTable.read(spark, t).groupBy("p")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(agg.toMap == direct, s"incremental $agg vs recompute $direct")
  }

  test("graft_history and graft_changes SQL table functions") {
    val t = table()
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    VersionedTable.upsert(spark, t, df((1L, "a", 2L), (2L, "a", 1L)),
      key = "k", precombine = "v", partitionCols = Seq("p"))
    graft.functions.GraftFunctions.ensureRegistered(spark)
    assert(spark.sql(s"SELECT version, op FROM graft_history('$t') ORDER BY version")
      .as[(Long, String)].collect().toSeq == Seq((1L, "overwrite"), (2L, "upsert")))
    val cdf = spark.sql(
      s"SELECT k, _change_type FROM graft_changes('$t', 1, 2, 'k', 'p') ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(cdf == Seq((1L, "update"), (2L, "insert")))
  }

  test("q_cdf round trip equals the reconstructed change set") {
    val out = VersionedTable.cdfRoundTrip(spark, sf).cache()
    val types = out.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(types.keySet == Set("update", "insert"), types)
    val base = graft.sources.Tables.orders(spark, sf)
    assert(types("update") == base.filter(col("o_orderkey") % 100 === 0).count())
    assert(types("insert") == base.filter(col("o_orderkey") % 100 === 50).count())
    out.unpersist()
  }

  test("q_time_travel round trip sees the pre-upsert snapshot") {
    val out = VersionedTable.timeTravelRoundTrip(spark, sf)
    val base = graft.sources.Tables.orders(spark, sf)
    assert(out.count() == base.count())
    assert(out.select(max(col("version"))).as[Long].head() == 1L,
      "AS OF v1 must not see version-2 rows")
  }

  test("dotted or backticked column names are rejected at the API boundary") {
    // names feed bare col() resolution, hive dir segments, and stats-map
    // keys — a dot would misresolve as a nested path at SOME site, so the
    // boundary rejects instead
    val t = table()
    val dotted = Seq((1L, "a", 1L)).toDF("k", "p.x", "v")
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.write(spark, t, dotted, Seq("p.x"))
    }
    assert(e1.getMessage.contains("p.x"))
    VersionedTable.write(spark, t, df((1L, "a", 1L)), Seq("p"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, t, df((1L, "a", 2L)),
        key = "k", precombine = "v", partitionCols = Seq("p"),
        statsCols = Seq("`v`"))
    }
    assert(e2.getMessage.contains("stats"))
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.upsertMOR(spark, t, df((1L, "a", 2L)),
        key = "k.y", precombine = "v", partitionCols = Seq("p"))
    }
    assert(e3.getMessage.contains("k.y"))
  }
}
