package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.{Bench, QueryTrace, SparkEntry}

/** The one diagnostic main. It runs on the session `Bench` measures with
  * (`SPARK_GRAFT_CPUS` cores, else the host's), in one of five modes:
  *
  *  - `trace <query> [sfDir]`: a warm pass, then a traced pass. Prints
  *    each job with the driver gap before it, each stage with its run,
  *    CPU and deserialization time, the progress of every micro-batch,
  *    the codegen compiles of each pass, and the `Bench` summary.
  *  - `sample <query> [sfDir] [topK]`: samples the stacks of the query
  *    thread and of the running executor task threads every 5 ms during
  *    a measured pass, and prints the hottest collapsed stacks.
  *  - `loop <query> [sfDir]`: runs the query until killed, for jstack.
  *  - `plan <outDir> <suffix> <query...|all>`: writes each query's
  *    formatted plan, untruncated, to `<outDir>/<query>_<suffix>.txt`:
  *    first the compile-time plan (the read-back the noop sink times),
  *    then the physical plan of every SQL execution the query ran while
  *    it was built (staging writes, commits, stream batches), each under
  *    its `JobLabel`.
  *  - `fixed [sfDir]`: this host's fixed costs (same-plan and fresh-plan
  *    jobs, empty stages, tiny shuffles, reads and writes), so that an
  *    optimization targets the layer that costs.
  *
  * Usage: `runMain graft.tools.Profile <mode> …`
  */
object Profile {
  private val DefaultSf = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    def sf(rest: List[String]) = rest.headOption.getOrElse(DefaultSf)
    val mode: SparkSession => Unit = args.toList match {
      case "trace" :: name :: rest => trace(_, name, sf(rest))
      case "sample" :: name :: rest => sample(_, name, sf(rest), rest.lift(1).fold(40)(_.toInt))
      case "loop" :: name :: rest => s =>
        while (true) { pass(s, name, sf(rest)); System.err.println("[loop] pass done") }
      case "plan" :: outDir :: suffix :: names if names.nonEmpty => plan(_, outDir, suffix, names)
      case "fixed" :: rest => fixed(_, sf(rest))
      case _ => throw new IllegalArgumentException("usage: Profile trace|sample|loop <query> " +
        "[sfDir] | plan <outDir> <suffix> <query...|all> | fixed [sfDir]")
    }
    val spark = Bench.session(s"graft-profile-${args.head}")
    try mode(spark) finally spark.stop()
  }

  private def query(name: String) =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))

  private def pass(spark: SparkSession, name: String, sf: String): Unit =
    query(name)(spark, sf).write.mode("overwrite").format("noop").save()

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def trace(spark: SparkSession, name: String, sf: String): Unit = {
    val trace = QueryTrace.attach(spark)
    val c0 = compiles()
    pass(spark, name, sf)
    val c1 = compiles()
    trace.reset()
    pass(spark, name, sf)
    val s = trace.snapshot()
    println(f"[trace] $name wall=${s.wallSec}%.2f s, ${s.jobs.size} jobs, " +
      s"${s.stages.size} stages, compiles warm=${c1 - c0} measured=${compiles() - c1}")
    val stageName = s.stages.map(st => st.id -> st.name).toMap
    var prevEnd = s.startMs
    s.jobs.foreach { j =>
      val what =
        if (j.label.nonEmpty) j.label else s"(no label) ${stageName.getOrElse(j.stageIds.max, "")}"
      println(f"[trace] job=${j.id}%4d gap=${math.max(0L, j.startMs - prevEnd) / 1e3}%6.2fs " +
        f"run=${(j.endMs - j.startMs) / 1e3}%6.2fs  ${what.take(100)}")
      prevEnd = math.max(prevEnd, j.endMs)
    }
    s.stages.sortBy(-_.runMs).foreach { st =>
      println(f"[trace] stage=${st.id}%4d tasks=${st.tasks}%4d run=${st.runMs / 1e3}%7.2fs " +
        f"cpu=${st.cpuNs / 1e9}%7.2fs deser=${st.deserMs / 1e3}%6.2fs  ${st.name.take(100)}")
    }
    s.progress.foreach(p => println(s"[trace] progress ${p.json}"))
    println(s"[trace] summary ${s.summary.json}")
  }

  private def sample(spark: SparkSession, name: String, sf: String, topK: Int): Unit = {
    pass(spark, name, sf)
    val driver = Thread.currentThread()
    val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var on = true
    val sampler = new Thread(() =>
      while (on) {
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          // idle pool threads keep the task-thread name, parked: not work
          val task = t.getState == Thread.State.RUNNABLE &&
            t.getName.startsWith("Executor task launch")
          val who = if (t eq driver) "query" else if (task) "task" else ""
          val frames = st.take(8).map(e => s"${e.getClassName}.${e.getMethodName}")
          if (who.nonEmpty && st.nonEmpty) counts(s"$who: " + frames.mkString(" <- ")) += 1
        }
        Thread.sleep(5)
      })
    val t0 = System.nanoTime()
    sampler.start()
    pass(spark, name, sf)
    on = false
    sampler.join()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[sample] $name wall=$wall%.2f s, samples=${counts.values.sum}")
    counts.toSeq.sortBy(-_._2).take(topK).foreach { case (k, n) => println(f"[sample] $n%5d  $k") }
  }

  private def plan(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    spark.conf.set("spark.sql.maxPlanStringLength", (Int.MaxValue - 15).toString)
    Files.createDirectories(Paths.get(outDir))
    // (label, plan) of each SQL execution, in start order: the execution
    // start event carries the action's job description, which a
    // QueryExecutionListener (called later, off the action's thread) cannot
    val executed = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executed.synchronized {
          executed += (s.description.takeWhile(_ != '\n') -> s.physicalPlanDescription); ()
        }
        case _ => ()
      }
    }
    def drain(): Seq[(String, String)] = {
      GraftSparkShim.waitListenerBusEmpty(spark.sparkContext)
      executed.synchronized { try executed.toList finally executed.clear() }
    }
    spark.sparkContext.addSparkListener(listener)
    val all = if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else names
    try all.foreach { name =>
      drain()
      val text =
        try {
          val compiled = query(name)(spark, DefaultSf).queryExecution.explainString(FormattedMode)
          compiled + drain().zipWithIndex.map { case ((label, p), i) =>
            s"\n== action ${i + 1}: $label ==\n$p"
          }.mkString
        } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), text)
      println(s"[plan] wrote $outDir/${name}_$suffix.txt")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def fixed(spark: SparkSession, sf: String): Unit = {
    def time(label: String, reps: Int)(body: Int => Unit): Unit = {
      body(0)
      val t0 = System.nanoTime()
      (1 to reps).foreach(body)
      println(f"[fixed] $label%-40s ${(System.nanoTime() - t0) / 1e6 / reps}%8.1f ms/op")
    }
    def noop(df: Dataset[_]): Unit = df.write.mode("overwrite").format("noop").save()
    def shuffle(i: Int) =
      spark.range(1000).withColumn("k", pmod(col("id") + i, lit(50))).groupBy("k").agg(sum("id"))
    time("same-plan range(1).count", 20)(_ => spark.range(1).count())
    time("fresh-plan filter+count", 20)(i =>
      spark.range(100).filter(col("id") > i).select((col("id") + i).as("x")).agg(sum("x"))
        .collect())
    time("32-task empty stage (count)", 20)(_ => spark.range(0, 3200, 1, 32).count())
    time("1-task noop write", 20)(_ => noop(spark.range(100)))
    time("fresh-plan 1-task noop write", 10)(i =>
      noop(spark.range(100).filter(col("id") =!= i).withColumn("y", col("id") * i)))
    time("tiny shuffle (groupBy) AQE", 10)(i => noop(shuffle(i)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("same-plan range(1).count AQE OFF", 20)(_ => spark.range(1).count())
    time("tiny shuffle (groupBy) AQE OFF", 10)(i => noop(shuffle(i)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    time("collect 1 row (executeTake)", 20)(i =>
      spark.range(100).filter(col("id") >= i).limit(1).collect())
    val li = s"$sf/lineitem.parquet"
    val schema = spark.read.parquet(li).schema
    time("read.parquet construct (infer)", 20)(_ => spark.read.parquet(li))
    time("read.parquet infer + count", 10)(_ =>
      spark.read.parquet(li).select(lit(1)).limit(1).count())
    time("read.schema().parquet + count", 10)(_ =>
      spark.read.schema(schema).parquet(li).select(lit(1)).limit(1).count())
    val tmp = graft.Scratch.dir("probe")
    time("tiny parquet write (1 file)", 10)(i =>
      spark.range(1000).coalesce(1).write.mode("overwrite").parquet(s"$tmp/t$i"))
    time("tiny parquet read+count", 10)(i => spark.read.parquet(s"$tmp/t${i % 10}").count())
  }
}
