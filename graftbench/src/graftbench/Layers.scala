package graftbench

import scala.collection.mutable

/** Per-layer metrics from a traced run: the benchmark's spans, spans
  * rebuilt from Spark's micro-batch progress, and scheduler events. Job,
  * task and commit counters are taken inside the first round of fixed
  * work (`ctx.window`), so they repeat exactly between runs.
  */
object Layers {

  /** Progress phases in the order MicroBatchExecution runs them, with the
    * layer each belongs to.
    */
  private val Phases = Seq(
    "latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
    "queryPlanning" -> "streaming", "addBatch" -> "sinks", "commitOffsets" -> "streaming")

  /** Bench spans, plus one span per micro-batch (streaming) with its
    * phases laid end to end, plus one span per Spark job (spark).
    */
  def allSpans(ctx: Ctx): Seq[Span] = {
    val rec = new Recorder(true)
    ctx.rec.all.foreach(s => rec.add(s.layer, s.name, s.start, s.end, 0, s.req))
    ctx.ev.progress.toList.filter(_.durations.contains("triggerExecution")).foreach { p =>
      val req = s"${p.query}#${p.batchId}"
      rec.add("streaming", "batch", p.startMs, p.startMs + p.durations("triggerExecution"), 0, req)
      var t = p.startMs
      Phases.foreach { case (phase, layer) =>
        p.durations.get(phase).filter(_ > 0).foreach { d =>
          rec.add(layer, phase, t, t + d, 0, req)
          t += d
        }
      }
    }
    ctx.ev.jobs.toList.filter(_.end > 0).foreach { j =>
      rec.add("spark", s"job ${j.label}".trim, j.start.toDouble, j.end.toDouble, 0,
        if (j.batch.isEmpty) "" else s"batch#${j.batch}")
    }
    withParents(rec.all)
  }

  /** Parent = the shortest other span that contains this one. */
  private def withParents(spans: Seq[Span]): Seq[Span] = {
    val byLen = spans.sortBy(s => s.end - s.start)
    spans.map { s =>
      val p = byLen.find(o => o.id != s.id && o.start <= s.start && o.end >= s.end &&
        (o.end - o.start > s.end - s.start || o.id < s.id))
      s.copy(parent = p.map(_.id).getOrElse(0))
    }
  }

  def compute(ctx: Ctx, workload: String): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val (lo, hi) = ctx.window
    val wallS = (hi - lo) / 1e3
    val ev = ctx.ev

    // scheduler: jobs, stages, tasks inside the fixed-work window
    val jobs = ev.jobs.toList.filter(j => j.end > 0 && j.start >= lo && j.end <= hi)
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = ev.tasks.toList.filter(t => stageIds.contains(t.stage))
    val jobIntervals = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val busyS = Intervals.union(jobIntervals, lo, hi) / 1e3
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    val runS = tasks.map(_.runMs).sum / 1e3
    out("spark.jobs") = jobs.size
    out("spark.stages") = tasks.map(_.stage).distinct.size
    out("spark.tasks") = tasks.size
    out("spark.actions") = ev.actions.count { case (_, t) => t >= lo && t <= hi }
    out("spark.driver_gap_s") = wallS - busyS
    out("spark.task_cpu_s") = cpuS
    out("spark.task_run_s") = runS
    out("spark.cpu_run_ratio") = if (runS > 0) cpuS / runS else 0.0
    out("spark.deser_s") = tasks.map(_.deserMs).sum / 1e3
    out("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
    out("spark.shuffle_mb") = tasks.map(_.shuffleBytes).sum / 1048576.0
    out("spark.spill_mb") = tasks.map(_.spillBytes).sum / 1048576.0

    // fixed cost vs task CPU: the premise the ingest workloads rest on
    val runByStage = tasks.groupBy(_.stage).map { case (s, ts) => s -> ts.map(_.runMs).sum / 1e3 }
    val perJobOverheadS = jobs.map { j =>
      val run = j.stages.flatMap(runByStage.get).sum
      math.max(0.0, (j.end - j.start) / 1e3 - run / ctx.cores)
    }.sum
    val fixedS = out("spark.driver_gap_s") + perJobOverheadS
    out("bench.fixed_cost_s") = fixedS
    out("bench.premise_ok") = if (workload != "ingest_append" || fixedS > cpuS) 1.0 else 0.0

    // kernel CPU: tasks of the jobs run under the operators spans (the
    // separate enrichment pass of ingest_append)
    val opSpans = ctx.rec.all.filter(_.layer == "operators")
    val kernelStages = ev.jobs.toList.filter(j => j.end > 0 &&
      opSpans.exists(s => j.start >= s.start - 1 && j.end <= s.end + 1)).flatMap(_.stages).toSet
    out("functions.task_cpu_s") = ev.tasks.toList.filter(t => kernelStages.contains(t.stage)).map(_.cpuNs).sum / 1e9

    // sink commit phases, grouped by the program's own job labels
    val batchJobs = jobs.filter(_.batch.nonEmpty)
    def phase(label: String): String =
      if (label.contains("probe") || label.contains("envelope")) "probe"
      else if (label.contains("stage")) "stage"
      else "other"
    Seq("probe", "stage", "other").foreach { ph =>
      val js = jobs.filter(j => phase(j.label) == ph)
      out(s"sinks.phase_jobs.$ph") = js.size
      out(s"sinks.phase_s.$ph") = js.map(j => (j.end - j.start) / 1e3).sum
    }

    // micro-batch progress inside the window
    val prog = ev.progress.toList
      .filter(p => p.startMs >= lo && p.startMs <= hi && p.durations.contains("addBatch"))
    def meanOf(keys: String*): Double =
      if (prog.isEmpty) 0.0 else prog.map(p => keys.map(k => p.durations.getOrElse(k, 0L)).sum).sum.toDouble / prog.size
    out("streaming.batches") = prog.size
    out("streaming.planning_ms") = meanOf("queryPlanning")
    out("streaming.wal_ms") = meanOf("walCommit", "commitOffsets")
    out("sources.offset_ms") = meanOf("latestOffset")
    out("sources.get_batch_ms") = meanOf("getBatch")
    out("sinks.commit_ms") = meanOf("addBatch")
    out("sinks.jobs_per_commit") = if (prog.isEmpty) 0.0 else batchJobs.size.toDouble / prog.size
    val gaps = prog.groupBy(_.query).values.flatMap { ps =>
      val s = ps.sortBy(_.batchId)
      s.zip(s.drop(1)).map { case (a, b) => b.startMs - (a.startMs + a.durations("triggerExecution")) }
    }.toSeq
    out("streaming.idle_ms") = if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size

    // self time per layer over every span in the window
    val spans = allSpans(ctx).filter(s => s.start >= lo && s.end <= hi)
    val children = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = Intervals.union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      self(s.layer) += (s.end - s.start - covered) / 1e3
    }
    Seq("sources", "streaming", "operators", "sinks", "catalog", "spark")
      .foreach(l => out(s"$l.self_s") = self(l))
    out("bench.trace_spans") = spans.size

    ctx.layer.foreach { case (k, v) => out(k) = v }
    out.toMap
  }
}
