package perfbench

import java.nio.file.{Files, Path}

/** Turns what the listeners and the tracer recorded into job times and
  * per-layer metrics. Runs after the session stopped. */
object Report {
  private val Ms = 1000000L
  /** Listener timestamps are whole milliseconds: an event may read up to
    * one millisecond before the span it belongs to. */
  private val Slack = 2 * Ms

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The streaming workload's jobs are its micro-batches, timed by the
    * streaming engine's own progress reports: each unit's runs are
    * matched in order to the triggers that fell inside its drain. A
    * traced drain gets one `streaming.batch` root span per trigger. */
  def streamJobs(d: DedupStream, runs: Seq[JobRun], tr: Tracer, listener: StreamListener): Seq[JobRun] = {
    val triggers = listener.triggers
    runs.groupBy(_.extra("drain").toInt).toSeq.sortBy(_._1).flatMap { case (drain, rs) =>
      val (start, end) = d.drainSpans(drain)
      val ts = triggers.filter(t => t.start * Ms >= start - Slack && t.start * Ms <= end).sortBy(_.start)
      rs.sortBy(_.extra("batch")).zipWithIndex.map { case (r, b) =>
        ts.lift(b) match {
          case None => r.copy(error = r.error.orElse(Some(s"no progress report for batch $b of drain $drain")))
          case Some(t) =>
            val root = if (!r.traced) None
              else Some(tr.add(Span(-1, "streaming.batch", t.start * Ms, t.end * Ms, -1, 0, drain * 1000 + b)))
            r.copy(wallNs = t.d("triggerExecution") * Ms, root = root, extra = r.extra ++ Map(
              "streaming.trigger_s" -> t.d("triggerExecution") / 1e3,
              "streaming.add_batch_s" -> t.d("addBatch") / 1e3,
              "streaming.latest_offset_s" -> t.d("latestOffset") / 1e3,
              "streaming.query_planning_s" -> t.d("queryPlanning") / 1e3,
              "streaming.commit_s" -> (t.d("walCommit") + t.d("commitOffsets")) / 1e3,
              "streaming.input_rows_ratio" -> t.inputRows.toDouble / d.batchDocs))
        }
      }
    }
  }

  /** Per-layer metrics of the traced jobs, each the median over those
    * jobs, plus the tracing overhead against the untraced jobs. */
  def perLayer(w: Workload, warm: Seq[JobRun], tr: Tracer, exec: ExecListener, plans: PlanListener,
               cores: Int, untracedWarm: Seq[Double]): Seq[(String, Double, String)] = {
    val sparkJobs = exec.jobs
    val stages = exec.stages.toSeq
    val tasksByStage = exec.tasks.toSeq.groupBy(_.stage)
    val planRecs = plans.all
    val traced = warm.filter(j => j.traced && j.root.nonEmpty && j.error.isEmpty)
    val perJob = traced.map { j =>
      val root = j.root.get
      val (rs, re) = (root.start - Slack, root.end)
      val base = tr.spans.filter(_.job == root.job).toSeq
      val jobsIn = sparkJobs.filter(s => s.start * Ms >= rs && s.start * Ms <= re)
      jobsIn.foreach(s => Trace.attach(tr, base, "exec.action", s.start * Ms, s.end * Ms))
      val plansIn = planRecs.filter(p => p.start * Ms >= rs && p.start * Ms <= re)
      plansIn.foreach(p => Trace.attach(tr, base, "plans.plan", p.start * Ms, p.end * Ms))
      val spans = tr.spans.filter(_.job == root.job).toSeq
      val self = Trace.selfTimes(spans)
      def sumDur(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e9
      val opSpans = spans.filter(_.name == "operators.call")
      val eager = jobsIn.count(s => s.pins || opSpans.exists(o => s.start * Ms >= o.start - Slack && s.start * Ms <= o.end))
      val st = stages.filter(s => s.submit * Ms >= rs && s.submit * Ms <= re)
      val tk = st.flatMap(s => tasksByStage.getOrElse(s.id, Nil))
      val actionS = Trace.unionLength(jobsIn.map(s => (math.max(s.start * Ms, root.start), math.min(s.end * Ms, root.end)))) / 1e9
      val taskS = tk.map(_.runMs).sum / 1e3
      val skew = if (st.isEmpty) 0.0 else {
        val longest = st.maxBy(s => s.complete - s.submit)
        val ds = tasksByStage.getOrElse(longest.id, Nil).map(t => (t.finish - t.launch).toDouble)
        val med = median(ds)
        if (ds.isEmpty || med <= 0) 1.0 else ds.max / med
      }
      val writingStages = st.filter(s => tasksByStage.getOrElse(s.id, Nil).exists(_.bytesWritten > 0))
      val layerSelf = Seq("sources", "operators", "plans", "exec", "streaming").map(l =>
        s"$l.self_s" -> self.getOrElse(l, 0L) / 1e9) :+ ("harness.self_s" -> self.getOrElse("job", 0L) / 1e9)
      Map(
        "sources.list_s" -> sumDur("sources.read"),
        "sources.scan_bytes" -> tk.map(_.bytesRead).sum.toDouble,
        "sources.scan_tasks" -> tk.count(_.bytesRead > 0).toDouble,
        "sources.sink_bytes" -> tk.map(_.bytesWritten).sum.toDouble,
        "sources.sink_files" -> j.sinkFiles.toDouble,
        "sources.sink_stage_s" -> writingStages.map(s => s.complete - s.submit).sum / 1e3,
        "operators.call_s" -> sumDur("operators.call"),
        "operators.eager_jobs" -> eager.toDouble,
        "plans.plan_s" -> self.getOrElse("plans", 0L) / 1e9,
        "plans.exchanges" -> plansIn.map(_.exchanges).sum.toDouble,
        "plans.broadcasts" -> plansIn.map(_.broadcasts).sum.toDouble,
        "plans.codegen_stages" -> plansIn.map(_.codegen).sum.toDouble,
        "exec.action_s" -> actionS,
        "exec.jobs" -> jobsIn.size.toDouble,
        "exec.stages" -> st.size.toDouble,
        "exec.tasks" -> tk.size.toDouble,
        "exec.task_s" -> taskS,
        "exec.cpu_s" -> tk.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> tk.map(_.gcMs).sum / 1e3,
        "exec.busy_frac" -> (if (actionS > 0) taskS / (actionS * cores) else 0.0),
        "exec.single_task_stage_s" -> st.filter(_.numTasks == 1).map(s => s.complete - s.submit).sum / 1e3,
        "exec.skew" -> skew,
        "exec.shuffle_write_bytes" -> tk.map(_.shuffleWrite).sum.toDouble,
        "exec.shuffle_read_bytes" -> tk.map(_.shuffleRead).sum.toDouble,
        "exec.shuffle_records" -> tk.map(_.shuffleRecords).sum.toDouble,
        "exec.spill_bytes" -> tk.map(_.spill).sum.toDouble,
        "trace.job_s" -> root.dur / 1e9,
        "trace.self_sum_err_s" -> math.abs(self.values.sum - root.dur) / 1e9
      ) ++ layerSelf ++ j.extra.filter(_._1.startsWith("streaming."))
    }
    def med(k: String) = median(perJob.map(_.getOrElse(k, 0.0)))
    val store = w match {
      case d: DedupStream => d.storeAtEnd.filter(_._3).map(x => (x._1.toDouble, x._2.toDouble))
      case _ => Nil
    }
    val whole = Map(
      "streaming.batches" -> (if (w.isInstanceOf[DedupStream]) traced.size.toDouble else 0.0),
      "streaming.store_files" -> median(store.map(_._1)),
      "streaming.store_bytes" -> median(store.map(_._2)),
      "trace.traced_jobs" -> traced.size.toDouble,
      "trace.overhead_s" -> (median(traced.map(_.wallNs / 1e9)) - median(untracedWarm)))
    Names.map { case (k, unit) => (k, whole.getOrElse(k, med(k.stripSuffix("_p50"))), unit) }
  }

  /** Every per-layer metric a traced run reports, with its unit. Per-job
    * values are medians over the traced jobs; `_p50` names the median of
    * the per-trigger value of the same name without the suffix. */
  val Names: Seq[(String, String)] = Seq(
    "sources.list_s" -> "s", "sources.scan_bytes" -> "bytes", "sources.scan_tasks" -> "count",
    "sources.sink_bytes" -> "bytes", "sources.sink_files" -> "count", "sources.sink_stage_s" -> "s",
    "sources.self_s" -> "s",
    "operators.call_s" -> "s", "operators.eager_jobs" -> "count", "operators.self_s" -> "s",
    "plans.plan_s" -> "s", "plans.exchanges" -> "count", "plans.broadcasts" -> "count",
    "plans.codegen_stages" -> "count", "plans.self_s" -> "s",
    "exec.action_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.single_task_stage_s" -> "s", "exec.skew" -> "ratio", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_records" -> "count", "exec.spill_bytes" -> "bytes",
    "exec.self_s" -> "s",
    "streaming.batches" -> "count", "streaming.trigger_s_p50" -> "s", "streaming.add_batch_s_p50" -> "s",
    "streaming.latest_offset_s" -> "s", "streaming.query_planning_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.input_rows_ratio" -> "ratio", "streaming.store_files" -> "count",
    "streaming.store_bytes" -> "bytes", "streaming.self_s" -> "s",
    "harness.self_s" -> "s",
    "trace.job_s" -> "s", "trace.self_sum_err_s" -> "s", "trace.traced_jobs" -> "count",
    "trace.overhead_s" -> "s")

  def writeSpans(p: Path, tr: Tracer): Unit = {
    val lines = tr.spans.map(s => Json.render(Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "parent" -> s.parent, "job" -> s.job)))
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
