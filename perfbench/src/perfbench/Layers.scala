package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced passes. Each is recorded from outside
  * the program: spans around calls into a layer, status events, stage
  * callbacks, and the benchmark's listener, whose jobs are linked to the
  * span that caused them by job group and time window. */
object Layers {

  val families = Seq("minhash", "ivf", "ivfpq", "knngraph")
  private val familyOps = Seq("write", "append", "ingest", "delete", "compact", "probe")

  /** Every per-layer metric with its unit, in report order. */
  val names: Seq[(String, String)] = Seq(
    "batch.load_s" -> "s", "batch.pending_s" -> "s",
    "batch.tasks_run" -> "count", "batch.tasks_failed" -> "count",
    "batch.noop_jobs" -> "count",
    "task.pickup_s" -> "s", "task.store_s" -> "s",
    "task.store_jobs" -> "count", "task.store_shuffle_mb" -> "MB",
    "task.stages_reused" -> "count", "task.stages_run" -> "count",
    "task.reuse_ratio" -> "ratio",
    "stage.query_s" -> "s", "stage.sink_s" -> "s", "stage.sql_s" -> "s",
    "stage.jobs" -> "count", "stage.skipped" -> "count",
    "artifacts.files" -> "count", "artifacts.mb" -> "MB",
    "status.events" -> "count", "manifest.publishes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_s" -> "s", "spark.cpu_s" -> "s",
    "spark.sched_delay_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.failed_tasks" -> "count",
    "spark.slot_busy_frac" -> "ratio") ++
    families.flatMap(f => familyOps.filter(o => o != "ingest" || f == "minhash")
      .map(o => s"$f.${o}_s" -> "s") ++ Seq(
      s"$f.jobs" -> "count", s"$f.tier_writes" -> "count",
      s"$f.index_mb" -> "MB")) ++ Seq(
    "self.batch_s" -> "s", "self.task_s" -> "s", "self.stage_s" -> "s",
    "self.spark_s" -> "s", "self.index_s" -> "s", "self.bench_s" -> "s")

  private def mb(b: Long): Double = b / 1e6
  private def ms(v: Long): Double = v / 1e3

  /** Span layers that are calls into the program. */
  private val programLayers = Set("batch", "task", "pickup", "stage", "store", "index")

  /** Link each job of `pass` to the span that caused it, as a `spark`
    * span of its own. Jobs the benchmark itself starts (output checks,
    * probe bookkeeping) sit under no program span and are left out. */
  private def linkJobs(ctx: Ctx, pass: Span): Seq[(JobRec, Span)] = {
    val within = ctx.tracer.subtree(pass)
    val taskSpans = within.filter(_.layer == "task")
    ctx.listener.jobsIn(pass.start, pass.end).flatMap { j =>
      val byGroup = taskSpans.find(t => t.contains(j.start) &&
        j.group == s"graft-task-${t.attrs.getOrElse("path", "")}")
      val parent = byGroup match {
        case Some(t) => ctx.tracer.innermost(ctx.tracer.subtree(t), j.start, t)
        case None => ctx.tracer.innermost(within, j.start, pass)
      }
      if (!programLayers(parent.layer)) None
      else {
        val s = ctx.tracer.add("spark", s"job-${j.id}", parent, j.start,
          math.max(j.start, j.end))
        s.attrs ++= Seq("group" -> j.group, "tasks" -> j.tasks,
          "stages" -> j.stages, "failed" -> j.failed)
        Some(j -> parent)
      }
    }
  }

  private def onePass(ctx: Ctx, pass: Span): Map[String, Double] = {
    val jobs = linkJobs(ctx, pass)
    val within = ctx.tracer.subtree(pass)
    val m = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { case (n, _) => m(n) = 0.0 }
    def spans(layer: String) = within.filter(_.layer == layer)
    def sumDur(ss: Seq[Span]) = ss.map(s => Clock.secs(s.dur)).sum
    def under(layer: String) = jobs.filter(_._2.layer == layer).map(_._1)

    val batch = spans("batch")
    m("batch.load_s") = sumDur(batch.filter(_.name == "load"))
    m("batch.pending_s") = sumDur(batch.filter(_.name == "pending"))
    val tasks = spans("task")
    m("batch.tasks_run") = tasks.size
    m("batch.tasks_failed") = tasks.count(_.attrs.get("failed").contains(true))
    val noops = within.filter(s => s.layer == "bench" && s.name == "noop")
    m("batch.noop_jobs") = jobs.count { case (j, _) => noops.exists(_.contains(j.start)) }

    m("task.pickup_s") = sumDur(spans("pickup"))
    m("task.store_s") = sumDur(spans("store"))
    val storeJobs = under("store")
    m("task.store_jobs") = storeJobs.size
    m("task.store_shuffle_mb") = mb(storeJobs.map(j => j.shuffleRead + j.shuffleWrite).sum)
    val stages = spans("stage")
    val total = tasks.map(_.attrs.getOrElse("stages_total", 0).asInstanceOf[Int]).sum
    m("task.stages_run") = stages.size
    m("task.stages_reused") = math.max(0, total - stages.size)
    m("task.reuse_ratio") = if (total == 0) 0.0 else m("task.stages_reused") / total

    m("stage.query_s") = sumDur(stages.filter(_.name.startsWith("stage:query-")))
    m("stage.sink_s") = sumDur(stages.filter(_.name.startsWith("stage:sink-")))
    val sqlIv = ctx.listener.sqlWindows.toArray(Array.empty[(Long, Long)]).toSeq
    m("stage.sql_s") = stages.map { s =>
      Clock.secs(Trace.unionLength(sqlIv.map { case (a, b) =>
        (math.max(a, s.start), math.min(b, s.end)) }))
    }.sum
    m("stage.jobs") = under("stage").size
    m("stage.skipped") = tasks.map(_.attrs.getOrElse("skipped", 0).asInstanceOf[Int]).sum

    m("artifacts.files") = pass.attrs.getOrElse("artifacts_files", 0L).asInstanceOf[Long].toDouble
    m("artifacts.mb") = pass.attrs.getOrElse("artifacts_sidecar_mb", 0.0).asInstanceOf[Double]
    m("status.events") = pass.attrs.getOrElse("status_events", 0).asInstanceOf[Int]
    m("manifest.publishes") = pass.attrs.getOrElse("manifest_publishes", 0).asInstanceOf[Int]

    val js = jobs.map(_._1)
    m("spark.jobs") = js.size
    m("spark.stages") = js.map(_.stages).sum
    m("spark.tasks") = js.map(_.tasks).sum
    m("spark.task_run_s") = ms(js.map(_.runMs).sum)
    m("spark.cpu_s") = js.map(_.cpuNs).sum / 1e9
    m("spark.sched_delay_s") = ms(js.map(_.schedMs).sum)
    m("spark.gc_s") = ms(js.map(_.gcMs).sum)
    m("spark.shuffle_read_mb") = mb(js.map(_.shuffleRead).sum)
    m("spark.shuffle_write_mb") = mb(js.map(_.shuffleWrite).sum)
    m("spark.input_mb") = mb(js.map(_.input).sum)
    m("spark.output_mb") = mb(js.map(_.output).sum)
    m("spark.spill_mb") = mb(js.map(_.spill).sum)
    m("spark.failed_tasks") = js.map(_.failedTasks).sum
    m("spark.slot_busy_frac") =
      ms(js.map(_.durMs).sum) / math.max(1e-9, ctx.nproc * Clock.secs(pass.dur))

    val index = spans("index")
    for (f <- families) {
      val fs = index.filter(_.attrs.get("family").contains(f))
      for (o <- familyOps if m.contains(s"$f.${o}_s")) {
        val os = fs.filter(_.attrs.get("op").contains(o))
        m(s"$f.${o}_s") =
          if (o == "probe") Report.median(os.map(s => Clock.secs(s.dur)))
          else sumDur(os)
      }
      m(s"$f.jobs") = jobs.count { case (j, p) => fs.exists(_.id == p.id) }
      m(s"$f.tier_writes") = fs.map(_.attrs.getOrElse("tier_writes", 0).asInstanceOf[Int]).sum
      m(s"$f.index_mb") = pass.attrs.getOrElse(s"$f.index_mb", 0.0).asInstanceOf[Double]
    }

    val self = ctx.tracer.selfTimes(ctx.tracer.subtree(pass))
    def selfOf(layers: String*) = layers.map(self.getOrElse(_, 0.0)).sum
    m("self.batch_s") = selfOf("batch")
    m("self.task_s") = selfOf("task", "pickup", "store")
    m("self.stage_s") = selfOf("stage")
    m("self.spark_s") = selfOf("spark")
    m("self.index_s") = selfOf("index")
    m("self.bench_s") = selfOf("phase", "bench")
    pass.attrs ++= self.map { case (k, v) => s"self.$k" -> v }
    m.toMap
  }

  /** Median over the passes of each per-layer metric. */
  def compute(ctx: Ctx, traced: Seq[Span]): Seq[(String, Double, String)] = {
    org.apache.spark.perfbench.BusDrain(ctx.spark.sparkContext)
    val per = traced.map(onePass(ctx, _))
    names.map { case (n, u) => (n, Report.median(per.map(_(n))), u) }
  }
}
