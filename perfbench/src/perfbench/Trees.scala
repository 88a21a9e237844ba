package perfbench

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame

import graft.core.{Batch, Manifest, RunContext, StageCallback, StageContext, Status}

/** One task of a generated tree: its directory relative to the tree root
  * ("" for a root), its parent, the query stages of its pipeline (roots
  * only; children inherit), and its own `path` overrides per query. */
final class TreeTask(val rel: String, val parent: Option[TreeTask],
                     val queries: Seq[String]) {
  val own: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  /** Effective config when it was last stored (None: never stored). */
  var stored: Option[Map[String, String]] = None

  def root: TreeTask = parent.map(_.root).getOrElse(this)
  def chain: List[TreeTask] = parent.map(_.chain).getOrElse(Nil) :+ this
  def effective: Map[String, String] =
    parent.map(_.effective).getOrElse(Map.empty) ++ own
  def pipelineQueries: Seq[String] = root.queries
  def stageIds: Seq[String] =
    pipelineQueries.map("query-" + _) ++ pipelineQueries.map("sink-parquet:" + _)
  def pending: Boolean = !stored.contains(effective)

  /** The task's `task.yml`: roots carry the pipeline (queries, then one
    * parquet sink per query, as the shipped example pipelines do);
    * children carry only their overrides. */
  def yaml: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val cfg = own.toSeq.map { case (k, v) => s"  query-$k: {path: ${q(v)}}" }
    if (parent.isDefined) ("config:" +: cfg).mkString("", "\n", "\n")
    else (Seq("runnable: true", "pipeline:") ++
      queries.map(n => s"  - query-$n") ++
      queries.map(n => s"  - ${q("sink-parquet:" + n)}") ++
      Seq("config:") ++ cfg ++
      queries.map(n => s"  ${q("sink-parquet:" + n)}: {scope: s_$n}") ++
      Seq("scopes:") ++ queries.map(n => s"  s_$n: ${q(s"out/${n}_%s.parquet")}") ++
      Seq("input_ids: [1]")).mkString("", "\n", "\n")
  }

  /** The (pickup task, first stage) repype's pickup rule must choose when
    * this task re-runs: among its ancestors and itself, the stored task
    * whose first diverging stage is latest; none when that is stage 0. */
  def expectedPickup: (Option[TreeTask], Option[String]) = {
    val eff = effective
    val ids = stageIds
    def diverging(t: TreeTask): Option[Int] = t.stored match {
      case None => Some(0)
      case Some(cfg) =>
        val i = pipelineQueries.indexWhere(n => cfg.get(n) != eff.get(n))
        if (i < 0) None else Some(i)
    }
    val cands = chain.map(t => t -> diverging(t))
    cands.find(_._2.isEmpty) match {
      case Some((t, _)) => (Some(t), None)
      case None =>
        val (best, idx) = cands.maxBy(_._2.get)
        if (idx.get == 0) (None, None) else (Some(best), Some(ids(idx.get)))
    }
  }
}

/** Drives a generated task tree through the public batch API and checks
  * what each round stored. */
final class TreeDriver(ctx: Ctx, val root: JPath, val tasks: Seq[TreeTask]) {
  private val known = mutable.Map.empty[(String, String), String]
  private val spark = ctx.spark

  def dir(t: TreeTask): JPath = if (t.rel.isEmpty) root else root.resolve(t.rel)
  def hpath(t: TreeTask): String = dir(t).toString

  def writeSpecs(only: Seq[TreeTask] = tasks): Unit = only.foreach { t =>
    Files.createDirectories(dir(t))
    Files.writeString(dir(t).resolve("task.yml"), t.yaml)
  }

  /** Query `q` evaluated directly through `SparkEntry.queries` at dataset
    * `d`: the untimed reference the stored fields are checked against. */
  private def expected(q: String, d: String): String =
    known.getOrElseUpdate((q, d),
      Report.fingerprint(graft.SparkEntry.queries(q)(spark, d)))

  /** Every query of the tree gives a different result on datasets `a`
    * and `b`, so a field stored from the wrong `path` fails
    * [[verifyFields]]. */
  def distinguishes(opId: Long, a: String, b: String): Unit =
    for (q <- tasks.head.pipelineQueries)
      ctx.check(opId, expected(q, a) != expected(q, b),
        s"$q gives the same result on $a and $b")

  /** Live version of every stored field, per task. */
  def manifests(): Map[String, String] = tasks.flatMap { t =>
    val data = s"${hpath(t)}/data"
    if (!Files.exists(dir(t).resolve("data"))) Nil
    else Manifest.names(data).toSeq.map(n => s"${t.rel}/$n" -> Manifest.resolve(data, n))
  }.toMap

  /** One `Batch.load` + `pendingContexts` + `Batch.run` round under span
    * `parent`. Returns the contexts it ran. When traced, stage callbacks
    * and timestamped status events become task/pickup/stage/store spans. */
  def runPending(parent: Span, traced: Boolean): (Seq[RunContext], Boolean) = {
    val tracer = ctx.tracer
    val batch = new Batch(spark)
    tracer.timed("batch", "load", parent)(batch.load(root.toString))
    val (pending, _) = tracer.timed("batch", "pending", parent)(batch.pendingContexts)
    val cbEvents = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    val hookStart = Clock.now
    if (traced) for (c <- pending; st <- c.pipeline.stages) {
      val path = c.task.path.toUri.getPath
      val id = st.id
      val cb = new StageCallback {
        def apply(event: String, sc: StageContext, data: Map[String, DataFrame]): Unit =
          cbEvents.synchronized { cbEvents += ((Clock.now, path, event, id)) }
      }
      Seq("start", "end", "skip").foreach(e => st.addCallback(e, cb))
    }
    ctx.traceNs += Clock.now - hookStart
    val status = Status.create(new HPath(
      s"${ClockFs.scheme}://${ctx.work.resolve("status").resolve("status.jsonl")}"))
    val (ok, runSpan) =
      try tracer.timed("batch", "run", parent)(batch.run(Some(pending), Some(status)))
      finally status.close()
    lastEvents = ClockFs.eventsSince(runSpan.start)
    if (traced) {
      val t0 = Clock.now
      buildSpans(runSpan, lastEvents, cbEvents.toSeq, pending)
      ctx.traceNs += Clock.now - t0
    }
    (pending, ok)
  }

  var lastEvents: Seq[(Long, Map[String, Any])] = Nil

  private def buildSpans(run: Span, events: Seq[(Long, Map[String, Any])],
                         cbs: Seq[(Long, String, String, String)],
                         ctxs: Seq[RunContext]): Unit = {
    val tracer = ctx.tracer
    val scopeTask = mutable.Map.empty[String, String]
    events.foreach { case (_, e) =>
      (e.get("info"), e.get("task"), e.get("scope")) match {
        case (Some("enter"), Some(t: String), Some(s: String)) =>
          scopeTask(s) = new HPath(t).toUri.getPath
        case _ =>
      }
    }
    def taskOf(e: Map[String, Any]): Option[String] =
      e.get("scope").collect { case s: String =>
        scopeTask.collectFirst { case (k, v) if s == k || s.startsWith(k + "/") => v }
      }.flatten
    for ((enterT, e) <- events if e.get("info").contains("enter")) {
      val path = new HPath(e("task").toString).toUri.getPath
      val mine = events.filter { case (_, x) => taskOf(x).contains(path) }
      def at(info: String) = mine.collectFirst { case (t, x) if x.get("info").contains(info) => t }
      val doneT = at("completed").orElse(at("error")).getOrElse(run.end)
      val ctxOpt = ctxs.find(_.task.path.toUri.getPath == path)
      val task = tracer.add("task", path.stripPrefix(root.toString).stripPrefix("/"),
        run, enterT, doneT)
      task.attrs("path") = path
      task.attrs("failed") = at("error").isDefined
      task.attrs("stages_total") = ctxOpt.map(_.pipeline.stages.size).getOrElse(0)
      val mineCb = cbs.filter(_._2 == path)
      task.attrs("skipped") = mineCb.count(_._3 == "skip")
      val storingT = at("storing")
      val firstStage = mineCb.filter(_._3 == "start").map(_._1).minOption
      tracer.add("pickup", "pickup", task, enterT,
        firstStage.orElse(storingT).getOrElse(doneT))
      for ((t0, _, ev, id) <- mineCb if ev == "start") {
        val t1 = mineCb.collectFirst { case (t, _, "end", `id`) if t >= t0 => t }
          .getOrElse(storingT.getOrElse(doneT))
        tracer.add("stage", s"stage:$id", task, t0, t1)
      }
      storingT.foreach(s => tracer.add("store", "store", task, s, doneT))
    }
  }

  /** Check the round just run without touching Spark: exactly the
    * pending tasks ran, and each picked up from the ancestor and stage
    * repype's rule chooses (read from the status `start` events). Marks
    * them stored and returns them for [[verifyFields]]. */
  def verifyRound(opId: Long, ran: Seq[RunContext], ok: Boolean): Seq[TreeTask] = {
    ctx.check(opId, ok, s"Batch.run reported a failed task under $root")
    val ranPaths = ran.map(_.task.path.toUri.getPath).toSet
    val want = tasks.filter(_.pending).sortBy(hpath)
    ctx.check(opId, ranPaths == want.map(hpath).toSet,
      s"ran ${ranPaths.toSeq.sorted} != pending ${want.map(hpath)}")
    def local(x: Any): Option[String] =
      Option(x).map(v => new HPath(v.toString).toUri.getPath)
    val starts = lastEvents.map(_._2).filter(_.get("info").contains("start"))
    // tasks run in path order: each one's pickup sees those stored before
    for (t <- want) {
      val (pt, stage) = t.expectedPickup
      val got = starts.find(e => local(e.getOrElse("task", null)).contains(hpath(t)))
        .map(e => (local(e.getOrElse("pickup", null)),
          Option(e.getOrElse("first_stage", null)).map(_.toString)))
      ctx.check(opId, got.contains((pt.map(hpath), stage)),
        s"${t.rel}: pickup $got != expected ${(pt.map(hpath), stage)}")
      if (ok) t.stored = Some(t.effective)
    }
    if (ok) want else Nil
  }

  /** Every stored query field of `ran` fingerprints like its query
    * evaluated directly at the task's effective path. */
  def verifyFields(opId: Long, ran: Seq[TreeTask]): Unit =
    for (t <- ran) {
      val fields = ctx.attempt(opId, s"load ${t.rel}")(
        new Batch(spark).task(hpath(t)).get.load().values.head).getOrElse(Map.empty)
      for (q <- t.pipelineQueries) {
        val d = t.effective(q)
        val got = fields.get(q).map(Report.fingerprint)
        ctx.check(opId, got.contains(expected(q, d)),
          s"${t.rel}/$q at $d: stored $got != direct ${expected(q, d)}")
      }
    }
}

/** `tree_edit`: edit-and-rerun cycles over a parameter-sweep tree built
  * in set-up — a root running a slice of the `llm_corpus` pipeline, and
  * two children that each override a different stage with the other
  * dataset. A pass is one cycle: flip the `path` of the root's last query
  * stage (the pipeline's second half) between the two datasets, then
  * rerun the pending tasks — the root, and by cascade the child that
  * inherits that stage (the other overrides it, and stays complete) —
  * then repeat an unchanged re-check that must find nothing pending and
  * start no Spark job. Every cycle does the same work, so a run's figures
  * do not depend on its seed; the seed chooses the tree's initial
  * datasets. */
final class TreeEdit extends Workload {
  val name = "tree_edit"
  private var setA, setB = ""
  private var drv: TreeDriver = _
  private var root: TreeTask = _
  private val editS, noopS = mutable.ArrayBuffer.empty[Double]
  private var coldS = 0.0
  /** The `llm_corpus` slice the tree runs, each query sunk to parquet. */
  private val queries = Seq("q_url_dedup", "q_split_assign")
  /** The stage every cycle edits: the pipeline's second half. */
  private val edited = queries.last
  private def rechecks(ctx: Ctx): Int = if (ctx.opts.smoke) 2 else 5

  def setup(ctx: Ctx): Unit = {
    setA = ctx.dataset("set_a")
    setB = ctx.dataset("set_b")
    def other(d: String) = if (d == setA) setB else setA
    root = new TreeTask("", None, queries)
    queries.foreach(q => root.own(q) = if (ctx.rnd.nextBoolean()) setA else setB)
    // one child overrides the first stage, one the edited stage
    val children = queries.zipWithIndex.map { case (q, i) =>
      val c = new TreeTask(s"c$i", Some(root), Nil)
      c.own(q) = other(root.own(q))
      c
    }
    drv = new TreeDriver(ctx, ctx.work.resolve("edit"), root +: children)
    drv.writeSpecs()
    val opId = ctx.op()
    val build = ctx.tracer.open("bench", "build", null)
    val (ran, ok) = drv.runPending(build, traced = false)
    build.end = Clock.now
    coldS = Clock.secs(build.dur)
    // untimed, after the build so that it stays cold
    val stored = drv.verifyRound(opId, ran, ok)
    drv.distinguishes(opId, setA, setB)
    drv.verifyFields(opId, stored)
    // warm-up: two untimed cycles, one on each dataset, so timed cycles
    // do not pay first-plan code generation or the JIT's first compiles
    for (_ <- 1 to 2) {
      val warm = ctx.tracer.open("bench", "warmup", null)
      drv.verifyFields(opId, cycle(warm, traced = false, opId))
    }
  }

  /** Flip the edited stage and rerun the pending tasks under `parent`;
    * returns the tasks the round stored. */
  private def cycle(parent: Span, traced: Boolean, opId: Long): Seq[TreeTask] = {
    root.own(edited) = if (root.own(edited) == setA) setB else setA
    drv.writeSpecs(Seq(root))
    val (ran, ok) = drv.runPending(parent, traced)
    parent.end = Clock.now
    drv.verifyRound(opId, ran, ok)
  }

  def pass(ctx: Ctx, pass: Span, index: Int, traced: Boolean): Double = {
    val before = if (traced) drv.manifests() else Map.empty[String, String]
    val opId = ctx.op()
    val edit = ctx.tracer.open("bench", "edit", pass)
    val rerun = cycle(edit, traced, opId)
    var events = drv.lastEvents.size
    editS += Clock.secs(edit.dur)
    val noops = (1 to rechecks(ctx)).map { _ =>
      val id = ctx.op()
      val n = ctx.tracer.open("bench", "noop", pass)
      val (none, nok) = drv.runPending(n, traced)
      n.end = Clock.now
      events += drv.lastEvents.size
      noopS += Clock.secs(n.dur)
      ctx.check(id, nok && none.isEmpty,
        s"unchanged re-check found ${none.map(_.task.path)} pending")
      id -> n
    }
    pass.end = Clock.now
    // untimed: the re-checks started no Spark job; the rerun stored what
    // the queries compute
    org.apache.spark.perfbench.BusDrain(ctx.spark.sparkContext)
    noops.foreach { case (id, n) =>
      val jobs = ctx.listener.jobsIn(n.start, n.end).size
      ctx.check(id, jobs == 0, s"unchanged re-check started $jobs Spark jobs")
    }
    drv.verifyFields(opId, rerun)
    if (traced) {
      val st = ctx.dirStats(Seq(drv.root))
      val after = drv.manifests()
      pass.attrs ++= Seq("artifacts_files" -> st.files,
        "artifacts_sidecar_mb" -> st.sidecarBytes / 1e6, "status_events" -> events,
        "manifest_publishes" -> after.count { case (k, v) => !before.get(k).contains(v) })
    }
    Clock.secs(edit.dur) + noops.map(n => Clock.secs(n._2.dur)).sum
  }

  def storedMb(ctx: Ctx): Double = ctx.dirStats(Seq(drv.root)).mb

  def report(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("cold_s", coldS, "s"),
    ("edit_s", Report.median(editS.toSeq), "s"),
    ("noop_s", Report.median(noopS.toSeq), "s"))
}
