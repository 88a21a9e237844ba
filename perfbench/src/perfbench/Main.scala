package perfbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Json

/** Options of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, smoke: Boolean, work: String,
                      data: String, results: String)

/** State shared by a workload run: the session, the listener, the span
  * store and the operation/check tally. */
final class Ctx(val spark: SparkSession, val opts: Opts,
                val listener: BenchListener, val tracer: Tracer) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val work: JPath = Paths.get(opts.work).toAbsolutePath
  val rnd = new java.util.Random(opts.seed)

  /** Time spent in tracing hooks inside timed windows. */
  var traceNs = 0L

  var attempted = 0L
  private val failedOps = mutable.LinkedHashMap.empty[Long, String]
  def failed: Long = failedOps.size

  /** Count one operation; its id lets later checks mark it wrong. */
  def op(): Long = { attempted += 1; attempted }

  /** Record a correctness check against operation `id`. */
  def check(id: Long, ok: Boolean, what: => String): Unit =
    if (!ok && !failedOps.contains(id)) {
      failedOps(id) = what
      System.err.println(s"perfbench: check failed: $what")
    }

  /** Run `f` as operation `id`; an exception fails the operation. */
  def attempt[A](id: Long, what: String)(f: => A): Option[A] =
    try Some(f) catch {
      case NonFatal(e) =>
        check(id, ok = false, s"$what threw $e")
        None
    }

  def failures: Seq[String] = failedOps.values.toSeq

  /** The directory of the generated dataset at `scale`. */
  def dataset(scale: String): String = Paths.get(opts.data, scale).toString

  def dirStats(dirs: Seq[JPath]): DirStats = {
    var files, bytes, sidecarBytes = 0L
    for (d <- dirs if Files.exists(d)) {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val n = p.getFileName.toString
        val len = Files.size(p)
        files += 1
        bytes += len
        if (!(n.startsWith("part-") || n.endsWith(".crc") || n == "_SUCCESS"))
          sidecarBytes += len
      } finally s.close()
    }
    DirStats(files, bytes, sidecarBytes)
  }

  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

final case class DirStats(files: Long, bytes: Long, sidecarBytes: Long) {
  def mb: Double = bytes / 1e6
}

/** A benchmark workload: an untimed set-up, then timed passes. */
trait Workload {
  def name: String
  def setup(ctx: Ctx): Unit
  /** One timed repetition under span `pass`; runs its own output checks
    * outside the timed window and returns the pass's timed seconds. */
  def pass(ctx: Ctx, pass: Span, index: Int, traced: Boolean): Double
  /** Bytes left on disk by the most recent pass. */
  def storedMb(ctx: Ctx): Double
  /** The workload's named end-to-end metrics (name → (value, unit)). */
  def report(ctx: Ctx): Seq[(String, Double, String)]
}

object Main {

  val workloads: Map[String, () => Workload] = Map(
    "tree_edit" -> (() => new TreeEdit),
    "index_churn" -> (() => new IndexChurn))

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", m.get("--smoke").contains("1"), need("--work"),
      need("--data"), need("--results"))
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val jvmStart = Clock.now - 1000000L *
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val opts = parse(args)
    RunStamp.loadStart = RunStamp.loadavg()
    RunStamp.stealStart = RunStamp.stealTicks()
    val wl = workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))()
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opts.work).toAbsolutePath
    // local[nproc] with nproc shuffle partitions, as GraftCli runs
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config(s"spark.hadoop.fs.${ClockFs.scheme}.impl", classOf[ClockFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    graft.operators.DefaultStages.registerAll()
    val tracer = new Tracer
    val ctx = new Ctx(spark, opts, listener, tracer)

    val top = tracer.open("workload", wl.name, null)
    val setupSpan = tracer.add("setup", "setup", top, jvmStart, -1L)
    System.err.println(f"perfbench: session ready at ${Clock.secs(Clock.now - jvmStart)}%.1f s")
    wl.setup(ctx)
    setupSpan.end = Clock.now
    System.err.println(f"perfbench: set-up done at ${Clock.secs(Clock.now - jvmStart)}%.1f s")
    val setupS = Clock.secs(setupSpan.dur)

    // timed passes, at least one; smoke mode stops after one
    val loopStart = Clock.now
    val passes = mutable.ArrayBuffer.empty[(Span, Double)]
    while (passes.isEmpty || (!opts.smoke &&
      Clock.secs(Clock.now - loopStart) < opts.seconds)) {
      val p = tracer.open("phase", s"pass-${passes.size}", top)
      val secs = wl.pass(ctx, p, passes.size, opts.trace)
      if (p.end < 0) p.end = Clock.now
      passes += ((p, secs))
    }
    finish(ctx, wl, top, setupS, passes.toSeq)
  }

  private def finish(ctx: Ctx, wl: Workload, top: Span, setupS: Double,
                     passes: Seq[(Span, Double)]): Unit = {
    top.end = Clock.now
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"), ("run_s", Report.median(passes.map(_._2)), "s")) ++
      wl.report(ctx) ++ Seq(
      ("stored_mb", wl.storedMb(ctx), "MB"),
      ("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"))
    val layers: Seq[(String, Double, String)] =
      if (!ctx.opts.trace) Nil
      else Layers.compute(ctx, passes.map(_._1)) :+
        (("trace.overhead_s", Clock.secs(ctx.traceNs) / passes.size, "s"))

    // the full named report, then the result line
    val context = RunStamp.stamp(ctx)
    println(s"perfbench: workload=${wl.name} seed=${ctx.opts.seed} " +
      s"passes=${passes.size} trace=${ctx.opts.trace}")
    println("perfbench context: " + Json.canonical(context))
    e2e.foreach { case (n, v, u) => println(f"  $n%-18s $v%.6f $u") }
    layers.foreach { case (n, v, u) => println(f"  $n%-28s $v%.6f $u") }
    // the result line carries the metrics every workload reports (the
    // ones BENCHMARK.json gates), or with --trace 1 the per-layer ones
    val chosen =
      if (ctx.opts.trace) layers
      else e2e.filter(m => Set("setup_s", "run_s", "stored_mb")(m._1))
    val result = Map(
      "correct" -> (ctx.failed == 0),
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> chosen.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)

    val out = Paths.get(ctx.opts.results)
    Files.createDirectories(out)
    val stem = s"${wl.name}-seed${ctx.opts.seed}-trace${if (ctx.opts.trace) 1 else 0}"
    Files.writeString(out.resolve(s"$stem.json"), Json.canonical(Map(
      "context" -> context,
      "end_to_end" -> e2e.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "failures" -> ctx.failures,
      "result" -> result)) + "\n")
    if (ctx.opts.trace)
      Files.writeString(out.resolve(s"$stem-spans.json"), ctx.tracer.toJson + "\n")
    ctx.spark.stop()
    println(Json.canonical(result))
    System.out.flush()
  }
}

/** The run context stamped on each result: not a metric, it lets a noisy
  * run be recognised. */
object RunStamp {
  var loadStart = ""
  var stealStart = 0L

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case NonFatal(_) => "" }

  /** CPU time the hypervisor gave to other guests, in clock ticks of
    * 1/100 s, summed over all processors (`/proc/stat`, `steal`). On a
    * shared host it tells a slow run from a slow program. */
  def stealTicks(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+")(8).toLong
    catch { case NonFatal(_) => 0L }

  def stamp(ctx: Ctx): Map[String, Any] = Map(
    "nproc" -> ctx.nproc,
    "spark_version" -> ctx.spark.version,
    "seed" -> ctx.opts.seed,
    "workload" -> ctx.opts.workload,
    "seconds" -> ctx.opts.seconds,
    "smoke" -> ctx.opts.smoke,
    "loadavg_start" -> loadStart,
    "loadavg_end" -> loadavg(),
    "steal_s" -> (stealTicks() - stealStart) / 100.0)
}
