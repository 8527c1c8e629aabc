package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Pipeline, Prep, SparkEntry, Tables}

/** One benchmark run of one workload, measured from outside the engine:
  * every number comes from timing calls into public entry points and
  * from the harness's own [[Probe]] listener.
  *
  * Load is a closed loop with one client: the next operation starts when
  * the previous one returns. Untraced runs keep only the counters the
  * end-to-end metrics need; a traced run alternates untraced and traced
  * operations (so tracing overhead is measured on the same host state),
  * takes the per-layer numbers from the traced ones, and adds the
  * planted-sleep self-check and, for `session_mix`, the two-scale
  * fixed-cost fit.
  *
  * Writes the result record (`--out`) and the full layered record with
  * spans (`--dump`). Exit code 0 means the run finished; correctness is
  * in the record.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, dataAlt: Option[String], src: String, out: String, dump: String,
      work: String, expect: Map[String, Long], keys: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m.get("data-alt"), m("src"), m("out"), m("dump"), m("work"),
      m.getOrElse("expect", "").split(',').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split('='); k -> v.toLong
      }.toMap,
      m.getOrElse("keys", "").split(',').toSeq.filter(_.nonEmpty))
  }

  def main(argv: Array[String]): Unit = {
    val run = new Run(parse(argv))
    try run.execute() finally run.stop()
  }
}

/** Per-operation record: wall time, the listener window it produced, and
  * (traced) its phase split.
  */
final case class Op(key: String, owner: String, wallS: Double, cpuS: Double, startMs: Long,
    endMs: Long, traced: Boolean, window: Window, storageB: Long, phases: Map[String, Double],
    ok: Boolean)

final class Run(a: Main.Args) {
  private val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  private val probe = new Probe
  private val tracer = new Tracer
  private var spark: SparkSession = _
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val extra = mutable.LinkedHashMap.empty[String, String]
  private val allJobs = mutable.ArrayBuffer.empty[JobRec]
  private val allBatches = mutable.ArrayBuffer.empty[BatchRec]
  private val loadStart = Host.loadavg()
  private val cpuStart = Host.cpuTicks()
  /** Operations per pass over the workload's operation set. */
  private var cycleLen = 1
  /** Whether operations are settle runs, checked but not recorded. */
  private var settling = false

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def fail(what: String): Unit = {
    failed += 1
    errors += what
    note(s"FAILED: $what")
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Drains the listener bus and returns everything delivered since the
    * previous call; traced windows are also kept for the span dump.
    */
  private def window(): Window = {
    Bus.drain(spark.sparkContext)
    val w = probe.take()
    allJobs ++= w.jobs
    allBatches ++= w.batches
    w
  }

  private def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Drops every sealed session store, as a batch user who starts a fresh
    * job pays for: memo references, their persisted blocks, then a GC so
    * the next operation starts from a settled heap.
    */
  private def release(): Unit = {
    graft.util.Memo.clearAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  // ---- set-up ---------------------------------------------------------

  /** Session start and table warm-up. */
  private def setupOnce(): Double = {
    val t0 = System.nanoTime()
    spark = tracer.span("session_start", "setup") { GraftSession.local() }
    spark.sparkContext.addSparkListener(probe)
    tracer.bind(spark.sparkContext)
    tracer.span("table_warmup", "setup") {
      Tables.names.foreach(n => Tables(spark, a.data, n).count(): Unit)
    }
    secs(t0)
  }

  /** Sets up [[Run.SetupSamples]] times (stopping the previous session and
    * its stores in between) and reports the median as `setup_s`; the last
    * session stays up for the measured operations. The first set-up runs
    * in a cold JVM, so the median is a session restart in a warm one, the
    * same measurement on every workload (traced runs trace it too).
    */
  private def setup(): Unit = {
    val times = (1 to Run.SetupSamples).map { i =>
      if (i > 1) {
        graft.util.Memo.clearAll()
        stop()
      }
      probe.traced = a.trace
      tracer.on = a.trace
      val t = setupOnce()
      window(): Unit
      probe.traced = false
      tracer.on = false
      t
    }
    extra("setup_samples_s") = Json.arr(times.map(Json.num))
    e2e("setup_s") = Stats.median(times)
    note(s"set-up ${times.map(t => f"$t%.1f").mkString(" ")} s")
  }

  /** Builds every registered session memo ([[Prep.items]]), each timed and
    * traced on its own line; reports the prep and streaming layers.
    */
  private def prep(): Unit = {
    probe.traced = true
    tracer.on = true
    Prep.items.foreach { case (name, fn) =>
      val t = System.nanoTime()
      attempted += 1
      try tracer.span(s"prep $name", "prep") { fn(spark, a.data) }
      catch { case e: Throwable => fail(s"prep $name: $e") }
      layer(s"prep.${name}_s") = secs(t)
    }
    val w = window()
    probe.traced = false
    tracer.on = false
    layer("prep.storage_mb") = storageBytes() / 1048576.0
    layer("prep.sealed_rdds") = spark.sparkContext.getRDDStorageInfo.length.toDouble
    streamingMetrics(w.batches.toSeq, w.streamQueries)
  }

  // ---- operations -----------------------------------------------------

  /** Runs one timed operation. `body` returns its phase times, with a
    * `mismatch` entry when the output differs from its pin; a mismatch or
    * a throw counts as a failed operation.
    */
  private def op(key: String, owner: String, traced: Boolean)(body: => Map[String, Double]): Op = {
    window(): Unit
    probe.traced = traced
    tracer.on = traced
    attempted += 1
    val t0 = System.currentTimeMillis()
    val c0 = Host.cpuNs()
    val n0 = System.nanoTime()
    val phases =
      try Some(tracer.span(key, "op")(body))
      catch { case e: Throwable => fail(s"$key: $e"); None }
    val wall = secs(n0)
    val cpu = (Host.cpuNs() - c0) / 1e9
    val t1 = System.currentTimeMillis()
    val w = window()
    probe.traced = false
    tracer.on = false
    val mismatch = phases.exists(_.contains("mismatch"))
    if (mismatch) fail(s"$key: output differs from its pin")
    val o = Op(key, owner, wall, cpu, t0, t1, traced, w, storageBytes(),
      phases.getOrElse(Map.empty) - "mismatch", phases.nonEmpty && !mismatch)
    if (!settling) ops += o
    o
  }

  /** Closed loop: runs `next(i)` in whole cycles of `cycle` operations
    * until the measured window is spent, at least `minCycles` cycles. A
    * traced run alternates untraced and traced cycles (at least one of
    * each), so both see the same host state.
    *
    * Whole cycles for [[Run.SettleS]] come first, checked but not timed:
    * the JIT keeps compiling the engine's and Spark's driver paths for
    * the first dozen seconds (a geo execution fell from 3.1 s to 1.8 s
    * over its first six runs, CPU time from 9 s to 4 s), and timing that
    * curve made op_p50_s depend on where in it the window fell.
    */
  private def loop(minCycles: Int, cycle: Int)(next: (Int, Boolean) => Unit): Unit = {
    settling = true
    val s0 = System.nanoTime()
    var j = 0
    while (j == 0 || secs(s0) < Run.SettleS || j % cycle != 0) {
      next(j, false)
      j += 1
    }
    settling = false
    note(f"settled over $j operations in ${secs(s0)}%.1f s")
    val least = if (a.trace) 2 * minCycles else minCycles
    val t0 = System.nanoTime()
    var i = 0
    while (i < least * cycle || secs(t0) < a.seconds || i % cycle != 0) {
      next(i, a.trace && (i / cycle) % 2 == 1)
      i += 1
    }
  }

  // ---- workloads ------------------------------------------------------

  private def freshDir(tag: String): String = {
    val p = Paths.get(a.work, tag)
    Files.createDirectories(p.getParent)
    Run.deleteTree(p)
    p.toString
  }

  /** A batch composition run back to back: release, execute into a fresh
    * output directory, compare the result tuple with the pin taken on the
    * untimed first execution.
    */
  private def pipeline[R <: Product](name: String, owner: String)(
      exec: String => R)(check: R => Seq[String]): Unit = {
    setup()
    release()
    attempted += 1
    val pin =
      try Some(exec(freshDir("pin")))
      catch { case e: Throwable => fail(s"$name pin: $e"); None }
    pin.foreach { p =>
      extra("pin") = Json.str(p.toString)
      val bad = check(p)
      if (bad.nonEmpty) fail(s"$name pin: ${bad.mkString("; ")}")
    }
    if (pin.nonEmpty) loop(minCycles = 3, cycle = 1) { (i, traced) =>
      release()
      val out = freshDir(s"op$i")
      op(name, owner, traced) {
        if (pin.contains(exec(out))) Map.empty else Map("mismatch" -> 1.0)
      }
      Run.deleteTree(Paths.get(out))
    }
  }

  private def geoPipeline(): Unit =
    pipeline("geo_pipeline", "geo_pipeline")(out => Pipeline.runEntireProcess(spark, a.data, out)) { r =>
      Seq(
        Option.when(a.expect.get("positives").exists(_ != r.positives))(
          s"positives ${r.positives} != independent count ${a.expect("positives")}"),
        Option.when(r.clusters > r.positives)("more clusters than positives"),
        Option.when(r.unmappedClusters > r.clusters)("more unmapped clusters than clusters"),
        Option.when(r.clusteredChallengeLines != r.unmappedClusters)(
          "clustered challenge lines != unmapped clusters"),
        Option.when(r.productIterator.exists(_ == 0L))(
          s"degenerate flow (a stage produced 0): $r")).flatten
    }

  /** Which module's `queries` map owns each key (the relational keys are
    * the ones [[SparkEntry]] adds itself).
    */
  private def owners: Map[String, String] = {
    val byModule = Seq(
      "tiles" -> graft.tiles.GeoQueries.queries.keySet,
      "text" -> (graft.text.TextQueries.queries.keySet ++ graft.text.FunnelQueries.queries.keySet),
      "dedup" -> graft.dedup.DedupQueries.queries.keySet,
      "embed" -> graft.embed.EmbedQueries.queries.keySet,
      "multimodal" -> graft.multimodal.Multimodal.queries.keySet,
      "streaming" -> graft.streaming.StreamingQueries.queries.keySet)
    SparkEntry.queries.keys.map { k =>
      k -> byModule.collectFirst { case (m, ks) if ks(k) => m }.getOrElse("relational")
    }.toMap
  }

  /** The fixed key set (`--keys`, one surveyed key per module) with each
    * key's owning module, in seed order; a key the engine no longer has
    * fails the run.
    */
  private def sample(): Seq[(String, String)] = {
    val own = owners
    val (known, gone) = a.keys.partition(own.contains)
    attempted += gone.size
    gone.foreach(k => fail(s"$k: no such key in SparkEntry.queries"))
    new Random(a.seed).shuffle(known.map(k => k -> own(k)))
  }

  private def sessionMix(): Unit = {
    setup()
    if (a.trace) prep()
    val keys = sample()
    val fns = SparkEntry.queries
    // untimed warm-up pass: pins each key's row count and content hash, and
    // builds the per-key memos its later runs read (billed to set-up)
    val t0 = System.nanoTime()
    val warm = mutable.LinkedHashMap.empty[String, Double]
    val pins = keys.flatMap { case (k, _) =>
      attempted += 1
      val t = System.nanoTime()
      try Some(k -> Pin.of(fns(k)(spark, a.data)))
      catch { case e: Throwable => fail(s"$k warm-up: $e"); None }
      finally warm(k) = secs(t)
    }.toMap
    extra("warmup_s") = Json.nums(warm)
    e2e("setup_s") = e2e("setup_s") + secs(t0)
    note(f"warm-up pass over ${keys.size} keys ${secs(t0)}%.1f s")
    val live = keys.filter { case (k, _) => pins.contains(k) }
    extra("keys") = Json.arr(live.map(k => Json.str(k._1)))
    // untimed verification pass: every key's content again, now read
    // through warm memos, against the pin taken while they were cold
    val tv = System.nanoTime()
    live.foreach { case (k, _) =>
      attempted += 1
      try {
        val now = Pin.of(fns(k)(spark, a.data))
        val rows = fns(k)(spark, a.data).count()
        if (now != pins(k) || rows != pins(k).rows)
          fail(s"$k: content $now ($rows rows) differs from pin ${pins(k)}")
      } catch { case e: Throwable => fail(s"$k verify: $e") }
    }
    note(f"verification pass ${secs(tv)}%.1f s")
    window(): Unit
    cycleLen = math.max(1, live.size)
    if (live.nonEmpty) loop(minCycles = 1, cycle = live.size) { (i, traced) =>
      val (k, owner) = live(i % live.size)
      op(k, owner, traced) {
        if (traced) {
          val (df, b) = Run.timed { tracer.span("build", "phase")(fns(k)(spark, a.data)) }
          val (_, p) = Run.timed { tracer.span("plan", "phase")(df.queryExecution.executedPlan) }
          val (n, x) = Run.timed { tracer.span("exec", "phase")(df.count()) }
          Map("build" -> b, "plan" -> p, "exec" -> x) ++
            Option.when(n != pins(k).rows)("mismatch" -> 1.0)
        } else {
          val n = fns(k)(spark, a.data).count()
          if (n == pins(k).rows) Map.empty else Map("mismatch" -> 1.0)
        }
      }
    }
    note(s"measured ${ops.size} operations")
    if (a.trace) a.dataAlt.foreach(fixedCostFit(live, _))
  }

  /** Times each key once more at a second input scale (after an untimed
    * pass that builds that scale's memos) and fits `t = a + b*rows` per
    * key through the two points; `query.fixed_s` is the sum of `a`. A key
    * that throws at either scale fails the run, and the two metrics are
    * reported only when every key was fitted.
    */
  private def fixedCostFit(keys: Seq[(String, String)], alt: String): Unit = {
    val fns = SparkEntry.queries
    def rows(dir: String) = Tables(spark, dir, "lineitem").count().toDouble
    val (r1, r2) = (rows(a.data), rows(alt))
    val base = ops.filter(!_.traced).groupBy(_.key).map { case (k, os) => k -> Stats.median(os.map(_.wallS).toSeq) }
    val fits = keys.flatMap { case (k, _) =>
      attempted += 1
      try {
        fns(k)(spark, alt).count()
        val t0 = System.nanoTime()
        fns(k)(spark, alt).count()
        val t2 = secs(t0)
        val t1 = base(k)
        Some((k, t1, t2, math.min(t1, math.max(0.0, t1 - (t2 - t1) * r1 / (r2 - r1)))))
      } catch { case e: Throwable => fail(s"$k at the fit's second scale: $e"); None }
    }
    window(): Unit
    if (fits.size == keys.size) {
      layer("query.fixed_s") = fits.map(_._4).sum
      layer("query.data_s") = fits.map(f => f._2 - f._4).sum
    }
    extra("fixed_cost_fit") = Json.obj(Seq(
      "rows_base" -> Json.num(r1), "rows_alt" -> Json.num(r2),
      "keys" -> Json.obj(fits.map { case (k, t1, t2, f) =>
        k -> Json.arr(Seq(t1, t2, f).map(Json.num)) })))
  }

  // ---- per-layer metrics ----------------------------------------------

  private def streamingMetrics(batches: Seq[BatchRec], queries: Int): Unit = {
    layer("streaming.queries") = queries.toDouble
    layer("streaming.batches") = batches.size.toDouble
    layer("streaming.batch_s") = batches.map(_.durMs).sum / 1000.0
    layer("streaming.commit_s") = batches.map(_.commitMs).sum / 1000.0
    layer("streaming.state_rows") = batches.groupBy(_.query)
      .map(_._2.maxBy(_.startMs).stateRows).sum.toDouble
  }

  private def gapS(o: Op): Double =
    (o.endMs - o.startMs - Tracer.covered(o.window.jobs.map(j => (j.startMs, j.endMs)).toSeq,
      o.startMs, o.endMs)) / 1000.0

  private def runS(o: Op): Double = o.window.tasks.map(_.runMs).sum / 1000.0

  /** Planted sleeps with known homes: one on the driver between jobs, one
    * inside a task. The traced attribution must bill each to its layer.
    */
  private def selfCheck(): Unit = {
    val drv = op("selfcheck_driver_sleep", "harness", traced = true) {
      Thread.sleep(1000); spark.range(1).count(); Map.empty
    }
    val tsk = op("selfcheck_task_sleep", "harness", traced = true) {
      SelfCheck.taskSleep(spark); Map.empty
    }
    ops --= Seq(drv, tsk)
    attempted -= 1 // the two planted operations make one check
    layer("selfcheck.driver_sleep_gap_s") = gapS(drv)
    layer("selfcheck.driver_sleep_run_s") = runS(drv)
    layer("selfcheck.task_sleep_run_s") = runS(tsk)
    layer("selfcheck.task_sleep_gap_s") = gapS(tsk)
    val ok = gapS(drv) >= 0.9 && runS(drv) < 0.5 && runS(tsk) >= 0.9 && gapS(tsk) < 0.5
    layer("selfcheck.ok") = if (ok) 1.0 else 0.0
    if (!ok) fail("self-check: a planted sleep was billed to the wrong layer")
  }

  private def layerMetrics(modules: Map[String, String]): Unit = {
    val traced = ops.filter(_.traced).toSeq
    val n = math.max(1, traced.size).toDouble
    val jobs = traced.flatMap(o => o.window.jobs.map(o -> _))
    val tasks = traced.flatMap(_.window.tasks)
    layer("spark.jobs") = jobs.size / n
    layer("spark.stages") = jobs.map(_._2.stages).sum / n
    layer("spark.tasks") = tasks.size / n
    layer("spark.task_p50_ms") = Stats.median(tasks.map(_.durMs.toDouble))
    layer("spark.exec_run_s") = tasks.map(_.runMs).sum / 1000.0 / n
    layer("spark.exec_cpu_s") = tasks.map(_.cpuNs).sum / 1e9 / n
    layer("spark.gc_s") = tasks.map(_.gcMs).sum / 1000.0 / n
    layer("spark.shuffle_read_mb") = tasks.map(_.shuffleReadB).sum / 1048576.0 / n
    layer("spark.spill_mb") = tasks.map(_.spillB).sum / 1048576.0 / n
    layer("spark.core_util") = tasks.map(_.runMs).sum / 1000.0 /
      math.max(1e-9, traced.map(_.wallS).sum * cores)
    layer("driver.gap_s") = traced.map(gapS).sum / n
    Seq("build", "plan", "exec").foreach { p =>
      layer(s"query.${p}_s") = traced.map(_.phases.getOrElse(p, 0.0)).sum / n
    }
    // a job goes to the module of the engine source file in its call site;
    // any other job (the `count()` the harness runs on a session key) goes
    // to the module that owns the operation
    val site = """at (\S+\.scala):\d+""".r.unanchored
    def moduleOf(o: Op, j: JobRec): String = j.callSite match {
      case site(file) => modules.getOrElse(file, o.owner)
      case _ => o.owner
    }
    val byModule = jobs.groupBy { case (o, j) => moduleOf(o, j) }
    val taskByJob = tasks.groupBy(_.job)
    Run.Modules.foreach { m =>
      val js = byModule.getOrElse(m, Nil)
      layer(s"$m.jobs") = js.size / n
      layer(s"$m.tasks") = js.map(j => taskByJob.getOrElse(j._2.id, Nil).size).sum / n
      layer(s"$m.job_s") = js.map(j => j._2.endMs - j._2.startMs).sum / 1000.0 / n
      val q = ops.filter(o => !o.traced && o.owner == m).map(_.wallS).toSeq
      layer(s"$m.query_s") = if (q.isEmpty) 0.0 else q.sum / q.size
    }
    extra("module_jobs_unlisted") = Json.nums(byModule.view.filterKeys(!Run.Modules.contains(_))
      .map { case (m, js) => m -> js.size / n }.toSeq)
    val untracedP50 = Stats.median(ops.filter(!_.traced).map(_.wallS).toSeq)
    val tracedP50 = Stats.median(traced.map(_.wallS))
    layer("trace.overhead_pct") = 100.0 * (tracedP50 - untracedP50) / math.max(1e-9, untracedP50)
    tracer.attach(allJobs.toSeq, allBatches.toSeq)
    val self = Tracer.selfTimes(tracer.spans.toSeq)
    Seq("op", "phase", "prep", "setup", "spark.job", "streaming.batch").foreach { l =>
      layer(s"self.${l.replace("spark.", "").replace("streaming.", "")}_s") = self.getOrElse(l, 0.0)
    }
    layer("trace.spans") = tracer.spans.size.toDouble
  }

  // ---- the run ----------------------------------------------------------

  def execute(): Unit = {
    val t0 = System.nanoTime()
    // every per-layer metric is present in a traced record, 0 where the
    // workload does not exercise that layer (the prep, streaming and
    // fixed-cost layers belong to session_mix, which reports them itself)
    if (a.trace && a.workload != "session_mix") {
      Prep.items.foreach { case (n, _) => layer(s"prep.${n}_s") = 0.0 }
      Seq("prep.storage_mb", "prep.sealed_rdds", "query.fixed_s", "query.data_s")
        .foreach(layer(_) = 0.0)
      streamingMetrics(Nil, 0)
    }
    a.workload match {
      case "geo_pipeline" => geoPipeline()
      case "session_mix" => sessionMix()
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) {
      selfCheck()
      layerMetrics(Run.moduleIndex(a.src))
    }
    val timed = ops.filter(!_.traced).toSeq
    val walls = timed.map(_.wallS)
    // one sample per pass over the operation set (its mean operation
    // time): over a mix of keys the median of pooled times jumps between
    // two keys' times as noise reorders them
    e2e("op_p50_s") = Stats.median(timed.grouped(cycleLen).map(c => c.map(_.wallS).sum / c.size).toSeq)
    e2e("op_p90_s") = Stats.quantile(walls, 0.9)
    e2e("ops_per_s") = walls.size / math.max(1e-9, walls.sum)
    e2e("op_cpu_s") = Stats.median(timed.map(_.cpuS))
    e2e("shuffle_mb_per_op") = timed.map(_.window.shuffleWriteB).sum / 1048576.0 / math.max(1, timed.size)
    e2e("storage_mb") = Stats.median(timed.map(_.storageB / 1048576.0))
    e2e("fail_ratio") = failed.toDouble / math.max(1L, attempted)
    val host = Host.record(spark, cores, a, loadStart, cpuStart)
    val result = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> Json.num(attempted.toDouble), "failed" -> Json.num(failed.toDouble),
      "ops" -> Json.num(timed.size.toDouble), "run_s" -> Json.num(secs(t0)),
      "e2e" -> Json.nums(e2e), "layer" -> Json.nums(layer), "host" -> host,
      "errors" -> Json.arr(errors.take(20).map(Json.str))))
    Run.write(a.out, result)
    val opsJson = Json.arr(ops.map(o => Json.obj(Seq(
      "key" -> Json.str(o.key), "owner" -> Json.str(o.owner), "traced" -> o.traced.toString,
      "wall_s" -> Json.num(o.wallS), "cpu_s" -> Json.num(o.cpuS), "ok" -> o.ok.toString,
      "jobs" -> Json.num(o.window.jobs.size.toDouble),
      "shuffle_write_mb" -> Json.num(o.window.shuffleWriteB / 1048576.0),
      "storage_mb" -> Json.num(o.storageB / 1048576.0), "phases" -> Json.nums(o.phases)))))
    val spans = Json.arr(tracer.spans.map(s => Json.obj(Seq(
      "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
      "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "start_ms" -> Json.num(s.startMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble)))))
    Run.write(a.dump, Json.obj(Seq("result" -> result) ++ extra.toSeq ++
      Seq("ops" -> opsJson, "spans" -> spans)))
  }
}

object Run {
  /** The engine's modules, one layer each; `core` is the top-level
    * package (the compositions, table loaders and session factory).
    */
  val Modules: Seq[String] = Seq("tiles", "relational", "text", "dedup", "embed",
    "multimodal", "streaming", "sources", "util", "core")

  /** Set-ups per run; `setup_s` is their median. */
  val SetupSamples = 3

  /** Seconds of untimed operations before the measured window. */
  val SettleS = 15.0

  /** Source file name -> module, from the engine's source tree. */
  def moduleIndex(src: String): Map[String, String] = {
    val root = Paths.get(src)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
        val parts = root.relativize(p).iterator().asScala.map(_.toString).toSeq
        val module = if (parts.headOption.contains("graft") && parts.size > 2) parts(1) else "core"
        p.getFileName.toString -> module
      }.toMap
    } finally s.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree(_)) finally s.close()
    }
    Files.delete(p)
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
}

/** A key's output summary: row count and an order-insensitive content
  * hash. Floating values are compared to 7 significant digits, maps as
  * sorted entry lists.
  */
final case class Pin(rows: Long, hash: Long)

object Pin {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** Whether `dt` holds a float (compared rounded) or a map (unhashable). */
  private def floaty(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | MapType(_, _, _) => true
    case ArrayType(e, _) => floaty(e)
    case StructType(fs) => fs.exists(f => floaty(f.dataType))
    case _ => false
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.6e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(e, _) if floaty(e) => transform(c, norm(_, e))
    case StructType(fs) if floaty(dt) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), k).as("key"), norm(e.getField("value"), v).as("value"))))
    case _ => c
  }

  def of(df: DataFrame): Pin = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    // a type xxhash64 cannot take (variant, interval) leaves the count only
    try {
      val row = named.select(h.as("h"))
        .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)))
        .head()
      Pin(row.getLong(0), row.getLong(1))
    } catch { case _: org.apache.spark.sql.AnalysisException => Pin(df.count(), -1L) }
  }
}

object SelfCheck {
  /** One task that sleeps one second on an executor thread. */
  def taskSleep(spark: SparkSession): Long =
    spark.sparkContext.parallelize(Seq(1), 1).map { x => Thread.sleep(1000); x }.count()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Host {
  /** CPU time of every thread of this JVM (driver, executor, GC, JIT). */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  /** The machine's aggregate CPU time counters (`/proc/stat`, in ticks:
    * user, nice, system, idle, iowait, irq, softirq, steal). */
  def cpuTicks(): Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").toSeq
      .slice(1, 9).map(_.toLong)
    catch { case _: Throwable => Nil }

  /** Share of CPU time taken by other guests on the hypervisor since
    * `from` (-1 where the counters are unavailable).
    */
  def stealPct(from: Seq[Long]): Double = {
    val to = cpuTicks()
    if (from.size < 8 || to.size < 8) -1.0
    else {
      val d = to.zip(from).map { case (x, y) => x - y }
      100.0 * d(7) / math.max(1L, d.sum)
    }
  }

  def record(spark: SparkSession, cores: Int, a: Main.Args, loadStart: String,
      cpuStart: Seq[Long]): String =
    Json.obj(Seq(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors.toDouble),
      "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")),
      "cores" -> Json.num(cores.toDouble),
      "shuffle_partitions" -> Json.str(
        Option(spark).map(_.conf.get("spark.sql.shuffle.partitions")).getOrElse("n/a")),
      "replay_par" -> Json.str(Option(spark).flatMap(_.conf.getOption("graft.stream.replayPar"))
        .getOrElse("8 (default)")),
      "heap_max_mb" -> Json.num(math.rint(Runtime.getRuntime.maxMemory / 1048576.0)),
      "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(loadavg()),
      "cpu_steal_pct" -> Json.num(math.rint(stealPct(cpuStart) * 10) / 10),
      "seed" -> Json.num(a.seed.toDouble), "seconds" -> Json.num(a.seconds),
      "trace" -> a.trace.toString, "setups" -> Json.num(Run.SetupSamples.toDouble)))
}
