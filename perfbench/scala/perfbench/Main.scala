package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.spark.Sessions

/** JVM side of the benchmark (`run.py` is the entry point).
  *
  *   pool <size> <dir>                       doc pool of the extraction workload
  *   oracles <out.json>                      oracle SQL of the query workloads
  *   run <workload> <seed> <seconds> <trace> <size> <runDir> <record.json> [plant]
  */
object Main {
  val Cores = 4
  val WarmupSeconds = 4

  /** Every per-layer metric name; a layer a workload bypasses reads 0. */
  val PerLayer: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s", "spark.core_busy_frac",
    "spark.executor_cpu_s", "spark.gc_s", "spark.failed_tasks", "spark.scale_eff_1_4",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.max_task_ms",
    "spark.median_task_ms", "spark.straggler_ratio", "spark.bus_drained") ++
    Seq("html", "text", "media", "mixed", "pdf_objstm", "pdf_images", "pdf_multi", "pdf_heavy")
      .map(k => s"engine.us_per_doc.$k") ++
    Seq("engine.alloc_kb_per_doc.pdf_multi", "engine.alloc_kb_per_doc.pdf_heavy",
      "engine.spark_extract_s", "engine.giant_s") ++
    Seq("b64_us", "load_us", "page_tree_us", "flate_us", "lexer_us", "interp_us").map(k => s"pdf.$k") ++
    Seq("html.boilerplate_us", "io.scan_s", "io.committed_buckets_ms", "io.commit_lineage_ms",
      "io.commit_snapshot_ms", "job.write_commit_s", "job.chunks", "job.resume_noop_ms",
      "job.fanout_probe_ms", "job.fanout_s", "job.fanout_max_task_ms", "job.fanout_straggler_ratio",
      "job.kill_resume_s", "job.progress_ms", "job.read_doc_ms",
      "functions.shingle_md5s_s", "functions.minhash_sigs_s", "functions.token_simhash64_s") ++
    Workload.PairQueries.flatMap(q =>
      Seq("s", "jobs", "cpu_s", "shuffle_mb", "max_task_ms").map(k => s"op.$q.$k")) ++
    Seq("spark", "engine", "pdf", "html", "io", "job", "functions", "operators").map(l => s"self_s.$l") ++
    Seq("trace.overhead_s", "noise.steal_pct", "noise.ambient_pct")

  def main(args: Array[String]): Unit = args.toList match {
    case "pool" :: size :: dir :: Nil =>
      val spark = Sessions.local(Cores, "perfbench-pool")
      try Inputs.genPool(spark, size, dir)
      finally spark.stop()
    case "oracles" :: out :: Nil =>
      Files.writeString(Paths.get(out),
        Json.obj(Workload.PairQueries.map(q => q -> Json.str(graft.spark.Oracles.sql(q)))) + "\n")
    case "run" :: workload :: seed :: seconds :: trace :: size :: work :: record :: rest =>
      run(workload, seed.toLong, seconds.toDouble, trace == "1", size, work, record,
        plant = rest.contains("plant"))
    case _ =>
      System.err.println("usage: perfbench.Main gen|oracles|run ... (see run.py)")
      sys.exit(2)
  }

  final case class Sample(pass: Int, passS: Double, cpuS: Double, noise: Host.Noise,
      attempted: Long, failed: Long, traced: Boolean)

  private def newSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    Sessions.local(Cores, "perfbench")
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, size: String,
      work: String, record: String, plant: Boolean): Unit = {
    val wl = Workload(workload, seed, work, plant)
    // set-up: session start plus the first, untimed pass; several times
    // in fresh sessions so the run reports a median
    val setups = (0 until (if (trace) 1 else 3)).map { i =>
      val t0 = System.nanoTime()
      val s = newSession()
      wl.pass(s, -1 - i, None)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $workload set-up $i%d: $sec%.3f s")
      sec
    }
    val spark = SparkSession.active
    val tPrep = System.nanoTime()
    wl.prepare(spark)
    System.err.println(f"[perfbench] $workload check data ready in ${(System.nanoTime() - tPrep) / 1e9}%.1f s")

    val samples = mutable.ArrayBuffer.empty[Sample]
    def sample(k: Int, traced: Boolean)(body: => Unit): Sample = {
      System.gc()
      val win = new Host.Window
      val c0 = Host.processCpuNs()
      val t0 = System.nanoTime()
      body
      val passS = (System.nanoTime() - t0) / 1e9
      val cpuS = (Host.processCpuNs() - c0) / 1e9
      val noise = win.close()
      val tCheck = System.nanoTime()
      val failed = wl.check(spark, k)
      val checkS = (System.nanoTime() - tCheck) / 1e9
      val s = Sample(k, passS, cpuS, noise, wl.ops, failed, traced)
      samples += s
      System.err.println(f"[perfbench] $workload pass $k%d: ${passS}%.3f s, cpu ${cpuS}%.2f s, " +
        f"steal ${noise.stealPct}%.2f%%, ambient ${noise.ambientPct}%.2f%%, failed $failed/${wl.ops}, " +
        f"checked in $checkS%.1f s" +
        (if (traced) " (traced)" else ""))
      s
    }
    // untimed passes (at least one, for at least WarmupSeconds) let the
    // JIT settle; every pass after them is kept
    if (seconds > 0) {
      val warmStart = System.nanoTime()
      var i = 0
      while (i < 1 || System.nanoTime() - warmStart < WarmupSeconds * 1e9) {
        val t0 = System.nanoTime()
        wl.pass(spark, -10 - i, None)
        System.err.println(f"[perfbench] $workload warm-up $i%d: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        i += 1
      }
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    val minPasses = if (seconds <= 0) 1 else 3
    while (samples.size < minPasses || System.nanoTime() < deadline) {
      sample(k, traced = false)(wl.pass(spark, k, None))
      k += 1
    }
    val passMedian = Workload.median(samples.map(_.passS).toSeq)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    var traceFile = ""
    var probeOps = (0L, 0L)
    if (trace) {
      val sc = spark.sparkContext
      val tr = new Tracer(sc)
      val lst = new tr.Listener
      sc.addSparkListener(lst)
      val traced = sample(k, traced = true)(tr.span("bench.pass")(wl.pass(spark, k, Some(tr))))
      val drained1 = org.apache.spark.PerfbenchBus.drain(sc)
      // the pass's spans are the subtree under its root span; the
      // check's jobs ran with no span open and stay out of it. The
      // pass is trace 1, the probes trace 2.
      def subtree(root: String, id: Long): Vector[SpanRec] = {
        val all = tr.all
        val r = all.find(s => s.name == root && s.parent == 0L).get
        (r +: Tracer.descendants(all, r.id)).map(_.copy(traceId = id))
      }
      val passSpans = subtree("bench.pass", 1L)
      val probes = tr.span("bench.probes")(wl.probes(spark, tr, passSpans, k, passMedian))
      probeOps = (probes.attempted, probes.failed)
      val drained2 = org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(lst)
      val spans = passSpans ++ subtree("bench.probes", 2L)
      layer ++= sparkCounters(passSpans, traced.passS)
      layer("spark.bus_drained") = if (drained1 && drained2) 1.0 else 0.0
      layer ++= probes.metrics
      // the benchmark's own root spans ("bench") are not a layer
      layer ++= Tracer.selfTimeByLayer(spans).collect { case (l, v) if l != "bench" => s"self_s.$l" -> v }
      layer("trace.overhead_s") = traced.passS - passMedian
      wl.scaleEfficiency(spark, passMedian).foreach(e => layer("spark.scale_eff_1_4") = e)
      traceFile = record.stripSuffix(".json") + "-spans.json"
      Files.createDirectories(Paths.get(traceFile).getParent)
      Files.writeString(Paths.get(traceFile), Tracer.toJson(spans))
    }
    val timed = samples.filterNot(_.traced)
    layer("noise.steal_pct") = Workload.median(timed.map(_.noise.stealPct).toSeq)
    layer("noise.ambient_pct") = Workload.median(timed.map(_.noise.ambientPct).toSeq)
    val unknown = layer.keySet -- PerLayer
    require(unknown.isEmpty, s"per-layer metrics not in the list: $unknown")
    val perLayer = PerLayer.map(n => n -> layer.getOrElse(n, 0.0))

    val failedQueries = wl match {
      case q: QueryWorkload => q.failedByPass.toSeq.map { case (p, qs) =>
        s""""$p":${Json.arr(qs.toSeq.sorted.map(Json.str))}""" }.mkString("{", ",", "}")
      case _ => "{}"
    }
    val body = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "size" -> Json.str(size),
      "cores" -> Cores.toString, "ops_per_pass" -> wl.ops.toString, "docs_per_pass" -> wl.docs.toString,
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "samples" -> Json.arr(samples.toSeq.map(s => Json.obj(Seq(
        "pass" -> s.pass.toString, "pass_s" -> Json.num(s.passS), "cpu_s" -> Json.num(s.cpuS),
        "steal_pct" -> Json.num(s.noise.stealPct), "ambient_pct" -> Json.num(s.noise.ambientPct),
        "attempted" -> s.attempted.toString, "failed" -> s.failed.toString,
        "traced" -> s.traced.toString)))),
      "failed_queries" -> failedQueries,
      "peak_rss_mb" -> Json.num(Host.peakRssMb()),
      "probe_attempted" -> probeOps._1.toString, "probe_failed" -> probeOps._2.toString,
      "per_layer" -> Json.obj(perLayer.map { case (n, v) => n -> Json.num(v) }),
      "trace_file" -> Json.str(traceFile)))
    SparkSession.getActiveSession.foreach(_.stop())
    Files.createDirectories(Paths.get(record).getParent)
    Files.writeString(Paths.get(record), body + "\n")
  }

  /** Scheduler, executor and shuffle counters of the traced pass. */
  private def sparkCounters(spans: Seq[SpanRec], passS: Double): Map[String, Double] = {
    val st = Tracer.stages(spans)
    val pass = spans.find(_.name == "bench.pass").get
    val tasks = Tracer.taskTimes(st).sorted
    val med = Workload.median(tasks)
    val mx = if (tasks.isEmpty) 0.0 else tasks.last
    val mb = 1e6
    Map(
      "spark.jobs" -> Tracer.jobs(spans).size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> Tracer.sum(st, "tasks"),
      "spark.driver_gap_s" ->
        (pass.durNs - Tracer.covered(st.map(s => (s.startNs, s.endNs)), pass.startNs, pass.endNs)) / 1e9,
      "spark.core_busy_frac" -> Tracer.sum(st, "run_ms") / 1e3 / (passS * Cores),
      "spark.executor_cpu_s" -> Tracer.sum(st, "cpu_ns") / 1e9,
      "spark.gc_s" -> Tracer.sum(st, "gc_ms") / 1e3,
      "spark.failed_tasks" -> Tracer.sum(st, "failed_tasks"),
      "spark.shuffle_write_mb" -> Tracer.sum(st, "shuffle_write") / mb,
      "spark.shuffle_read_mb" -> Tracer.sum(st, "shuffle_read") / mb,
      "spark.spill_mb" -> Tracer.sum(st, "spill") / mb,
      "spark.max_task_ms" -> mx,
      "spark.median_task_ms" -> med,
      "spark.straggler_ratio" -> (if (med > 0) mx / med else 0.0))
  }
}
