package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.model._
import graft.engine.Extractor
import graft.fixtures.InterleavedGen
import graft.io.TableIO
import graft.job.ExtractJob

/** One workload: a pass the benchmark times, an untimed check of the
  * pass's output, and the direct per-layer probes of the traced run. */
abstract class Workload {
  def name: String
  /** Operations one pass attempts: docs, or queries. */
  def ops: Long
  /** Docs one pass extracts (0 for the query workloads). */
  def docs: Long = 0L
  def prepare(spark: SparkSession): Unit = ()
  /** One pass. `tr` is set only on the traced pass. */
  def pass(spark: SparkSession, k: Int, tr: Option[Tracer]): Unit
  /** Checks pass `k`'s output, outside the timed region. Returns the
    * operations that failed. */
  def check(spark: SparkSession, k: Int): Long
  /** Per-layer probes of the traced run. `passSpans` are the spans of
    * the traced pass; `passMedianS` is the untraced median pass. */
  def probes(spark: SparkSession, tr: Tracer, passSpans: Seq[SpanRec], k: Int,
      passMedianS: Double): Probes
  /** N→4N scaling on this workload's input, when it measures one. */
  def scaleEfficiency(spark: SparkSession, passMedianS: Double): Option[Double] = None
}

/** Per-layer probe results, and the operations the probes checked. */
final case class Probes(metrics: Map[String, Double], attempted: Long = 0L, failed: Long = 0L)

object Workload {
  val PairQueries = Seq("dedup_jaccard", "dedup_containment", "dedup_minhash_star",
    "dedup_simhash", "dedup_exact_substring", "text_dup_coverage")

  def apply(name: String, seed: Long, work: String, plant: Boolean): Workload =
    name match {
      case "extract_mixed" => new Extraction(name, seed, work, plant)
      case "query_pairs" => new QueryWorkload(name, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Span sequence under the ExtractCli verify rule. */
  def seqOf(spans: Seq[Span]): Seq[(String, String, String, Int)] =
    spans.map(s => (s.kind, s.text, s.media_ref, s.order)).sortBy(_._4)

  def sp[T](tr: Option[Tracer], name: String)(f: => T): T = tr match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Median wall of `reps` calls, in microseconds. */
  def medianUs(reps: Int)(f: => Unit): Double =
    median((0 until reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e3 })
}

/** `extract_mixed`: `ExtractJob.run` with the default `Config` over the
  * seed's window of the mixed corpus. Its traced run also drives the
  * job layer's other paths as probes: a killed-then-resumed chunked run
  * with the progress and content reads in between, and the giant-doc
  * fan-out. */
final class Extraction(val name: String, seed: Long, work: String, plant: Boolean)
    extends Workload {
  import Workload._
  /** This run's input, cut out of the pool by run.py. */
  private val corpus = s"$work/input/$name"
  private val meta = Inputs.meta(corpus)
  override val docs: Long = meta("docs").toLong
  val ops: Long = docs
  private val windowStart = meta("window_start").toLong
  private val sink = s"$work/sink/$name"
  private def table(k: Int) = s"$sink/p$k"
  private var lastTable: Option[String] = None
  private val cfg = ExtractJob.Config()

  private var expected: DataFrame = _

  private def input(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$corpus/interleaved_docs.parquet")

  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    // a planted wrong golden span on the window's first doc proves the check can fail
    val planted = InterleavedGen.docId(windowStart)
    val doPlant = plant
    expected = spark.read.parquet(s"$corpus/expected_docs.parquet").as[ExtractedDoc]
      .map { d =>
        val s = seqOf(d.spans)
        (d.doc_id, if (doPlant && d.doc_id == planted) s.map(x => x.copy(_2 = x._2 + "#")) else s)
      }.toDF("doc_id", "exp").persist()
    expected.count()
  }

  private def dropLast(): Unit = { lastTable.foreach(TableIO.deleteRecursively); lastTable = None }

  def pass(spark: SparkSession, k: Int, tr: Option[Tracer]): Unit = {
    dropLast()
    val t = table(k)
    TableIO.deleteRecursively(t)
    lastTable = Some(t)
    val in = input(spark)
    sp(tr, "job.ExtractJob.run") { ExtractJob.run(spark, in, t, cfg) }
  }

  def check(spark: SparkSession, k: Int): Long = verify(spark, table(k), cfg)

  /** Docs whose span sequence differs from the golden, plus any lineage
    * fault: after the run every bucket is committed once and the doc
    * counts add up to the docs attempted. */
  private def verify(spark: SparkSession, t: String, c: ExtractJob.Config): Long = {
    import spark.implicits._
    val got = spark.read.parquet(TableIO.dataDir(t)).select("doc_id", "spans").as[ExtractedDoc]
      .map(d => (d.doc_id, seqOf(d.spans))).toDF("doc_id", "got")
    val r = got.join(expected, Seq("doc_id"), "full_outer").agg(
      count(when(col("got") === col("exp"), 1)),
      count(when(col("exp").isNull, 1))).collect().head
    var failed = docs - r.getLong(0) + r.getLong(1)
    val lin = TableIO.readLineage(spark, t).where(col("job_id") === c.jobId)
      .agg(coalesce(sum("doc_count"), lit(0L)), count(lit(1)), countDistinct(col("bucket")))
      .collect().head
    if (lin.getLong(0) != docs || lin.getLong(1) != c.numBuckets || lin.getLong(2) != c.numBuckets)
      failed += math.max(1L, math.abs(lin.getLong(0) - docs))
    math.min(failed, docs)
  }

  private def kindOf(i: Long): String = (i % 10) match {
    case 0 => "html"; case 1 => "text"; case 2 => "media"; case 3 => "mixed"; case 9 => "pdf_heavy"
    case _ => (i % 4) match { case 0 => "pdf_objstm"; case 1 => "pdf_images"; case _ => "pdf_multi" }
  }

  def probes(spark: SparkSession, tr: Tracer, passSpans: Seq[SpanRec], k: Int,
      passMedianS: Double): Probes = {
    import spark.implicits._
    val m = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L; var failed = 0L
    val t = table(k)
    val opts = ExtractOptions()
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId

    // engine: single-thread direct calls on a seeded sample, by doc kind
    val sample = (windowStart until windowStart + math.min(docs, 1200L))
      .groupBy(kindOf).map { case (kd, is) => kd -> is.take(40).map(i => InterleavedGen.docWithGolden(i)._1) }
    tr.span("engine.extractDoc.sample") {
      (0 until 3).foreach(_ => sample.values.flatten.foreach(d => Extractor.extractDoc(d, opts)))
      sample.toSeq.sortBy(_._1).foreach { case (kd, ds) =>
        var reps = 0; val t0 = System.nanoTime()
        while (reps < 3 || System.nanoTime() - t0 < 40000000L) { ds.foreach(d => Extractor.extractDoc(d, opts)); reps += 1 }
        m(s"engine.us_per_doc.$kd") = (System.nanoTime() - t0) / 1e3 / (reps * ds.size)
      }
      Seq("pdf_multi", "pdf_heavy").foreach { kd =>
        val ds = sample(kd)
        val a0 = tmx.getThreadAllocatedBytes(tid)
        ds.foreach(d => Extractor.extractDoc(d, opts))
        m(s"engine.alloc_kb_per_doc.$kd") = (tmx.getThreadAllocatedBytes(tid) - a0) / 1024.0 / ds.size
      }
    }

    // html: boilerplate removal alone
    val htmls = sample("html").map(_.spans.head.text)
    tr.span("html.Boilerplate.extract") {
      (0 until 5).foreach(_ => htmls.foreach(graft.html.Boilerplate.extract))
      m("html.boilerplate_us") = medianUs(15)(htmls.foreach(graft.html.Boilerplate.extract)) / htmls.size
    }

    // pdf phases of a heavy doc of the window
    tr.span("pdf.phases") { m ++= pdfPhases(sample("pdf_heavy").head.spans.head.text, 15) }

    // io: scan and decode of the span column alone; metadata calls on the table
    val in = input(spark)
    m("io.scan_s") = tr.span("io.scan") {
      median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        in.select("spans").queryExecution.toRdd.map { row =>
          val a = row.getArray(0); var s = 0L; var i = 0
          while (i < a.numElements()) { s += a.getStruct(i, 4).getUTF8String(1).numBytes(); i += 1 }
          s
        }.fold(0L)(_ + _)
        (System.nanoTime() - t0) / 1e9
      })
    }
    m("job.resume_noop_ms") = tr.span("job.ExtractJob.run.noop") {
      medianUs(5)(ExtractJob.run(spark, in, t, cfg.copy(attempt = 2))) / 1e3
    }
    m("io.committed_buckets_ms") = tr.span("io.committedBuckets") {
      medianUs(9)(TableIO.committedBuckets(t, cfg.jobId)) / 1e3
    }
    val rows = (0 until cfg.numBuckets).map(b =>
      LineageRow("probe", b, 1L, 1L, 1L, 0L, "committed", 1, 0L, 0L))
    var c = 0
    m("io.commit_lineage_ms") = tr.span("io.commitLineage") {
      medianUs(9) { TableIO.commitLineage(t, s"probe-$c", rows); c += 1 } / 1e3
    }
    m("io.commit_snapshot_ms") = tr.span("io.commitSnapshot") {
      medianUs(9)(TableIO.commitSnapshot(t)) / 1e3
    }

    // engine inside Spark: scan + extract per doc, no write
    m("engine.spark_extract_s") = tr.span("engine.sparkExtract") {
      median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        in.as[InterleavedDoc].map(d => Extractor.extractDoc(d, ExtractOptions()).spanCount.toLong)
          .agg(sum("value")).collect()
        (System.nanoTime() - t0) / 1e9
      })
    }
    m("job.write_commit_s") = passMedianS - m("engine.spark_extract_s")

    // job: a chunked run killed after half its chunks, the progress and
    // content reads of the reference API, then the resume to completion
    val rt = s"$sink/resume"
    TableIO.deleteRecursively(rt)
    val rc = ExtractJob.Config(jobId = "resume", chunkBuckets = 16, maxChunks = 2)
    val readBack = in.select(col("doc_id")).where(pmod(xxhash64(col("doc_id")), lit(64)) < 16)
      .orderBy(xxhash64(col("doc_id"), lit(seed))).as[String].head()
    val t0 = System.nanoTime()
    tr.span("job.ExtractJob.run.killed")(ExtractJob.run(spark, in, rt, rc))
    val progress = tr.span("job.ExtractJob.progress") {
      val r = ExtractJob.progress(spark, rt, rc.jobId, rc.numBuckets).collect().head
      if (r.isNullAt(0)) -1 else r.getInt(0)
    }
    val json = tr.span("job.ExtractJob.readDocJson")(ExtractJob.readDocJson(spark, rt, readBack))
    tr.span("job.ExtractJob.run.resume")(ExtractJob.run(spark, in, rt, rc.copy(maxChunks = Int.MaxValue, attempt = 2)))
    m("job.kill_resume_s") = (System.nanoTime() - t0) / 1e9
    def spanMs(n: String) = tr.all.filter(_.name == n).map(_.durNs / 1e6).sum
    m("job.progress_ms") = spanMs("job.ExtractJob.progress")
    m("job.read_doc_ms") = spanMs("job.ExtractJob.readDocJson")
    m("job.chunks") = Files.list(Paths.get(TableIO.lineageDir(rt)))
      .filter(_.getFileName.toString.startsWith("commit-")).count().toDouble
    attempted += docs
    // killed after half the chunks: progress reads 50%, and a doc of a
    // committed bucket is readable
    failed += verify(spark, rt, rc) + (if (progress == 50) 0 else 1) + (if (json.isDefined) 0 else 1)
    TableIO.deleteRecursively(rt)

    // the giant doc: single-thread extract, page-count probe, and the
    // page-chunk fan-out through ExtractJob (one unsplittable row spread
    // over tasks and reassembled), checked against its construction
    val pages = meta("giant_pages").toInt; val lines = meta("giant_lines").toInt
    val b64 = new String(Files.readAllBytes(Paths.get(s"$corpus/giant.b64")), "US-ASCII")
    val giant = InterleavedDoc("giant", Seq(RawSpan("pdf_bytes", b64, "", 0)))
    m("engine.giant_s") = tr.span("engine.extractDoc.giant") {
      val t1 = System.nanoTime(); Extractor.extractDoc(giant, opts); (System.nanoTime() - t1) / 1e9
    }
    m("job.fanout_probe_ms") = tr.span("job.fanoutProbe") {
      medianUs(3)(graft.pdf.PdfDocument.load(java.util.Base64.getDecoder.decode(b64)).pageCount) / 1e3
    }
    val gt = s"$sink/giant"
    TableIO.deleteRecursively(gt)
    val fanStart = System.nanoTime()
    tr.span("job.ExtractJob.run.fanout") {
      ExtractJob.run(spark, Seq(giant).toDF(), gt, ExtractJob.Config(jobId = "giant",
        giantBytesThreshold = 1L << 20, giantChunkPages = math.max(1, pages / 8)))
    }
    m("job.fanout_s") = (System.nanoTime() - fanStart) / 1e9
    // skew of the fan-out: slowest task against the median task
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val fan = tr.all.filter(_.name == "job.ExtractJob.run.fanout")
    val tasks = fan.flatMap(f => Tracer.taskTimes(Tracer.stages(Tracer.descendants(tr.all, f.id))))
    val medTask = median(tasks)
    m("job.fanout_max_task_ms") = (tasks :+ 0.0).max
    m("job.fanout_straggler_ratio") = if (medTask > 0) tasks.max / medTask else 0.0
    val got = spark.read.parquet(TableIO.dataDir(gt)).as[ExtractedDoc].collect()
    val want = (1 to pages).map(p => ("text", Inputs.giantPageText(p, lines), "", p - 1))
    attempted += 1
    if (got.length != 1 || seqOf(got.head.spans) != want) failed += 1
    TableIO.deleteRecursively(gt)
    Probes(m.toMap, attempted, failed)
  }

  /** Per-phase parse cost of one PDF, in microseconds per doc (the
    * ProfCli split): base64, load (xref), page tree, flate, content
    * lexer, and the interpreter (page text minus flate and lexer). */
  private def pdfPhases(b64: String, reps: Int): Map[String, Double] = {
    import graft.pdf.{ContentText, Lexer, PdfDocument, PStream}
    val bytes = java.util.Base64.getDecoder.decode(b64)
    def us(f: => Unit): Double = { (0 until 5).foreach(_ => f); medianUs(reps)(f) }
    val b64Us = us(java.util.Base64.getDecoder.decode(b64))
    val loadUs = us(PdfDocument.load(bytes))
    val treeUs = us(PdfDocument.load(bytes).pages)
    val doc = PdfDocument.load(bytes)
    val contents = doc.pages.toVector.flatMap { p =>
      doc.dictGet(p, "Contents") match { case s: PStream => Some(s); case _ => None }
    }
    val flateUs = us(contents.foreach(s => doc.streamData(s)))
    val decoded = contents.map(s => doc.streamData(s).toOption.get)
    val lexUs = us(decoded.foreach(b => new Lexer(b, 0).tokenizeContent()))
    val textUs = us(doc.pages.foreach(p => ContentText.extractPageText(doc, p)))
    Map("pdf.b64_us" -> b64Us, "pdf.load_us" -> loadUs, "pdf.page_tree_us" -> math.max(0.0, treeUs - loadUs),
      "pdf.flate_us" -> flateUs, "pdf.lexer_us" -> lexUs,
      "pdf.interp_us" -> math.max(0.0, textUs - flateUs - lexUs))
  }

  override def scaleEfficiency(spark: SparkSession, passMedianS: Double): Option[Double] = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val one = graft.spark.Sessions.local(1, "perfbench-1")
    try {
      pass(one, 10000, None) // fresh session: one pass to settle
      val t0 = System.nanoTime()
      pass(one, 10001, None)
      val t1 = (System.nanoTime() - t0) / 1e9
      // docs/s at local[4] ÷ (4 × docs/s at local[1])
      Some(t1 / (4.0 * passMedianS))
    } finally one.stop()
  }

}

/** `query_pairs`: six dedup queries, run through `Queries.all(name)`
  * and collected. */
final class QueryWorkload(val name: String, work: String) extends Workload {
  import Workload._
  private val queries = PairQueries
  val ops: Long = queries.size.toLong
  private val dir = s"$work/input/$name"
  private val outBase = s"$work/sink/$name"
  private var results = Map.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]
  private var errors = Set.empty[String]
  /** Queries that failed, by pass (the oracle compare adds mismatches). */
  val failedByPass = mutable.LinkedHashMap.empty[Int, Set[String]]

  def pass(spark: SparkSession, k: Int, tr: Option[Tracer]): Unit = {
    results = Map.empty; errors = Set.empty
    queries.foreach { q =>
      try sp(tr, s"operators.$q") {
        val df = graft.spark.Queries.all(q)(spark, dir)
        // collect runs the df's own physical plan, final ORDER BY included
        results += q -> (df.schema, df.collect())
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
        errors += q
      }
    }
  }

  /** Writes each collected result (snappy, one file) for the DuckDB
    * oracle compare in run.py; nothing is executed again. */
  def check(spark: SparkSession, k: Int): Long = {
    results.foreach { case (q, (schema, rows)) =>
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").option("compression", "snappy").parquet(s"$outBase/p$k/$q")
      catch { case NonFatal(_) => errors += q }
    }
    failedByPass(k) = errors
    errors.size.toLong
  }

  def probes(spark: SparkSession, tr: Tracer, passSpans: Seq[SpanRec], k: Int,
      passMedianS: Double): Probes = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    queries.foreach { q =>
      passSpans.find(_.name == s"operators.$q").foreach { s =>
        val below = Tracer.descendants(passSpans, s.id)
        val st = Tracer.stages(below)
        m(s"op.$q.s") = s.durNs / 1e9
        m(s"op.$q.jobs") = Tracer.jobs(below).size.toDouble
        m(s"op.$q.cpu_s") = Tracer.sum(st, "cpu_ns") / 1e9
        m(s"op.$q.shuffle_mb") = Tracer.sum(st, "shuffle_write") / 1e6
        m(s"op.$q.max_task_ms") = (Tracer.taskTimes(st) :+ 0.0).max
      }
    }
    // functions: each native expression as a projection alone
    import graft.functions.{TextFunctions => TF}
    val text = spark.read.parquet(s"$dir/documents.parquet").select("text")
    def projS(label: String, c: org.apache.spark.sql.Column): Unit =
      m(s"functions.${label}_s") = tr.span(s"functions.$label") {
        median((0 until 3).map { _ =>
          val t0 = System.nanoTime()
          text.select(sum(hash(c))).collect()
          (System.nanoTime() - t0) / 1e9
        })
      }
    projS("shingle_md5s", TF.shingles(col("text"), 3))
    projS("minhash_sigs", TF.minhashSigs(col("text"), 3, 8))
    projS("token_simhash64", TF.simhash64Struct(col("text")))
    Probes(m.toMap)
  }
}
