package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextAnalysis}

/** The repository benchmark. One JVM, one workload, one seed:
  *
  *   graft.bench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * Generates the workload's inputs under DIR, builds a `local[4]`
  * session, runs one untimed warm-up, then either makes the workload's
  * untimed settle runs and repeats timed runs for at least S seconds
  * (`--trace 0`) or makes one untraced and one traced run and,
  * for `corpus_prep`, a kernel sweep (`--trace 1`). Every run's output is
  * checked against the planted truth. The last stdout line is a JSON
  * object with `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {
  val Cores = 4
  /** Timed units (runs, or deltas) a window holds at least, so the median
    * never rests on the first run after the warm-up alone. */
  val MinUnits = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("work")))
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Reads what the previous run left behind, then applies `graft.Bench`'s
    * between-query hygiene. The reading comes first: the live heap (blocks
    * cached in memory included) once GCs have settled, plus the disk blocks
    * of RDDs still persisted, so a run that leaves checkpoints or caches
    * pinned reads higher. Then blocking unpersist, clear the cache and two
    * GCs. Returns the reading in MB. */
  def cleanup(spark: SparkSession): Double = {
    def gc(): Unit = { System.gc(); Thread.sleep(150); System.gc() }
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    // The context cleaner frees unreachable RDDs, shuffles and broadcasts
    // between GCs; after a run with few GCs its backlog outlasts one pause,
    // so GC until a GC frees less than 1 MB more (at most ten times)
    var heap = used()
    var prev = Long.MaxValue
    var i = 0
    while (prev - heap > (1L << 20) && i < 10) {
      Thread.sleep(150)
      prev = heap
      heap = used()
      i += 1
    }
    val held = spark.sparkContext.getRDDStorageInfo
    val disk = held.map(_.diskSize).sum
    System.err.println(f"[bench] retained: heap ${heap / 1048576.0}%.1f MB, " +
      f"${held.length} persisted RDDs holding ${held.map(_.memSize).sum / 1048576.0}%.1f MB in memory " +
      f"and ${disk / 1048576.0}%.1f MB on disk")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    gc()
    (heap + disk) / 1048576.0
  }

  /** One run; a run that throws counts as failed, with the time it took. */
  def attempt(w: Workload, tr: Tracer): RunResult = {
    val t0 = System.nanoTime()
    try w.run(tr)
    catch {
      case scala.util.control.NonFatal(e) =>
        val secs = (System.nanoTime() - t0) / 1e9
        RunResult(secs, Seq(secs), Seq(s"run threw $e"))
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def inputs(a: Args): SparkSession => Workload = {
    val dir = new File(a.work, "inputs")
    a.workload match {
      case "etl_full_load" =>
        val in = Gen.fullLoad(a.seed, dir, rows = 250000, nProducts = 15000)
        System.err.println(s"[bench] planted: ${in.summary}")
        (s: SparkSession) => new FullLoad(s, in, new File(a.work, "warehouse"))
      case "etl_daily_merge" =>
        val in = Gen.dailyMerge(a.seed, dir, baseDays = 120, baseRows = 60000,
          nProducts = 10000, nDeltas = 2, deltaRows = 10000)
        System.err.println(s"[bench] planted: ${in.summary}")
        (s: SparkSession) => new DailyMerge(s, in, new File(a.work, "merge"), new File(a.work, "warehouse"))
      case "corpus_prep" =>
        val in = Gen.corpus(a.seed, dir, n = 3000, nBench = 150, files = Cores)
        System.err.println(s"[bench] planted: ${in.summary}")
        (s: SparkSession) => new CorpusPrep(s, in)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val (mk, genS) = Workloads.time(inputs(a))
    System.err.println(f"[bench] inputs generated in $genS%.2f s")

    val t0 = System.nanoTime()
    val spark = session(a.work)
    val w = mk(spark)
    w.setup()
    w.beforeRun()
    val warm = attempt(w, NoTrace)
    val setupS = (mainMs - jvmStartMs) / 1000.0 + (System.nanoTime() - t0) / 1e9
    System.err.println(f"[bench] setup $setupS%.3f s (warm-up run ${warm.seconds}%.3f s)")

    var attempted = 1
    var failed = if (warm.ok) 0 else 1
    warm.errors.take(5).foreach(e => System.err.println(s"[bench] warm-up: $e"))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupS, "s")

    if (!a.trace) {
      for (_ <- 0 until w.settleRuns) {
        cleanup(spark)
        w.beforeRun()
        val r = attempt(w, NoTrace)
        System.err.println(f"[bench] settle run ${r.seconds}%.3f s")
        attempted += 1
        if (!r.ok) { failed += 1; r.errors.take(5).foreach(e => System.err.println(s"[bench] $e")) }
      }
      val runs = mutable.ArrayBuffer.empty[RunResult]
      val heaps = mutable.ArrayBuffer.empty[Double]
      val window0 = System.nanoTime()
      while (runs.map(_.units.size).sum < MinUnits || (System.nanoTime() - window0) / 1e9 < a.seconds) {
        heaps += cleanup(spark)
        w.beforeRun()
        val r = attempt(w, NoTrace)
        System.err.println(r.units.map(u => f"$u%.3f").mkString("[bench] run units: ", " ", ""))
        runs += r
        attempted += 1
        if (!r.ok) { failed += 1; r.errors.take(5).foreach(e => System.err.println(s"[bench] $e")) }
      }
      heaps += cleanup(spark)
      val units = runs.flatMap(_.units).toSeq
      System.err.println(s"[bench] ${runs.size} timed runs, ${units.size} units")
      metrics("run_s") = (median(runs.map(_.seconds).toSeq), "s")
      metrics("delta_p50_s") = (median(units), "s")
      // a window holds too few units for a percentile with ten beyond it: p100
      metrics("delta_tail_s") = (units.max, "s")
      metrics("heap_retained_mb") = (median(heaps.toSeq), "MB")
      System.err.println(f"[bench] fail_share ${failed.toDouble / attempted}%.4f ($failed of $attempted runs)")
    } else {
      val (m, ok) = Traced.measure(spark, w, a)
      attempted += ok.size
      failed += ok.count(!_)
      metrics.clear()
      metrics ++= m
    }
    spark.stop()
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
  }
}

/** The traced protocol: an untraced run that lets JIT settle, a run with
  * every layer call in a span and the stage listener attached, another
  * untraced run (the overhead baseline), and for corpus_prep a kernel
  * sweep. Spans and per-stage costs go to `<work>/spans.json`. */
object Traced {
  import Main._

  def measure(spark: SparkSession, w: Workload, a: Args)
      : (Seq[(String, (Double, String))], Seq[Boolean]) = {
    val sc = spark.sparkContext
    def plainRun(): RunResult = { cleanup(spark); w.beforeRun(); attempt(w, NoTrace) }
    val before = plainRun()
    cleanup(spark)
    w.beforeRun()
    val log = new StageLog
    sc.addSparkListener(log)
    log.drain(sc)
    log.clear()
    val tr = new SpanTracer(sc)
    val rdds0 = sc.getPersistentRDDs.keySet
    val wall0 = System.currentTimeMillis()
    val traced = tr("run") { attempt(w, tr) }
    val wall1 = System.currentTimeMillis()
    val newRdds = sc.getPersistentRDDs.keySet -- rdds0
    val ckptMb = sc.getRDDStorageInfo.filter(i => newRdds.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val filesWritten = dataFiles(w.outputDirs).count { case (_, t) => t >= wall0 }
    log.drain(sc)
    sc.removeSparkListener(log)
    val after = plainRun()
    val jobs = log.jobList
    val stages = log.stageList
    Seq(before, traced, after).foreach(_.errors.take(5).foreach(e => System.err.println(s"[bench] $e")))

    // AQE submits query stages from its own threads, so a stage's or job's
    // call site often names no engine frame; the action that started its
    // SQL execution does
    def frameOf(details: String, execution: String): Option[Frame] =
      callSiteFrame(details).orElse(Option(log.executionSite.get(execution)).flatMap(callSiteFrame))
    val layerOf = stages.map(s => s.stageId -> frameOf(s.details, s.execution)
      .fold("bench")(f => s"${f.pkg}.${f.obj}")).toMap

    // The layer each job serves, named by its time metric: the innermost
    // layer span it ran under, or, under a span around a whole entry point
    // (`pipeline.*`), the engine frame that asked for it
    val spanById = tr.spans.map(s => s.id -> s).toMap
    def spanLayer(s: Span): Option[String] =
      if (s.name.startsWith("pipeline.")) Some("pipeline")
      else SpanLayers.collectFirst { case (prefix, l) if s.name.startsWith(prefix) => l }
    def jobLayer(j: JobRec): String =
      Iterator.iterate(spanById.get(j.span))(_.flatMap(s => spanById.get(s.parent)))
        .takeWhile(_.isDefined).flatten.flatMap(spanLayer).nextOption() match {
          case Some("pipeline") => frameOf(j.details, j.execution).fold("bench")(siteLayer)
          case Some(l) => l
          case None => "bench"
        }
    val layerOfJob = jobs.map(j => j.jobId -> jobLayer(j)).toMap
    val jobOfStage = jobs.sortBy(-_.jobId).flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    def stageLayer(s: StageRec) = jobOfStage.get(s.stageId).fold("bench")(layerOfJob)
    def jobsOf(layer: String) = jobs.count(j => layerOfJob(j.jobId) == layer).toDouble
    // Time inside an entry-point span is split between layers by job: each
    // job is charged the wall time from the previous job's end (or the
    // span's start) to its own end, the last job also the rest of the span
    val split = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    tr.spans.filter(_.name.startsWith("pipeline.")).foreach { s =>
      val inside = jobs.filter(j => spanById.get(j.span).exists(x => x.id == s.id || x.parent == s.id))
        .sortBy(_.endMs)
      var cursor = s.startMs
      inside.zipWithIndex.foreach { case (j, i) =>
        val end = if (i == inside.size - 1) math.max(s.endMs, j.endMs) else j.endMs
        split(layerOfJob(j.jobId)) += math.max(0L, end - cursor) / 1000.0
        cursor = math.max(cursor, end)
      }
      if (inside.isEmpty) split("bench") += (s.endMs - s.startMs) / 1000.0
    }
    def layerSeconds(layer: String) =
      tr.spans.filter(s => spanLayer(s).contains(layer)).map(tr.selfSeconds).sum + split(layer)

    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def mb(b: Double) = b / 1048576.0
    // wall time with no job running
    val busy = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }.map { case (s, e) => math.min(e, wall1) - math.max(s, wall0) }.filter(_ > 0).sum
    out("spark.jobs") = (jobs.size.toDouble, "count")
    out("spark.tasks") = (stages.map(_.tasks).sum.toDouble, "count")
    out("spark.driver_gap_s") = ((wall1 - wall0 - busy) / 1000.0, "s")
    out("spark.executor_cpu_s") = (stages.map(_.cpuNs).sum / 1e9, "s")
    out("spark.gc_s") = (stages.map(_.gcMs).sum / 1000.0, "s")
    out("spark.input_mb") = (mb(stages.map(_.inputBytes).sum.toDouble), "MB")
    out("spark.output_mb") = (mb(stages.map(_.outputBytes).sum.toDouble), "MB")
    out("spark.shuffle_write_mb") = (mb(stages.map(_.shuffleWriteBytes).sum.toDouble), "MB")
    out("spark.spill_mb") = (mb(stages.map(_.spillBytes).sum.toDouble), "MB")

    out("sources.extract_s") = (layerSeconds("sources.extract_s"), "s")
    out("sources.infer_jobs") = (jobsOf("sources.extract_s"), "count")
    // stages that read raw inputs: every scan is a text format, or no scan
    // at all in a sources job (JSON schema inference)
    val rawRead = stages.filter(s =>
      if (s.scans.isEmpty) stageLayer(s) == "sources.extract_s"
      else s.scans.forall(x => Seq("Scan csv", "Scan json", "Scan text").exists(x.startsWith)))
    out("sources.input_passes") = (rawRead.map(_.inputBytes).sum.toDouble / w.rawBytes, "ratio")
    out("etl.transform_s") = (layerSeconds("etl.transform_s"), "s")
    out("etl.load_s") = (layerSeconds("etl.load_s"), "s")
    out("etl.merge_s") = (layerSeconds("etl.merge_s"), "s")
    out("etl.write_amplification") = (stages.map(_.outputBytes).sum.toDouble / w.rawBytes, "ratio")
    out("etl.files_written") = (filesWritten.toDouble, "count")
    out("quality.validate_s") = (layerSeconds("quality.validate_s"), "s")
    out("quality.jobs") = (jobsOf("quality.validate_s"), "count")
    out("quality.scan_mb") = (mb(stages.filter(s => stageLayer(s) == "quality.validate_s")
      .map(_.inputBytes).sum.toDouble), "MB")
    out("corpus.prepare_s") = (layerSeconds("corpus.prepare_s"), "s")
    out("corpus.action_s") = (layerSeconds("corpus.action_s"), "s")
    out("corpus.jobs") = (jobsOf("corpus.prepare_s") + jobsOf("corpus.action_s"), "count")
    out("corpus.checkpoints") = (newRdds.size.toDouble, "count")
    out("corpus.checkpoint_mb") = (ckptMb, "MB")
    val kept = w match {
      case c: CorpusPrep => c.lastCounts.toMap
      case _ => Map.empty[String, Long]
    }
    CorpusKept.foreach(k => out(s"corpus.kept.$k") = (kept.getOrElse(k, 0L).toDouble, "count"))
    def siteCpu(site: String) = stages.filter(s => layerOf(s.stageId) == site).map(_.cpuNs).sum / 1e9
    out("operators.Dedup.cpu_s") = (siteCpu("operators.Dedup"), "s")
    out("operators.Dedup.jobs") = (jobs.count(j => j.stageIds.flatMap(layerOf.get).contains("operators.Dedup"))
      .toDouble, "count")
    out("operators.LineDedup.cpu_s") = (siteCpu("operators.LineDedup"), "s")
    out("operators.Chunking.cpu_s") = (siteCpu("operators.Chunking"), "s")
    out("pipeline.CorpusPipeline.cpu_s") = (siteCpu("pipeline.CorpusPipeline"), "s")

    val stageJson = stages.sortBy(_.stageId).map { s =>
      s"""{"stage":${s.stageId},"span":${s.span},"layer":"${layerOf(s.stageId)}","tasks":${s.tasks},""" +
        s""""cpu_s":${s.cpuNs / 1e9},"input_mb":${mb(s.inputBytes.toDouble)},"shuffle_write_mb":${mb(s.shuffleWriteBytes.toDouble)},""" +
        s.scans.map(x => "\"" + x.replace("\"", "'") + "\"").mkString("\"scans\":[", ",", "]}")
    }.mkString("[\n", ",\n", "\n]")
    val jobJson = jobs.sortBy(_.jobId).map { j =>
      s"""{"job":${j.jobId},"span":${j.span},"layer":"${layerOfJob(j.jobId)}",""" +
        s""""start_s":${(j.startMs - wall0) / 1000.0},"end_s":${(j.endMs - wall0) / 1000.0}}"""
    }.mkString("[\n", ",\n", "\n]")
    Files.write(new File(a.work, "spans.json").toPath,
      s"""{"spans":${tr.toJson},"jobs":$jobJson,"stages":$stageJson}\n""".getBytes(UTF_8))

    val sweep = w match {
      case c: CorpusPrep => kernelSweep(spark, c)
      case _ => Map.empty[String, Double]
    }
    Kernels.foreach(k => out(s"functions.$k.mb_per_cpu_s") = (sweep.getOrElse(k, 0.0), "MB/cpu-s"))
    // against the later untraced run: the earlier one still pays JIT warm-up
    out("trace_overhead") = (traced.seconds / after.seconds - 1, "ratio")
    (out.toSeq, Seq(before.ok, traced.ok, after.ok))
  }

  val CorpusKept = Seq("input", "quality", "exact_dedup", "line_dedup", "near_dedup", "decontaminated")
  val Kernels = Seq("strip_html", "gopher_pass", "lang_id", "shingles", "minhash_sig", "redact_pii")

  /** Span name prefix -> the layer time metric its self time counts in.
    * Spans named `pipeline.*` wrap a whole entry point instead; their time
    * is split by [[siteLayer]]. */
  val SpanLayers = Seq(
    "sources." -> "sources.extract_s",
    "etl.transform" -> "etl.transform_s",
    "etl.mergeUpsert" -> "etl.merge_s",
    "etl." -> "etl.load_s",
    "quality." -> "quality.validate_s",
    "corpus.prepare" -> "corpus.prepare_s",
    "corpus." -> "corpus.action_s")

  /** The layer of a job `Pipeline.run` submits, from the engine frame that
    * asked for it: `Pipeline.run`'s own counts are the transform's ("transform
    * and count"), `Pipeline.validate`'s actions are the quality checks'. */
  def siteLayer(f: Frame): String = (f.pkg, f.obj, f.method) match {
    case ("sources", _, _) => "sources.extract_s"
    case ("etl", _, _) => "etl.load_s"
    case ("quality", _, _) | ("pipeline", "Pipeline", "validate") => "quality.validate_s"
    case ("pipeline", "Pipeline", _) => "etl.transform_s"
    case _ => "bench"
  }

  final case class Frame(pkg: String, obj: String, method: String)

  /** The engine function that asked for a stage or job: the innermost
    * `graft` frame of its creation call site outside the benchmark,
    * skipping the materialization helpers every operator checkpoints
    * through. */
  private val frame = """^graft\.(\w+)\.(\w+?)\$?\.(\w+)""".r
  def callSiteFrame(details: String): Option[Frame] =
    details.linesIterator.flatMap(l => frame.findFirstMatchIn(l.trim))
      .filterNot(m => m.group(1) == "bench" || m.group(3).startsWith("materialize"))
      .map(m => Frame(m.group(1), m.group(2), m.group(3))).nextOption()

  /** Data files under the output directories with their modification times. */
  private def dataFiles(dirs: Seq[File]): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    dirs.flatMap(walk).filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  /** Each `functions` kernel alone over the corpus input text: MB of text
    * per second of executor CPU. Inputs are cached first, so the kernel's
    * own evaluation dominates each job. */
  def kernelSweep(spark: SparkSession, c: CorpusPrep): Map[String, Double] = {
    GraftFunctions.register(spark)
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val raw = graft.sources.Sources.json(spark, c.in.corpusDir.getPath).select(col("text")).cache()
    val textMb = raw.agg(sum(octet_length(col("text")))).head().getLong(0) / 1048576.0
    val clean = raw.select(TextAnalysis.collapseLineWhitespace(TextAnalysis.stripHtml(col("text")))
      .as("text")).cache()
    clean.count()
    val cleanMb = clean.agg(sum(octet_length(col("text")))).head().getLong(0) / 1048576.0
    val shingled = clean.select(GraftFunctions.shinglesNative(col("text"), 3).as("sh")).cache()
    shingled.count()
    def cpuOf(job: => Unit): Double = {
      log.drain(spark.sparkContext)
      log.clear()
      job
      log.drain(spark.sparkContext)
      log.stageList.map(_.cpuNs).sum / 1e9
    }
    val t = col("text")
    val res = Seq(
      "strip_html" -> (textMb, () => raw.agg(sum(length(TextAnalysis.stripHtml(t)))).head()),
      "gopher_pass" -> (cleanMb, () => clean.agg(count(when(TextAnalysis.gopherPass(t), 1))).head()),
      "lang_id" -> (cleanMb, () => clean.agg(count(when(GraftFunctions.langIdNative(t) === "en", 1))).head()),
      "shingles" -> (cleanMb, () => clean.agg(sum(size(GraftFunctions.shinglesNative(t, 3)))).head()),
      "minhash_sig" -> (cleanMb, () => shingled.agg(sum(size(GraftFunctions.minhashSig(col("sh"), 128)))).head()),
      "redact_pii" -> (cleanMb, () => clean.agg(sum(length(TextAnalysis.redactPii(t)))).head()))
      .map { case (k, (mb, job)) => k -> mb / cpuOf(job()) }
    Seq(raw, clean, shingled).foreach(_.unpersist(blocking = true))
    spark.sparkContext.removeSparkListener(log)
    res.toMap
  }
}
