package perfbench

import graft.pipeline.Extract
import graft.table.SnapshotTable

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One workload run: set up (session + warm-up extraction) in this fresh
  * JVM, generate the seeded input and build the gate's reference, then run
  * `Extract.run` closed-loop — one job at a time — for the measuring time,
  * gating every committed snapshot.
  *
  * With `trace`, the reference pass is the traced parse-core pass, and the
  * loop alternates untraced and traced `Extract.run` calls; traced calls
  * record Spark-side spans through [[SparkTrace]].
  */
object Run {

  final case class Metric(name: String, value: Double, unit: String)
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           metrics: Vector[Metric])

  /** Operator reports timed after each call. */
  val ScanReps = 2
  /** Untimed calls between set-up and the measuring loop, and the untimed
    * operator reports after each: a fixed amount of work, so that a slow
    * machine does not start the loop with less compiled code. */
  val WarmCalls = 4
  val WarmScans = 4
  /** Σ layer self time ÷ `parseRow` time must be within 1 ± this. */
  val CoverageTolerance = 0.1

  def session(cores: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def config(w: Workload, cores: Int): Extract.Config =
    Extract.Config(mode = w.mode, buckets = w.buckets, parallelism = cores, ocrEngine = "fake")

  /** One set-up, as `setup_s` times it: build the Spark session, then the
    * warm-up — an extraction of the fixed warm-up table in the workload's
    * mode and the operator report over it, so neither the writer nor the
    * reader path is cold afterwards. It runs first thing in the run's JVM,
    * before any program code: class loading, lazy values, regex
    * compilation, JIT and Spark's first plans cost what they cost a fresh
    * process. A cold set-up takes ≈11 s on 4 cores, so there is one per run.
    */
  def setUp(w: Workload, cores: Int, dir: Path, workRoot: Path): (SparkSession, Double) =
    Stats.seconds {
      val spark = session(cores, dir)
      val out = dir.resolve("warm-out").toString
      Extract.run(spark, Warmup.pages(workRoot).toString, out, config(w, cores).copy(buckets = 1))
      Gate.report(spark, out)
      spark
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def apply(w: Workload, seed: Long, seconds: Double, trace: Boolean, minimal: Boolean,
            workRoot: Path): Outcome = {
    val cores = Runtime.getRuntime.availableProcessors()
    val runId = s"${w.name}-s$seed-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = workRoot.resolve("runs").resolve(runId)
    Files.createDirectories(dir)
    try measure(w, seed, seconds, trace, minimal, workRoot, dir, runId, cores)
    finally {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      deleteTree(dir)
    }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  private def measure(w: Workload, seed: Long, seconds: Double, trace: Boolean,
                      minimal: Boolean, workRoot: Path, dir: Path, runId: String,
                      cores: Int): Outcome = {
    val cfg = config(w, cores)
    // ---- set-up: nothing of the program has run in this JVM yet ---------
    val (spark, setupS) = setUp(w, cores, dir, workRoot)
    log(f"$runId set-up: $setupS%.3f s")

    // ---- input and the gate's reference (part of no metric) ------------
    val replicas = Workloads.replicasFor(w, seed, if (minimal) 1 else w.replicas)
    val in = Workloads.rows(w, replicas)
    val pages = dir.resolve("pages").toString
    val spans = new Spans(runId)
    // untraced, the reference is built while the input is written and the
    // untimed calls run
    val pendingReference =
      if (trace) None
      else Some(scala.concurrent.Future(CoreTrace.reference(in, w.mode))(
        scala.concurrent.ExecutionContext.global))
    Workloads.write(spark, w, in, pages, cores)
    val profile = Workloads.profile(w, replicas, in, pages)
    log(s"$runId ${in.length} rows written; input profile: ${Json.render(profile)}")

    // ---- untimed calls and reports on the run's own input: the set-up's
    // warm-up table is small, and full calls and reports keep getting
    // faster for a minute or more as the JIT compiles the writer, planner
    // and parse paths
    val warm0 = System.nanoTime()
    for (k <- 0 until (if (minimal) 1 else WarmCalls)) {
      val out = dir.resolve(s"warm-call-$k")
      Extract.run(spark, pages, out.toString, cfg)
      for (_ <- 1 to (if (minimal) 1 else WarmScans)) Gate.report(spark, out.toString)
      deleteTree(out)
    }
    log(f"$runId untimed calls took ${(System.nanoTime() - warm0) / 1e9}%.1f s")
    val untracedReference = pendingReference.map(
      scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))

    // traced, the reference is the parse-core pass, made now that the
    // parse core is as warm as in the loop: a pass over colder code times
    // each first call (parseRow) slower than the replayed layers after it
    val (reference, core) = untracedReference match {
      case Some(r) => (r, None)
      case None =>
        val t = System.currentTimeMillis().toDouble
        val root = spans.add("parse_core_pass", -1, t, t)
        val r = CoreTrace.traced(in, w.mode, spans, root)
        spans.finish(root, System.currentTimeMillis().toDouble)
        if (r.replayMismatches > 0)
          log(s"WARNING: ${r.replayMismatches} docs: replayed layers disagree with parseRow")
        (r.rows, Some(r))
    }
    val goldens =
      if (w.goldenReplica) Gate.goldensFor(in.map(_.url).filterNot(_.contains("?r=")), w.mode)
      else Map.empty[String, String]
    val expected = Gate.expected(reference, goldens)

    // ---- closed loop over Extract.run ----------------------------------
    // at least 4 calls, so that the median has samples on either side even
    // when the machine is slow
    val minIters = if (minimal) (if (trace) 2 else 1) else 4
    val untracedDps, tracedDps, scanS = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[SparkTrace.Window]
    val tracer = new SparkTrace
    val traceProblems = ArrayBuffer.empty[String]
    core.foreach { c =>
      if (math.abs(c.coverage - 1) > CoverageTolerance)
        traceProblems += f"trace.coverage ${c.coverage}%.3f is outside 1 ± $CoverageTolerance"
    }
    var attempted, failed = 0L
    val loop0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val out = dir.resolve(s"out-$i").toString
      val tracedIter = trace && i % 2 == 1
      System.gc() // every timed call starts from the same heap state
      if (tracedIter) tracer.attach(spark)
      val startMs = System.currentTimeMillis()
      val (_, wall) = Stats.seconds(Extract.run(spark, pages, out, cfg))
      val endMs = System.currentTimeMillis()
      if (tracedIter) tracer.detach(spark)
      val manifest = new SnapshotTable(out).currentManifest
      val docs = manifest.map(_.metrics.map(_.docs).sum).getOrElse(0L)
      if (tracedIter) {
        val it = spans.add("extract_run", -1, startMs.toDouble, endMs.toDouble,
          "iteration" -> i, "docs" -> docs)
        val win = tracer.window(startMs, endMs, wall, cores, in.length, docs,
          manifest.map(_.metrics.map(_.seconds).sum).getOrElse(0.0),
          Workloads.parquetFiles(java.nio.file.Paths.get(out, "data")), spans, it)
        traceProblems ++= win.problems.map(p => s"iteration $i: $p")
        traced += win
        tracedDps += docs / wall
      } else untracedDps += docs / wall
      val scans = (1 to ScanReps).map(_ => Stats.seconds(Gate.report(spark, out)))
      scanS ++= scans.map(_._2)
      val v = Gate.check(spark, out, expected, scans.head._1)
      attempted += in.length
      failed += v.bad + (if (v.reportOk) 0 else 1)
      if (!v.ok) log(s"$runId iteration $i GATE FAILED: $v")
      log(f"$runId iteration $i: ${docs / wall}%.1f docs/s, wall $wall%.3f s, scan ${Stats.median(scans.map(_._2))}%.3f s")
      deleteTree(java.nio.file.Paths.get(out))
      i += 1
    }
    spark.stop()

    val errorFrac = failed.toDouble / math.max(1L, attempted)
    val metrics =
      if (!trace) Vector(
        // medians over the timed calls and scans: after the untimed stretch
        // the calls sit on a plateau with rare fast and slow outliers, which
        // a best or worst sample would pick up
        Metric("docs_per_s", Stats.median(untracedDps.toSeq), "docs/s"),
        Metric("setup_s", setupS, "s"),
        Metric("snapshot_scan_s", Stats.median(scanS.toSeq), "s"),
        Metric("clean_row_frac", 1.0 - errorFrac, "frac"))
      else {
        val spark = traced.head.metrics.map { case (name, _, unit) =>
          Metric(name, Stats.median(traced.map(_.metrics.find(_._1 == name).get._2).toSeq), unit)
        }
        val overhead = Stats.median(untracedDps.toSeq) / Stats.median(tracedDps.toSeq) - 1.0
        core.get.metrics.map { case (n, v, u) => Metric(n, v, u) } ++ spark :+
          Metric("trace.overhead", overhead, "frac")
      }
    if (trace) {
      val tdir = workRoot.resolve("traces")
      Files.createDirectories(tdir)
      spans.writeTo(tdir.resolve(s"$runId.spans.jsonl"))
      log(s"$runId wrote ${spans.size} spans to ${tdir.resolve(s"$runId.spans.jsonl")}")
    }
    traceProblems.foreach(p => log(s"$runId TRACE CHECK FAILED: $p"))
    // a failed trace check makes the traced run's figures untrustworthy
    val correct = failed == 0 && traceProblems.isEmpty
    val detail = Json.obj(
      "run_id" -> runId, "seed" -> seed, "trace" -> trace, "cores" -> cores, "iterations" -> i,
      "error_frac" -> errorFrac, "setup_s" -> setupS, "untraced_docs_per_s" -> untracedDps,
      "traced_docs_per_s" -> tracedDps, "snapshot_scan_s" -> scanS, "input" -> profile,
      "trace_coverage" -> core.map[Any](_.coverage).orNull, "trace_problems" -> traceProblems,
      "metrics" -> Json.obj(metrics.map(m => m.name -> m.value): _*))
    val rdir = workRoot.resolve("results")
    Files.createDirectories(rdir)
    Files.write(rdir.resolve(s"$runId.json"), Json.render(detail).getBytes(StandardCharsets.UTF_8))
    Outcome(correct, attempted, failed, metrics)
  }
}
