package perfbench

import graft.pipeline.Extract
import graft.table.SnapshotTable

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark self-test: a minimal-size pass of every workload, untraced and
  * traced, whose metric names and units must match BENCHMARK.json; then a
  * planted wrong row and a planted golden mismatch the gate must reject,
  * and a job hidden from the listener that the trace checks must report.
  */
object SelfTest {

  private def declared(section: String): Vector[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get("BENCHMARK.json")))
    root.get(section).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toVector
  }

  def run(workRoot: Path): Int = {
    var failures = Vector.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      System.out.println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures :+= what
    }
    val workloadNames = {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readAllBytes(Paths.get("BENCHMARK.json")))
      root.get("workloads").elements().asScala.map(_.get("name").asText()).toVector
    }
    expect(workloadNames == Workloads.all.map(_.name), "BENCHMARK.json lists the benchmark's workloads")

    for (w <- Workloads.all; trace <- Seq(false, true)) {
      val o = Run(w, seed = 1, seconds = 0, trace = trace, minimal = true, workRoot)
      val want = declared(if (trace) "per_layer" else "end_to_end")
      val got = o.metrics.map(m => m.name -> m.unit)
      expect(o.correct && o.failed == 0, s"${w.name} trace=$trace minimal pass is correct")
      expect(got.toSet == want.toSet,
        s"${w.name} trace=$trace reports exactly the declared metrics " +
          s"(missing ${want.diff(got).mkString(",")}; extra ${got.diff(want).mkString(",")})")
    }

    plantedRows(workRoot, expect)
    // Spark keeps the first session's spark.local.dir as the JVM's local
    // root, so later sessions leave their empty scratch under that run's dir
    Run.deleteTree(workRoot.resolve("runs"))
    if (failures.isEmpty) { println("[self-test] PASS"); 0 }
    else { println(s"[self-test] FAILED: ${failures.mkString("; ")}"); 1 }
  }

  /** A wrong row appended to a committed snapshot, and a golden whose
    * bytes differ from the output, must each fail the gate. A job the
    * listener does not see, a missing input row and write jobs longer than
    * the buckets must each fail the trace checks.
    */
  private def plantedRows(workRoot: Path, expect: (Boolean, String) => Unit): Unit = {
    val w = Workloads.byName("crawl-mixed-construction").get
    val dir = workRoot.resolve("runs").resolve(s"planted-${java.util.UUID.randomUUID().toString.take(8)}")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Run.session(cores, dir)
    try {
      val in = Workloads.rows(w, Workloads.replicasFor(w, 1, 1))
      val pages = dir.resolve("pages").toString
      val out = dir.resolve("out").toString
      Workloads.write(spark, w, in, pages, cores)
      val cfg = Run.config(w, cores)
      Extract.run(spark, pages, out, cfg)
      val ref = CoreTrace.reference(in, w.mode)
      val goldens = Gate.goldensFor(in.map(_.url), w.mode)
      val exp = Gate.expected(ref, goldens)
      val clean = Gate.check(spark, out, exp, Gate.report(spark, out))
      expect(clean.ok && clean.goldenChecked > 0, s"gate accepts the untouched snapshot ($clean)")

      // a traced call; the returned function runs the trace checks on it
      // against the given input rows and bucket seconds
      val tracer = new SparkTrace
      def traced(k: Int, hideJob: Boolean): (Long, Option[Double]) => SparkTrace.Window = {
        val o = dir.resolve(s"traced-$k").toString
        tracer.attach(spark)
        val t0 = System.currentTimeMillis()
        val (_, wall) = Stats.seconds(Extract.run(spark, pages, o, cfg))
        val t1 = System.currentTimeMillis()
        if (hideJob) {
          spark.sparkContext.removeSparkListener(tracer)
          spark.range(10).count()
          spark.sparkContext.addSparkListener(tracer)
        }
        tracer.detach(spark)
        val m = new SnapshotTable(o).currentManifest.get
        (rows, secs) => tracer.window(t0, t1, wall, cores, rows, m.metrics.map(_.docs).sum,
          secs.getOrElse(m.metrics.map(_.seconds).sum), 1, new Spans("self-test"), -1)
      }
      val rows = in.length.toLong
      val call = traced(0, hideJob = false)
      val ok = call(rows, None)
      expect(ok.problems.isEmpty, s"trace checks pass on a traced call (${ok.problems.mkString("; ")})")
      expect(call(rows + 1, None).problems.exists(_.contains("input rows")),
        "trace checks report one input row more than the write jobs read")
      expect(call(rows, Some(0.0)).problems.exists(_.contains("longer than the buckets")),
        "trace checks report write jobs longer than the buckets")
      val hidden = traced(1, hideJob = true)(rows, None)
      expect(hidden.problems.exists(_.contains("no complete record")),
        s"trace checks report a job hidden from the listener (${hidden.problems.mkString("; ")})")

      val (goldenUrl, golden) = goldens.head
      val badGolden = Gate.check(spark, out,
        exp.copy(goldens = exp.goldens.updated(goldenUrl, golden + " ")), Gate.report(spark, out))
      expect(!badGolden.ok && badGolden.goldenMismatched == 1,
        s"gate rejects a golden that differs by one byte ($badGolden)")

      val bucketDir = Files.list(dir.resolve("out").resolve("data")).iterator().asScala
        .flatMap(snap => Files.list(snap).iterator().asScala)
        .find(b => Workloads.parquetFiles(b) > 0).get.toString
      val victim = spark.read.parquet(bucketDir).limit(1)
        .withColumn("extracted_text", concat(col("extracted_text"), lit("x")))
        .localCheckpoint()
      victim.write.mode(SaveMode.Append).parquet(bucketDir)
      val planted = Gate.check(spark, out, exp, Gate.report(spark, out))
      expect(!planted.ok && planted.duplicated == 1 && planted.mismatched == 1,
        s"gate rejects a planted wrong row ($planted)")
    } finally {
      spark.stop()
      Run.deleteTree(dir)
    }
  }
}
