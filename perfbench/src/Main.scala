package perfbench

import java.nio.file.{Path, Paths}

/** Benchmark entry point.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   perfbench.Main --self-test
  *
  * and, in the child JVM the benchmark starts itself,
  *
  *   perfbench.Main --make-warmup    (see [[Warmup]])
  *
  * Prints one summary line, then, as the last line of stdout, the result
  * object {correct, attempted, failed, metrics}. Exits 0 only when every
  * committed snapshot passed the correctness gate.
  */
object Main {

  val workRoot: Path = Paths.get(".bench_build")

  def main(argv: Array[String]): Unit = {
    val code =
      try run(argv.toList)
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def run(argv: List[String]): Int = argv match {
    case List("--make-warmup") => Warmup.make(workRoot); 0
    case _ =>
      Warmup.ensure(workRoot)
      measure(argv)
  }

  private def measure(argv: List[String]): Int = {
    val opts = argv.grouped(2).collect { case List(k, v) if k.startsWith("--") => k -> v }.toMap
    if (argv.contains("--self-test")) return SelfTest.run(workRoot)
    val w = opts.get("--workload").flatMap(Workloads.byName).getOrElse {
      System.err.println(s"usage: --workload <${Workloads.all.map(_.name).mkString("|")}> " +
        "--seed <n> --seconds <s> --trace <0|1>  |  --self-test")
      return 2
    }
    val seed = opts.getOrElse("--seed", "0").toLong
    val seconds = opts.getOrElse("--seconds", "10").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val o = Run(w, seed, seconds, trace, minimal = false, workRoot)
    val shown = o.metrics.map(m => s"${m.name}=${fmt(m.value)} ${m.unit}").mkString("  ")
    println(s"${w.name} seed=$seed trace=${if (trace) 1 else 0} correct=${o.correct} " +
      s"error_frac=${fmt(o.failed.toDouble / o.attempted)}  $shown")
    println(resultLine(o))
    if (o.correct) 0 else 1
  }

  private def fmt(d: Double): String = f"$d%.4f"

  def resultLine(o: Run.Outcome): String = Json.render(Json.obj(
    "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
    "metrics" -> Json.obj(o.metrics.map(m => m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*)))
}
