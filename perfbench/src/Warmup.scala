package perfbench

import graft.fixtures.PagesGen

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The fixed warm-up table every set-up extracts: the first `PerStratum`
  * rows of each stratum (payload kind × PDF framing) of replica `Replica`
  * at fat=1, in one bucket. Small, so a set-up costs what a fresh process
  * pays before its first real extraction — class loading, lazy values,
  * regex compilation, Spark's first plans — and little parse work besides.
  * It does not depend on the seed. It is written once per build, by a
  * child JVM, so that the measuring JVM's set-up stays cold.
  */
object Warmup {
  val Replica = 1
  val PerStratum = 2

  def pages(workRoot: Path): Path = workRoot.resolve("warmup").resolve("pages")

  private def stamp(workRoot: Path): Path = workRoot.resolve("warmup").resolve("stamp")

  /** The build's stamp, or a constant when the classes were built elsewhere. */
  private def buildStamp(workRoot: Path): String = {
    val f = workRoot.resolve("classes.stamp")
    if (Files.exists(f)) new String(Files.readAllBytes(f), StandardCharsets.UTF_8) else "none"
  }

  def ensure(workRoot: Path): Unit = {
    val want = buildStamp(workRoot)
    val have =
      if (Files.exists(stamp(workRoot))) new String(Files.readAllBytes(stamp(workRoot)), StandardCharsets.UTF_8)
      else ""
    if (have != want || !Files.isDirectory(pages(workRoot))) {
      Run.deleteTree(workRoot.resolve("warmup"))
      makeInChild()
      Files.write(stamp(workRoot), want.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Runs `perfbench.Main --make-warmup` in a fresh JVM with this JVM's
    * flags and class path.
    */
  private def makeInChild(): Unit = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toVector
    val cmd = (java +: flags) ++ Vector("-cp", System.getProperty("java.class.path"),
      "perfbench.Main", "--make-warmup")
    // stdout discarded: the measuring JVM's stdout ends with its result
    val code = new ProcessBuilder(cmd.asJava).redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start().waitFor()
    require(code == 0, s"the JVM writing the warm-up table exited with $code")
  }

  /** Body of the `--make-warmup` child. */
  def make(workRoot: Path): Unit = {
    val dir = workRoot.resolve("warmup")
    val spark = Run.session(Runtime.getRuntime.availableProcessors(), dir.resolve("spark"))
    try {
      import spark.implicits._
      val rows = PagesGen.docsFor(Replica, 1).groupBy(Workloads.stratum).values
        .flatMap(_.take(PerStratum)).toVector.sortBy(_.url)
      rows.toDF()
        .withColumn("bucket", org.apache.spark.sql.functions.lit(0))
        .coalesce(1).write.partitionBy("bucket").parquet(pages(workRoot).toString)
    } finally {
      spark.stop()
      Run.deleteTree(dir.resolve("spark"))
    }
  }
}
