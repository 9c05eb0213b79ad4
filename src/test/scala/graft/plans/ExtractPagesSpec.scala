package graft.plans

import graft.fixtures.{CorpusIO, PagesGen}
import graft.pipeline.Extract

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The custom LogicalPlan/Strategy/SparkPlan stack: planned via
  * SparkSessionExtensions, the one physical parse path of batch and
  * streaming extraction, equal to `parseRow` with OCR, and column-pruning
  * the scan under the node.
  */
class ExtractPagesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions) // the deployment registration path
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    work = java.nio.file.Files.createTempDirectory("extract_pages_spec").toString
    PagesGen.write(spark, s"$work/pages", replicate = 1, buckets = 2)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def parseFields(df: DataFrame): Map[String, (String, String, String, Int)] =
    df.select("url", "extracted_text", "extracted_json", "error", "ocr_pages").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
      .toMap

  test("ExtractPages plans through the injected strategy and matches parseRow") {
    // one parse path: the node, parseRow and an Extract.run snapshot agree
    // per url with the OCR seam active (scanned PDFs included)
    val cfg = Extract.Config(ocrEngine = "fake")
    val pages = spark.read.parquet(s"$work/pages")
    val df = ExtractPages.extract(pages, cfg)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("ExtractPages"), "\n" + physical)
    val viaNode = parseFields(df)

    val out = s"$work/run"
    Extract.run(spark, s"$work/pages", out, cfg.copy(buckets = 2, parallelism = 4))
    val viaRun = parseFields(Extract.readSnapshot(spark, out))

    val docs = CorpusIO.load()
    assert(viaNode.size == docs.length && viaRun.size == docs.length)
    var ocrDocs = 0
    docs.foreach { d =>
      val (_, _, html, text, _) = graft.fixtures.PayloadGen.row(d)
      val want = Extract.parseRow(d.url, html, text, 0, cfg.mode, ocr = cfg.ocr)
      val w = (want.extracted_text, want.extracted_json, want.error, want.ocr_pages)
      assert(viaNode(d.url) == w, s"ExtractPages.extract: ${d.url}")
      assert(viaRun(d.url) == w, s"Extract.run: ${d.url}")
      if (want.ocr_pages > 0) ocrDocs += 1
    }
    assert(ocrDocs > 0, "the corpus must carry scanned docs the OCR seam recovers")
  }

  test("batch and streaming extraction both plan through ExtractPages, no object operators") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          plans.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val writePlan =
      try {
        Extract.run(spark, s"$work/pages", s"$work/plan_run",
          Extract.Config(buckets = 1, parallelism = 2))
        eventually(timeout(Span(30, Seconds))) { assert(!plans.isEmpty) }
        plans.peek()
      } finally spark.sparkContext.removeSparkListener(listener)

    val q = graft.streaming.StreamingExtract.run(spark, s"$work/pages", s"$work/plan_stream",
      Extract.Config(parallelism = 2))
    q.awaitTermination(120000)
    val streamPlan = q.asInstanceOf[StreamingQueryWrapper].explainInternal(true)

    Seq("Extract.run write" -> writePlan, "streaming" -> streamPlan).foreach { case (what, plan) =>
      assert(plan.contains("ExtractPages"), s"$what plan:\n$plan")
      assert(!plan.contains("MapPartitions") && !plan.contains("DeserializeToObject"),
        s"$what plan:\n$plan")
    }
  }

  test("the node column-prunes the parquet scan to url/html/text") {
    val pages = spark.read.parquet(s"$work/pages") // carries warc_ts, lang, bucket too
    val df = ExtractPages.extract(pages, Extract.Config(mode = "standard"))
      .select("url", "chars_out")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html") && readSchema.contains("text"),
      readSchema)
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("lang"), readSchema)
  }

  test("filters on input columns stay below the node (pushdown unaffected)") {
    val pages = spark.read.parquet(s"$work/pages").where(col("url").startsWith("https://host-1"))
    val df = ExtractPages.extract(pages, Extract.Config(mode = "standard"))
    val n = df.count()
    val expected = CorpusIO.load().count(_.url.startsWith("https://host-1"))
    assert(n == expected)
    val formatted = df.queryExecution.executedPlan.toString
    assert(formatted.contains("PushedFilters: [IsNotNull(url), StringStartsWith(url,https://host-1"),
      formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }
}
