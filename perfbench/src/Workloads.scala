package perfbench

import graft.fixtures.PagesGen
import graft.fixtures.PagesGen.PageRowOut
import graft.pdf.Pdf

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The two crawl workloads. Every input row comes from
  * `PagesGen.docsFor(replica, fat)`; the seed only picks which replicas,
  * and the per-url variant (PDF framing, column layout, flate) follows
  * from the `?r=N` url suffix.
  *
  * @param replicas      replicas drawn per run (with `goldenReplica`:
  *                      replica 0 plus `replicas - 1` seeded ones)
  * @param goldenReplica carry replica 0, the golden urls, always at fat=1
  *                      so that its rows can be compared with the goldens
  * @param pdfOnly       keep only PDF payloads, plus the non-PDF rows of the
  *                      run's first replica so the HTML and text layers are
  *                      still measured
  * @param filesPerBucket 0 = spread writer (rows in generation order, one
  *                      file per writer task per bucket); k > 0 = rows
  *                      sorted by host and cut into k contiguous files per
  *                      bucket, so one host's rows sit together
  */
final case class Workload(name: String, mode: String, fat: Int, buckets: Int,
                          replicas: Int, goldenReplica: Boolean, pdfOnly: Boolean,
                          filesPerBucket: Int)

/** One generated input row plus what the profile and the gate need. */
final case class Input(row: PageRowOut, stratum: String) {
  def url: String = row.url
  def host: String = { val s = url.indexOf("://") + 3; url.substring(s, url.indexOf('/', s)) }
  def payloadBytes: Long =
    if (row.html != null) row.html.length.toLong
    else if (row.text != null) row.text.getBytes(StandardCharsets.UTF_8).length.toLong
    else 0L
}

object Workloads {

  /** Why each workload exists is stated in BENCHMARK.json and README.md. */
  val all: Vector[Workload] = Vector(
    Workload("crawl-mixed-construction", "construction", fat = 16, buckets = 2,
      replicas = 5, goldenReplica = true, pdfOnly = false, filesPerBucket = 0),
    Workload("pdf-clustered-standard", "standard", fat = 16, buckets = 2,
      replicas = 14, goldenReplica = false, pdfOnly = true, filesPerBucket = 2))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Replica numbers for a seed: a contiguous range far from replica 0 whose
    * start depends on the seed only. The golden replica 0 leads the list
    * when the workload carries it.
    */
  def replicasFor(w: Workload, seed: Long, count: Int): Vector[Int] = {
    val start = 1 + Math.floorMod(seed * 2654435761L + 40503L, 1000000L).toInt * 8
    val seeded = (start until start + count - (if (w.goldenReplica) 1 else 0)).toVector
    if (w.goldenReplica) 0 +: seeded else seeded
  }

  /** The run's input rows, replicas generated in parallel (generation is
    * not part of any metric).
    */
  def rows(w: Workload, replicas: Vector[Int]): Vector[Input] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val perReplica = replicas.zipWithIndex.map { case (r, i) =>
      val fat = if (r == 0 && w.goldenReplica) 1 else w.fat
      Future(PagesGen.docsFor(r, fat).map(row => Input(row, stratum(row))).filter { in =>
        !w.pdfOnly || in.stratum.startsWith("pdf") || i == 0
      })
    }
    perReplica.flatMap(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  /** Payload kind × PDF framing, read from the payload bytes. */
  def stratum(row: PageRowOut): String =
    if (row.html == null) "text"
    else if (!Pdf.isPdf(row.html)) "html"
    else {
      val s = new String(row.html, StandardCharsets.ISO_8859_1)
      if (s.contains("%%OCR ")) "pdf_scanned"
      else if (s.contains("/Type /ObjStm")) "pdf_objstm"
      else if (s.contains("/Predictor")) "pdf_xref_stream_pred"
      else if (s.contains("/Type /XRef")) "pdf_xref_stream"
      else "pdf_classic"
    }

  val strata: Vector[String] = Vector("html", "text", "pdf_classic", "pdf_xref_stream",
    "pdf_xref_stream_pred", "pdf_objstm", "pdf_scanned")

  /** Write the pages table (url, warc_ts, html, text, lang) partitioned by
    * `bucket = pmod(xxhash64(url), B)`, the layout `Extract.run` scans.
    */
  def write(spark: SparkSession, w: Workload, in: Vector[Input], path: String, cores: Int): Unit = {
    import spark.implicits._
    if (w.filesPerBucket <= 0) {
      spark.sparkContext.parallelize(in.map(_.row), math.max(1, math.min(cores, in.length))).toDF()
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(w.buckets)).cast("int"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    } else {
      // host-clustered: within each bucket, rows sorted by (host, url) and
      // cut into filesPerBucket contiguous runs; run c of bucket b is
      // partition b * filesPerBucket + c, so each run is one parquet file
      val k = w.filesPerBucket
      val buckets = bucketOf(spark, in.map(_.url), w.buckets)
      val keyed = in.groupBy(d => buckets(d.url)).toVector.flatMap { case (b, rows) =>
        val sorted = rows.sortBy(d => (d.host, d.url))
        sorted.zipWithIndex.map { case (d, i) => (b * k + i * k / sorted.length, d.row) }
      }
      val parts = w.buckets * k
      spark.sparkContext.parallelize(keyed, parts)
        .partitionBy(new org.apache.spark.HashPartitioner(parts)).values.toDF()
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(w.buckets)).cast("int"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
    }
  }

  /** url → pmod(xxhash64(url), buckets), computed by Spark itself. */
  private def bucketOf(spark: SparkSession, urls: Vector[String], buckets: Int): Map[String, Int] = {
    import spark.implicits._
    urls.toDF("url").select(col("url"), pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  /** Parquet data files under each `bucket=` directory of a table. */
  def filesPerBucket(path: String): Map[Int, Int] = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) Map.empty
    else Files.list(root).iterator().asScala.toVector
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .map(p => p.getFileName.toString.stripPrefix("bucket=").toInt -> parquetFiles(p))
      .toMap
  }

  private def parquetUnder(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else Files.walk(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toVector

  def parquetFiles(dir: Path): Int = parquetUnder(dir).length

  /** Input profile: what the run was given, recorded with every result. */
  def profile(w: Workload, replicas: Vector[Int], in: Vector[Input], pagesPath: String): Any = {
    val perStratum = strata.map(s => s -> in.count(_.stratum == s)).filter(_._2 > 0)
    val files = filesPerBucket(pagesPath).toVector.sortBy(_._1).map { case (b, n) => b.toString -> n }
    Json.obj(
      "workload" -> w.name, "mode" -> w.mode, "fat" -> w.fat, "buckets" -> w.buckets,
      "replicas" -> replicas, "docs" -> in.length, "docs_per_stratum" -> Json.obj(perStratum: _*),
      "payload_mb" -> in.map(_.payloadBytes).sum / 1e6,
      "host0_share" -> in.count(_.host == "host-0.example").toDouble / math.max(1, in.length),
      "files_per_bucket" -> Json.obj(files: _*))
  }
}
