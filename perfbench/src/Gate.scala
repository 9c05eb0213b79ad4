package perfbench

import graft.fixtures.CorpusIO
import graft.pipeline.{DocRow, Extract}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The correctness gate, run on every committed snapshot the benchmark
  * times. A row is bad when its url is missing, duplicated or unknown,
  * when its (extracted_text, extracted_json, error) digest differs from a
  * single-threaded in-process `Extract.parseRow` over the same input, when
  * it carries an error, or when it is a golden url whose JSON differs from
  * the golden file byte for byte.
  */
object Gate {

  final case class Expected(digests: Map[String, String], goldens: Map[String, String],
                            docs: Long, bytesIn: Long, charsOut: Long)

  final case class Verdict(rows: Long, missing: Long, duplicated: Long, unknown: Long,
                           mismatched: Long, errorRows: Long, goldenChecked: Long,
                           goldenMismatched: Long, reportOk: Boolean) {
    def bad: Long = missing + duplicated + unknown + mismatched + errorRows + goldenMismatched
    def ok: Boolean = bad == 0 && reportOk
    override def toString: String =
      s"rows=$rows missing=$missing duplicated=$duplicated unknown=$unknown " +
        s"mismatched=$mismatched error_rows=$errorRows golden=$goldenChecked " +
        s"golden_mismatched=$goldenMismatched report_ok=$reportOk"
  }

  private val Sep = "\u0001"
  private val NullMark = "\u0000"

  def digest(text: String, json: String, error: String): String = {
    val s = Seq(text, json, error).map(v => if (v == null) NullMark else v).mkString(Sep)
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }

  /** The same digest computed by Spark over the committed rows. */
  private def digestCol = sha2(concat_ws(Sep,
    coalesce(col("extracted_text"), lit(NullMark)),
    coalesce(col("extracted_json"), lit(NullMark)),
    coalesce(col("error"), lit(NullMark))), 256)

  /** Goldens for the golden-replica urls rendered in the run's mode. */
  def goldensFor(urls: Seq[String], mode: String): Map[String, String] = {
    val index = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get("src/test/resources/golden/index.json")))
    val inMode = scala.jdk.CollectionConverters.IteratorHasAsScala(index.elements()).asScala
      .filter(n => n.get("mode").asText() == mode).map(n => n.get("url").asText()).toSet
    urls.filter(inMode.contains).map { u =>
      u -> new String(Files.readAllBytes(Paths.get("src/test/resources/golden",
        CorpusIO.docId(u) + ".json")), StandardCharsets.UTF_8)
    }.toMap
  }

  def expected(reference: Seq[DocRow], goldens: Map[String, String]): Expected =
    Expected(
      reference.map(r => r.url -> digest(r.extracted_text, r.extracted_json, r.error)).toMap,
      goldens, reference.length.toLong, reference.map(_.bytes_in).sum,
      reference.map(_.chars_out).sum)

  /** The operator report `snapshot_scan_s` times: docs, bytes_in, errors and
    * chars_out per payload_kind over the committed snapshot.
    */
  def report(spark: SparkSession, outRoot: String): Array[org.apache.spark.sql.Row] =
    Extract.readSnapshot(spark, outRoot).groupBy("payload_kind").agg(
      count(lit(1)), sum("bytes_in"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)), sum("chars_out"))
      .orderBy("payload_kind").collect()

  def check(spark: SparkSession, outRoot: String, exp: Expected,
            report: Array[org.apache.spark.sql.Row]): Verdict = {
    val snap = Extract.readSnapshot(spark, outRoot)
    val got = snap.select(col("url"), digestCol.as("d"), col("error").isNotNull.as("err"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    val byUrl = got.groupBy(_._1)
    val duplicated = byUrl.values.map(_.length - 1L).sum
    val unknown = byUrl.keys.count(u => !exp.digests.contains(u)).toLong
    val missing = exp.digests.keys.count(u => !byUrl.contains(u)).toLong
    val mismatched = got.count { case (u, d, _) => exp.digests.get(u).exists(_ != d) }.toLong
    val errorRows = got.count(_._3).toLong
    val goldenMismatched =
      if (exp.goldens.isEmpty) 0L
      else {
        val json = snap.where(col("url").isin(exp.goldens.keys.toSeq: _*))
          .select("url", "extracted_json").collect()
          .map(r => r.getString(0) -> r.getString(1))
        exp.goldens.count { case (u, g) =>
          val mine = json.filter(_._1 == u)
          mine.length != 1 || mine.head._2 != g
        }.toLong
      }
    val reportOk =
      report.map(_.getLong(1)).sum == exp.docs &&
        report.map(_.getLong(2)).sum == exp.bytesIn &&
        report.map(_.getLong(3)).sum == 0L &&
        report.map(_.getLong(4)).sum == exp.charsOut
    Verdict(got.length.toLong, missing, duplicated, unknown, mismatched, errorRows,
      exp.goldens.size.toLong, goldenMismatched, reportOk)
  }
}
