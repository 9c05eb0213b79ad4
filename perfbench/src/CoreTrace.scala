package perfbench

import graft.core.{Assemble, CharsetDetect}
import graft.html.Boilerplate
import graft.json.{Canonical, J}
import graft.pdf.{Layout, Pdf}
import graft.pipeline.{Decode, DocRow, Extract}

/** Single-threaded passes over a workload's rows, calling the parse core's
  * public functions directly (no Spark).
  *
  * `reference` is the correctness gate's oracle: `Extract.parseRow` per row.
  *
  * `traced` also times each layer. Per doc it records a `doc` span with
  * children `parse_row` (the whole row), `decode` (`Decode.decode`), `fold`
  * (`Assemble.constructionResult` or `standardResult`, per the run's mode),
  * `render` (`Canonical.render`) and `combine` (`Assemble.combinePagesText`).
  * `Decode.decode` is opaque from outside, so its layers — `Pdf.parse`,
  * `Pdf.splitTables`, `Layout.pageText`, `CharsetDetect.decode`,
  * `Boilerplate.extract` — are replayed on the same payload right after it,
  * in the order decode runs them, and recorded as children of `decode`;
  * decode's self time is its duration minus those replays. The fold of the
  * other mode is timed too (`fold_other`), outside the coverage sum.
  */
object CoreTrace {

  private val ocr = Extract.Config(ocrEngine = "fake").ocr

  def parseRow(in: Input, mode: String): DocRow =
    Extract.parseRow(in.url, in.row.html, in.row.text, 0, mode, None, ocr, useOcr = false)

  def reference(in: Vector[Input], mode: String): Vector[DocRow] = in.map(parseRow(_, mode))

  final case class Result(rows: Vector[DocRow], metrics: Vector[(String, Double, String)],
                          coverage: Double, replayMismatches: Int)

  private def itemsFound(j: J): Long = j match {
    case J.O(fields) => fields.collectFirst { case ("total_items_found", J.I(v)) => v }.getOrElse(0L)
    case _ => 0L
  }

  def traced(in: Vector[Input], mode: String, spans: Spans, root: Int): Result = {
    val n = in.length
    val rowNs = new Array[Long](n)
    var decodeNs, parseNs, splitNs, layoutNs, charsetNs, boilerNs = 0L
    var foldNs, foldConsNs, foldStdNs, renderNs, combineNs = 0L
    var items, clean = 0L
    var mismatches = 0
    val epochMs = System.currentTimeMillis().toDouble
    val base = System.nanoTime()
    def ms(t: Long): Double = epochMs + (t - base) / 1e6

    val rows = in.indices.map { i =>
      val d = in(i)
      val html = d.row.html
      // parseRow runs before the layers on even docs and after them on odd
      // ones, so that whichever runs second finding the doc's data in cache,
      // and the JIT's progress along the pass, cancel out in the coverage
      var row: DocRow = null
      var r0, r1 = 0L
      def timeRow(): Unit = {
        r0 = System.nanoTime(); row = parseRow(d, mode); r1 = System.nanoTime()
      }
      if (i % 2 == 0) timeRow()

      val t1 = System.nanoTime()
      val dec = Decode.decode(html, d.row.text, ocr, false)
      val t2 = System.nanoTime()
      decodeNs += t2 - t1
      if (dec.error.isEmpty) clean += 1
      // replay decode's layers on the same payload
      var pNs, sNs, lNs, cNs, bNs = 0L
      if (html != null && Pdf.isPdf(html)) {
        val a = System.nanoTime()
        val pages = try Pdf.parse(html) catch { case _: Exception => Vector.empty[Pdf.PdfPage] }
        val b = System.nanoTime()
        pNs = b - a
        pages.headOption.foreach(p0 => Layout.pageText(p0.runs))
        lNs += System.nanoTime() - b
        pages.foreach { p =>
          val c = System.nanoTime()
          val textRuns = Pdf.splitTables(p)._2
          val e = System.nanoTime()
          Layout.pageText(p.runs)
          Layout.pageText(textRuns)
          sNs += e - c
          lNs += System.nanoTime() - e
        }
      } else if (html != null) {
        val a = System.nanoTime()
        val s = CharsetDetect.decode(html)
        val b = System.nanoTime()
        Boilerplate.extract(s)
        cNs = b - a
        bNs = System.nanoTime() - b
      }
      val t3 = System.nanoTime()
      val folded =
        if (dec.pages.isEmpty && dec.error.isDefined) null
        else if (mode == "standard") Assemble.standardResult(dec.pages)
        else Assemble.constructionResult(dec.pages, None)
      val t4 = System.nanoTime()
      val json = if (folded == null) null else Canonical.render(folded)
      val t5 = System.nanoTime()
      val text = Assemble.combinePagesText(dec.pages)
      val t6 = System.nanoTime()
      val other =
        if (mode == "standard") Assemble.constructionResult(dec.pages, None)
        else Assemble.standardResult(dec.pages)
      val t7 = System.nanoTime()
      if (i % 2 == 1) timeRow()
      rowNs(i) = r1 - r0

      parseNs += pNs; splitNs += sNs; layoutNs += lNs; charsetNs += cNs; boilerNs += bNs
      foldNs += t4 - t3; renderNs += t5 - t4; combineNs += t6 - t5
      if (mode == "standard") { foldStdNs += t4 - t3; foldConsNs += t7 - t6 }
      else { foldConsNs += t4 - t3; foldStdNs += t7 - t6 }
      items += itemsFound(if (mode == "standard") other else folded)
      if (text != row.extracted_text || json != row.extracted_json || dec.error.orNull != row.error)
        mismatches += 1

      val doc = spans.add("doc", root, ms(math.min(r0, t1)), ms(math.max(r1, t7)),
        "url" -> d.url, "stratum" -> d.stratum)
      spans.add("parse_row", doc, ms(r0), ms(r1))
      val decSpan = spans.add("decode", doc, ms(t1), ms(t2),
        "self_ms" -> (t2 - t1 - pNs - sNs - lNs - cNs - bNs) / 1e6)
      // replayed layers: durations are measured, placed after decode's span
      var at = t2
      Seq("pdf.parse" -> pNs, "pdf.split_tables" -> sNs, "pdf.layout" -> lNs,
          "html.charset" -> cNs, "html.boilerplate" -> bNs).foreach { case (name, dur) =>
        if (dur > 0) {
          spans.add(name, decSpan, ms(at), ms(at + dur), "replayed" -> true)
          at += dur
        }
      }
      spans.add("fold", doc, ms(t3), ms(t4))
      spans.add("render", doc, ms(t4), ms(t5))
      spans.add("combine", doc, ms(t5), ms(t6))
      spans.add("fold_other", doc, ms(t6), ms(t7))
      row
    }.toVector

    val children = parseNs + splitNs + layoutNs + charsetNs + boilerNs
    val layerSum = decodeNs + foldNs + renderNs + combineNs
    val coverage = layerSum.toDouble / math.max(1L, rowNs.sum)
    def perDoc(ns: Long) = ns / 1e6 / math.max(1, n)
    val rowMs = rowNs.map(_ / 1e6).toVector
    val strata = Workloads.strata.flatMap { s =>
      val xs = in.indices.filter(in(_).stratum == s).map(rowMs)
      Vector(s"parse_row.$s.ms_p50" -> xs, s"parse_row.$s.ms_p99" -> xs)
        .map { case (name, v) =>
          val q = if (name.endsWith("p50")) 0.5 else 0.99
          (name, if (v.isEmpty) 0.0 else Stats.percentile(v, q), "ms")
        }
    }
    val metrics = Vector(
      ("fold.construction.ms_per_doc", perDoc(foldConsNs), "ms"),
      ("fold.standard.ms_per_doc", perDoc(foldStdNs), "ms"),
      ("fold.items", items.toDouble, "count"),
      ("pdf.parse.ms_per_doc", perDoc(parseNs), "ms"),
      ("pdf.split_tables.ms_per_doc", perDoc(splitNs), "ms"),
      ("pdf.layout.ms_per_doc", perDoc(layoutNs), "ms"),
      ("html.charset.ms_per_doc", perDoc(charsetNs), "ms"),
      ("html.boilerplate.ms_per_doc", perDoc(boilerNs), "ms"),
      ("decode.self_ms_per_doc", perDoc(decodeNs - children), "ms"),
      ("decode.clean_frac", clean.toDouble / math.max(1, n), "frac"),
      ("render.ms_per_doc", perDoc(renderNs), "ms"),
      ("parse_row.ms_p50", Stats.percentile(rowMs, 0.5), "ms"),
      ("parse_row.ms_p99", Stats.percentile(rowMs, 0.99), "ms"),
      ("trace.coverage_error", math.abs(coverage - 1), "frac")) ++ strata
    Result(rows, metrics, coverage, mismatches)
  }
}
