package graft.pipeline

import graft.core.{PageData, PyStr}
import graft.html.{Boilerplate, Span}
import graft.pdf.{Layout, Pdf}

import java.nio.charset.StandardCharsets

/** Payload routing + decode: one row of the `pages` table → the reference's
  * pages_data (≙ PDFTextExtractor.extract_text,
  * /root/reference/extractor/extractors/pdf_text_extractor.py:58-217).
  * Routed by magic bytes: %PDF- → content-stream parse; else HTML; `text`
  * column → pre-decoded pages split on \f. Never throws: malformed payloads
  * pass through as zero pages + an error tag (mirroring the reference's
  * fallback-not-fail behavior, pdf_text_extractor.py:75-98,195-198).
  */
object Decode {

  /** Error kinds. Every `error` string is `<kind>` or `<kind>: <message>`;
    * [[errorKind]] recovers the kind.
    */
  val PdfParse = "pdf-parse"
  val PdfEncrypted = "pdf-encrypted"
  val HtmlParse = "html-parse"
  val NullPayload = "null payload"

  def errorKind(error: String): String = error.takeWhile(_ != ':')

  private def failure(kind: String, e: Exception): Option[String] =
    Some(s"$kind: ${e.getMessage}")

  /** UTF-8 byte length without materializing the encoded array — bytesIn
    * is a metric; `text.length` counted UTF-16 units (chars), skewing
    * byte-volume metrics for non-ASCII payloads.
    */
  private[pipeline] def utf8Len(s: String): Long = {
    var b = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      b += (if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4)
      i += Character.charCount(cp)
    }
    b
  }

  final case class Decoded(
      pages: Vector[PageData],
      kind: String,                 // pdf | html | text | none
      spans: Vector[Span],          // html block spans; page spans otherwise
      bytesIn: Long,
      charsOut: Long,
      needsOcr: Boolean,            // O2: first-page text < 50 chars
      error: Option[String],
      ocrPages: Int = 0             // pages whose text came from the OCR seam
  )

  def decode(html: Array[Byte], text: String): Decoded =
    decode(html, text, ocr = None, useOcr = false)

  /** S4/S5 routing (pdf_text_extractor.py:58-163,219-237): with an
    * [[OcrEngine]] plugged in, `useOcr=true` runs the whole document
    * through OCR (falling back to regular parse on engine failure), and
    * regular extraction auto-OCRs short pages of image-detected PDFs.
    * With no engine (the offline default — sandbox has no tesseract,
    * mirroring the reference's `_ocr_available=False`), behavior is
    * exactly the previous flag-only path.
    */
  def decode(html: Array[Byte], text: String,
             ocr: Option[OcrEngine], useOcr: Boolean): Decoded = {
    var ocrPages = 0
    val (pages, kind, spans0, bytesIn, err) =
      if (html != null && Pdf.isPdf(html)) {
        // Explicit OCR mode (pdf_text_extractor.py:74-96): every page from
        // the rasterized images, dims from the images, NO tables key; any
        // engine failure falls through to regular extraction.
        val fullOcr: Option[Vector[PageData]] =
          if (useOcr && ocr.isDefined)
            try ocr.get.ocrDocument(html).map(_.zipWithIndex.map { case (op, i) =>
              PageData(i + 1L, op.text, Some(op.width), Some(op.height), Nil)
            })
            catch { case _: Exception => None }
          else None
        fullOcr match {
          case Some(ps) =>
            ocrPages = ps.length
            (ps, "pdf", Vector.empty[Span], html.length.toLong, None)
          case None => try {
            val parsed = Pdf.parse(html)
            // Auto-OCR detection samples the FIRST page only (speed,
            // pdf_text_extractor.py:115-126) with Python truthiness: a
            // None/EMPTY first-page text does NOT trigger it — only a
            // short non-empty one does. Predicate input is the full page
            // text (all runs, pre-split), reference evaluates on
            // page.extract_text() which includes cell text.
            val autoOcr = parsed.headOption.exists { p0 =>
              val ft = Layout.pageText(p0.runs)
              ft.nonEmpty && PyStr.len(PyStr.strip(ft)) < 50
            }
            val ps = parsed.zipWithIndex.map { case (p, i) =>
              // ruled-grid cells are table structure, not page text
              val (tables, textRuns) = Pdf.splitTables(p)
              val fullText = Layout.pageText(p.runs)
              var pageText = Layout.pageText(textRuns)
              var gateInput = fullText
              // Per-page auto-OCR fallback (pdf_text_extractor.py:219-237):
              // replace only when the OCR text is truthy AND strictly
              // longer stripped; engine exceptions are swallowed (the
              // reference's bare `except: pass`).
              if (autoOcr && ocr.isDefined &&
                  (fullText.isEmpty || PyStr.len(PyStr.strip(fullText)) < 50)) {
                val got =
                  try ocr.get.ocrPage(html, i + 1L)
                  catch { case _: Exception => None }
                got.foreach { o =>
                  if (o.nonEmpty &&
                      PyStr.len(PyStr.strip(o)) > PyStr.len(PyStr.strip(fullText))) {
                    pageText = o
                    gateInput = o // reference gates on the replaced text
                    ocrPages += 1
                  }
                }
              }
              // O3 gate — table-indicator predicate, mirroring the reference
              // (pdf_text_extractor.py:167-182): '\t' present, >15 '|', or
              // >8 '│'. The reference gates because pdfplumber's extraction
              // is slow; we keep the same *semantics* so gated pages match.
              val gate = gateInput.contains('\t') ||
                gateInput.count(_ == '|') > 15 || gateInput.count(_ == '│') > 8
              PageData(i + 1L, pageText, Some(p.width), Some(p.height),
                if (gate) tables else Nil)
            }
            (ps, "pdf", Vector.empty[Span], html.length.toLong, None)
          } catch {
            // "can't" (encrypted by design) is reported distinctly from
            // "won't" (outside the parse subset) so crawl reports can
            // separate the two residuals (VERDICT r4 #8)
            case e: Pdf.EncryptedPdfException =>
              (Vector.empty[PageData], "pdf", Vector.empty[Span], html.length.toLong,
                failure(PdfEncrypted, e))
            case e: Exception =>
              (Vector.empty[PageData], "pdf", Vector.empty[Span], html.length.toLong,
                failure(PdfParse, e))
          }
        }
      } else if (html != null) {
        try {
          // charset-detected decode (BOM → strict UTF-8 validation → meta
          // label → windows-1252 fallback): identical to the previous
          // UTF-8-only path on valid UTF-8 payloads (the whole golden
          // corpus), and no longer mojibake on legacy-charset crawls
          val ex = Boilerplate.extract(graft.core.CharsetDetect.decode(html))
          val tables: Seq[Seq[Seq[Option[String]]]] = ex.tables
          (Vector(PageData(1L, ex.text, None, None, tables)), "html", ex.spans,
            html.length.toLong, None)
        } catch {
          case e: Exception =>
            (Vector.empty[PageData], "html", Vector.empty[Span], html.length.toLong,
              failure(HtmlParse, e))
        }
      } else if (text != null) {
        val ps = PyStr.split(text, '\f').toVector.zipWithIndex.map { case (t, i) =>
          PageData(i + 1L, t, None, None, Nil)
        }
        (ps, "text", Vector.empty[Span], utf8Len(text), None)
      } else {
        (Vector.empty[PageData], "none", Vector.empty[Span], 0L, Some(NullPayload))
      }

    // page-level spans for non-html payloads: offsets into '\n\n'-combined text
    // (the span contract for decoders with no finer block structure)
    val spans =
      if (spans0.nonEmpty || pages.isEmpty) spans0
      else {
        var off = 0L
        pages.map { p =>
          val start = off
          off += p.text.length
          val s = Span(start, off, "page")
          off += 2 // the "\n\n" joiner
          s
        }
      }

    val charsOut = pages.map(_.text.length.toLong).sum
    // O2 flag on the FINAL pages: with an engine applied this reports
    // whether the doc is STILL short after OCR; the applied-OCR signal is
    // `ocrPages > 0` (separating "image PDF, recovered" from "parse error").
    val needsOcr = pages.headOption.exists(p => PyStr.len(PyStr.strip(p.text)) < 50)
    Decoded(pages, kind, spans, bytesIn, charsOut, needsOcr, err, ocrPages)
  }
}
