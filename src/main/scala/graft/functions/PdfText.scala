package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Minimal JDK-only PDF text extractor, backing the `pdf_extract`
  * pipeline node (the reference declares the node type but stubs it to
  * a pass-through — executor/engine.py:26,178; this implementation
  * goes beyond reference parity, the XlsReader precedent).
  *
  * Scope, by design:
  *   - walks every `stream … endstream` object in the file; streams
  *     whose dictionary names no filter are taken raw, `/FlateDecode`
  *     streams are inflated with `java.util.zip.Inflater` — together
  *     these cover the overwhelming majority of text content streams
  *     in real PDFs (image filters like /DCTDecode are skipped).
  *   - parses the content-stream language enough for text: literal
  *     strings `(…)` with nesting + all RFC escapes, hex strings
  *     `<…>`, arrays, and the text-showing operators `Tj` `'` `"`
  *     `TJ`; text-positioning operators `Td` `TD` `T*` and block end
  *     `ET` emit line breaks.
  *   - assumes 1-byte "simple" font encodings (standard/WinAnsi —
  *     bytes map ≈ Latin-1). Composite-font (CID/ToUnicode) text
  *     extracts as raw bytes, not mapped glyphs — the documented
  *     limitation; a full CMap interpreter is out of scope.
  *
  * Corrupt streams are skipped, never fatal: extraction of a damaged
  * file returns the text of the streams that do parse.
  */
object PdfText {

  /** Extract all text from one PDF payload. Returns "" for null,
    * non-PDF, or textless bytes — the "matches nothing" convention of
    * the other byte probes (ImageDims, AudioMeta).
    */
  def extract(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 8) return ""
    if (!(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' &&
        bytes(3) == 'F')) return ""
    val out = new StringBuilder
    var pos = 0
    while (pos >= 0 && pos < bytes.length) {
      val s = indexOf(bytes, "stream", pos)
      if (s < 0) pos = -1
      else {
        // stream data starts after CRLF or LF following the keyword
        var dataStart = s + 6
        if (dataStart < bytes.length && bytes(dataStart) == '\r') dataStart += 1
        if (dataStart < bytes.length && bytes(dataStart) == '\n') dataStart += 1
        val dict = dictBefore(bytes, s)
        // a DIRECT /Length is authoritative (the EOL-trim heuristic
        // below would chop a real byte off a Flate stream that
        // happens to END in 0x0A when the writer omitted the EOL
        // before `endstream`) — and the `endstream` KEYWORD must be
        // located from the declared data end, never by first-match:
        // stream DATA may itself contain the bytes `endstream` (an
        // uncompressed content stream drawing that very word), and a
        // first-match scan would truncate the stream inside the data.
        // An indirect "/Length 12 0 R", or a length not followed by
        // (at most an EOL and) the keyword, falls back to the scan.
        val direct: Option[(Int, Int)] = lengthOf(dict).flatMap { n =>
          val de = dataStart.toLong + n
          if (de > bytes.length) None
          else {
            val e2 = indexOf(bytes, "endstream", de.toInt)
            if (e2 >= 0 && e2 - de <= 2 &&
                (de.toInt until e2).forall(k =>
                  bytes(k) == '\r' || bytes(k) == '\n'))
              Some((de.toInt, e2))
            else None
          }
        }
        val eFallback =
          if (direct.isDefined) 0 else indexOf(bytes, "endstream", s + 6)
        if (direct.isEmpty && eFallback < 0) pos = -1
        else {
          val (dataEnd, e) = direct.getOrElse {
            // data ends before the EOL that precedes `endstream`
            var de = eFallback
            if (de > dataStart && bytes(de - 1) == '\n') de -= 1
            if (de > dataStart && bytes(de - 1) == '\r') de -= 1
            (de, eFallback)
          }
          try {
            val decoded: Option[Array[Byte]] =
              if (dict.contains("/FlateDecode"))
                inflate(bytes, dataStart, dataEnd - dataStart)
              else if (dict.contains("/Filter")) None // image/exotic filter
              else Some(java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd))
            decoded.foreach { content =>
              val text = contentText(content)
              if (text.nonEmpty) {
                if (out.nonEmpty && !out.endsWith("\n")) out += '\n'
                out ++= text
              }
            }
          } catch { case scala.util.control.NonFatal(_) => } // skip damaged stream
          pos = e + 9
        }
      }
    }
    out.toString.trim
  }

  /** The `<< … >>` dictionary immediately preceding a `stream`
    * keyword, as Latin-1 text (filter names are ASCII). Nested
    * dictionaries balance; a malformed prefix yields "".
    */
  private def dictBefore(bytes: Array[Byte], streamKw: Int): String = {
    // skip whitespace back to the closing >>
    var i = streamKw - 1
    while (i > 1 && (bytes(i) == ' ' || bytes(i) == '\r' || bytes(i) == '\n' ||
      bytes(i) == '\t')) i -= 1
    if (i < 1 || bytes(i) != '>' || bytes(i - 1) != '>') return ""
    var depth = 0
    var j = i
    while (j > 0) {
      if (bytes(j) == '>' && bytes(j - 1) == '>') { depth += 1; j -= 2 }
      else if (bytes(j) == '<' && bytes(j - 1) == '<') {
        depth -= 1
        if (depth == 0)
          return new String(bytes, j - 1, i - j + 2, "ISO-8859-1")
        j -= 2
      } else j -= 1
    }
    ""
  }

  /** Direct `/Length N` from a stream dictionary; None for the
    * indirect-reference form (`/Length 12 0 R`) or no entry.
    */
  private def lengthOf(dict: String): Option[Int] =
    "/Length\\s+(\\d+)".r.findFirstMatchIn(dict).flatMap { m =>
      // "/Length 12 0 R" is an indirect REFERENCE, not a byte count:
      // reject when the next token is the generation+R pair
      val tail = dict.substring(m.end(1)).trim
      if (tail.matches("^\\d+\\s+R(\\s|>|/).*")) None
      else scala.util.Try(m.group(1).toInt).toOption
    }

  /** Build a minimal one-page PDF showing `text` through a single
    * `Tj` — the WRITER twin of [[extract]], used by the oracle-checked
    * round-trip query (`p_pdf_roundtrip`) and available as a smoke
    * fixture. Parens/backslashes escape per spec; callers should
    * restrict text to Latin-1 (PDF literal strings are byte-based —
    * this writer declares no encoding beyond the viewer default).
    */
  def minimalPdf(text: String, flate: Boolean = false): Array[Byte] = {
    val escaped = new StringBuilder(text.length + 8)
    text.foreach {
      case '('  => escaped ++= "\\("
      case ')'  => escaped ++= "\\)"
      case '\\' => escaped ++= "\\\\"
      case c    => escaped += c
    }
    val content =
      s"BT /F1 12 Tf 72 720 Td ($escaped) Tj ET".getBytes("ISO-8859-1")
    val stream = if (flate) deflateBytes(content) else content
    val filterEntry = if (flate) " /Filter /FlateDecode" else ""
    val head = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 << /Type /Font /Subtype /Type1 " +
      "/BaseFont /Helvetica >> >> >> /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${stream.length}$filterEntry >> stream\n")
      .getBytes("ISO-8859-1")
    val tail = "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
      .getBytes("ISO-8859-1")
    head ++ stream ++ tail
  }

  private def deflateBytes(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes("US-ASCII")
    var i = math.max(0, from)
    val limit = hay.length - n.length
    while (i <= limit) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  private def inflate(bytes: Array[Byte], off: Int, len: Int): Option[Array[Byte]] = {
    if (len <= 0) return None
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(bytes, off, len)
      val out = new java.io.ByteArrayOutputStream(math.max(64, len * 4))
      val buf = new Array[Byte](8192)
      // cap: a zip-bomb content stream must not OOM the executor —
      // 64 MiB of decompressed page description is beyond any real page
      val MaxOut = 64L << 20
      var total = 0L
      var n = inf.inflate(buf)
      while (n > 0 && total < MaxOut) {
        out.write(buf, 0, n)
        total += n
        n = inf.inflate(buf)
      }
      if (total == 0) None else Some(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
      case scala.util.control.NonFatal(_) => None
    } finally inf.end()
  }

  /** Text of one decoded content stream: tokenizes strings/arrays/
    * operators and assembles the show-text operands in order.
    */
  private[functions] def contentText(content: Array[Byte]): String = {
    val out = new StringBuilder
    // most recent operands, kept shallow: strings and arrays only
    var lastString: String = null
    var lastArray: List[String] = null
    def newline(): Unit =
      if (out.nonEmpty && !out.endsWith("\n")) out += '\n'
    var i = 0
    val n = content.length
    while (i < n) {
      val c = content(i) & 0xff
      if (c == '(') {
        val (s, next) = literalString(content, i)
        lastString = s; i = next
      } else if (c == '<' && i + 1 < n && (content(i + 1) & 0xff) != '<') {
        val (s, next) = hexString(content, i)
        lastString = s; i = next
      } else if (c == '<') { // << dictionary — skip both brackets
        i += 2
      } else if (c == '[') {
        val (arr, next) = arrayOperand(content, i)
        lastArray = arr; i = next
      } else if (c == '%') { // comment to EOL
        while (i < n && content(i) != '\n') i += 1
      } else if (isRegular(c)) {
        val start = i
        while (i < n && isRegular(content(i) & 0xff)) i += 1
        val tok = new String(content, start, i - start, "ISO-8859-1")
        tok match {
          case "Tj" | "'" =>
            if (tok == "'") newline() // ' = next line + show
            if (lastString != null) out ++= lastString
          case "\"" =>
            newline()
            if (lastString != null) out ++= lastString
          case "TJ" =>
            if (lastArray != null) lastArray.foreach(out ++= _)
          case "Td" | "TD" | "T*" | "ET" => newline()
          case _ => // positioning/state operator or number — ignore
        }
        if (tok == "Tj" || tok == "'" || tok == "\"") lastString = null
        if (tok == "TJ") lastArray = null
      } else i += 1
    }
    out.toString
  }

  private def isRegular(c: Int): Boolean =
    !(c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0 ||
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%')

  /** `(…)` literal string starting at `open`: nesting, the standard
    * escapes, octal codes, and line continuations. Returns (decoded,
    * index just past the closing paren).
    */
  private def literalString(content: Array[Byte], open: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var i = open + 1
    val n = content.length
    while (i < n && depth > 0) {
      val c = content(i) & 0xff
      if (c == '\\' && i + 1 < n) {
        val e = content(i + 1) & 0xff
        e match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'b' => sb += '\b'; i += 2
          case 'f' => sb += '\f'; i += 2
          case '(' => sb += '('; i += 2
          case ')' => sb += ')'; i += 2
          case '\\' => sb += '\\'; i += 2
          case '\r' => // line continuation: \CRLF or \CR vanishes
            i += 2; if (i < n && content(i) == '\n') i += 1
          case '\n' => i += 2
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < n && content(i) >= '0' && content(i) <= '7') {
              v = v * 8 + (content(i) - '0'); i += 1; k += 1
            }
            sb += (v & 0xff).toChar
          case other => sb += other.toChar; i += 2 // unknown escape: literal
        }
      } else if (c == '(') { depth += 1; sb += '('; i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb += ')'
        i += 1
      } else { sb += c.toChar; i += 1 }
    }
    (sb.toString, i)
  }

  /** `<hexdigits>` string starting at `open`; odd final digit pads
    * with 0 per spec. Returns (decoded, index just past `>`).
    */
  private def hexString(content: Array[Byte], open: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = open + 1
    val n = content.length
    var hi = -1
    while (i < n && content(i) != '>') {
      val c = content(i) & 0xff
      val d = Character.digit(c, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { sb += ((hi << 4) | d).toChar; hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) sb += (hi << 4).toChar // odd digit: low nibble 0
    (sb.toString, math.min(n, i + 1))
  }

  def extractText(bytes: Array[Byte]): UTF8String = UTF8String.fromString(extract(bytes))

  /** `graft_pdf_text(binary)` — [[extract]] as a native kernel, so the
    * `pdf_extract` pipeline node stays inside whole-stage codegen
    * instead of breaking the span with a scala-udf node. The per-row
    * work is the same JDK byte parse either way (I/O-bound); what the
    * kernel buys is the unbroken codegen span around it. */
  val Kernel: NativeKernel = NativeKernel("graft_pdf_text", "graft.functions.PdfText",
    "extractText", Seq(Seq(BinaryType)), StringType)

  /** Column form of [[extract]] over a BINARY column. */
  def pdfText(c: Column): Column = Kernel.col(c)

  /** `[…]` array operand: collects its STRING elements in order
    * (kerning numbers between them are ignored). Returns (strings,
    * index just past `]`).
    */
  private def arrayOperand(content: Array[Byte], open: Int): (List[String], Int) = {
    val items = List.newBuilder[String]
    var i = open + 1
    val n = content.length
    var done = false
    while (i < n && !done) {
      val c = content(i) & 0xff
      if (c == ']') { done = true; i += 1 }
      else if (c == '(') {
        val (s, next) = literalString(content, i); items += s; i = next
      } else if (c == '<') {
        val (s, next) = hexString(content, i); items += s; i = next
      } else i += 1
    }
    (items.result(), i)
  }
}
