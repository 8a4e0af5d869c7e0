package extractous.rtf

import extractous.config.ExtractorConfig
import extractous.model.ExtractResult
import extractous.text.BlockSink

/** Minimal from-scratch RTF-to-text: control-word scanner with destination
  * -group skipping (fonttbl/colortbl/stylesheet/info/pict and `{\*` groups),
  * \par/\line/\tab handling and \'hh hex escapes — the RTF subset Tika's text
  * handler emits for ordinary word-processor documents.
  */
object RtfExtractor {
  private val skipDestinations = Set("fonttbl", "colortbl", "stylesheet", "info",
    "pict", "object", "header", "footer", "generator", "themedata", "listtable")

  def extract(bytes: Array[Byte], cfg: ExtractorConfig): ExtractResult = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val sink = new BlockSink(cfg)
    val cur = new java.lang.StringBuilder
    def flush(): Unit = {
      if (cur.length() > 0) { sink.add("p", cur.toString); cur.setLength(0) }
    }
    var i = 0
    var skipDepth = -1 // brace depth at which a skipped destination group started
    var depth = 0
    while (i < s.length && !sink.isFull) {
      s.charAt(i) match {
        case '{' =>
          depth += 1; i += 1
          // `{\*` = optional destination — skip unless known
          if (skipDepth < 0 && i + 1 < s.length && s.charAt(i) == '\\' && s.charAt(i + 1) == '*') skipDepth = depth
        case '}' =>
          if (skipDepth == depth) skipDepth = -1
          depth -= 1; i += 1
        case '\\' =>
          i += 1
          if (i < s.length) {
            val c = s.charAt(i)
            if (c == '\'') { // hex escape
              if (i + 2 < s.length) {
                try { if (skipDepth < 0) cur.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar) }
                catch { case _: Exception => () }
                i += 3
              } else i += 1
            } else if (!Character.isLetter(c)) { // escaped symbol \{ \} \\ or \~
              if (skipDepth < 0) c match {
                case '{' | '}' | '\\' => cur.append(c)
                case '~'              => cur.append(' ')
                case _                => ()
              }
              i += 1
            } else {
              val start = i
              while (i < s.length && Character.isLetter(s.charAt(i))) i += 1
              val word = s.substring(start, i)
              // optional numeric parameter
              while (i < s.length && (Character.isDigit(s.charAt(i)) || s.charAt(i) == '-')) i += 1
              if (i < s.length && s.charAt(i) == ' ') i += 1 // delimiter space consumed
              if (skipDepth < 0) word match {
                case "par" | "line" | "sect" | "page" => flush()
                case "tab" => cur.append(' ')
                case w if skipDestinations(w) => skipDepth = depth
                case _ => ()
              }
            }
          }
        case '\r' | '\n' => i += 1 // raw newlines are ignored in RTF
        case c =>
          if (skipDepth < 0) cur.append(c)
          i += 1
      }
    }
    flush()
    sink.ok(Map("Content-Type" -> Seq("application/rtf")), "application/rtf")
  }
}
