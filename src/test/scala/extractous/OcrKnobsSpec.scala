package extractous

import extractous.config.OcrConfig
import extractous.ocr._
import org.scalatest.funsuite.AnyFunSuite

/** The four OCR config knobs (language, density, preprocessing, timeout) each
  * have a deterministic, closed-form observable — these pin the behaviors the
  * x_ocr_* oracle queries assert end-to-end.
  */
class OcrKnobsSpec extends AnyFunSuite {

  test("templates are mutually distant: reject threshold can never fire on a clean glyph") {
    val ts = GlyphFont.templates
    val minD = (for (i <- ts.indices; j <- ts.indices if i < j) yield
      java.lang.Long.bitCount(ts(i)(0) ^ ts(j)(0)) + java.lang.Long.bitCount(ts(i)(1) ^ ts(j)(1))).min
    assert(minD > 2 * GlyphTemplateOcr.RejectDist, s"min template distance $minD too small")
  }

  test("preprocessing: isolated bait ink rejects to ? raw, despeckles to blank") {
    val img = Bmp.encode(GlyphFont.renderWithBait(Seq("DOC 7", "hello")))
    assert(GlyphTemplateOcr.recognize(img, OcrConfig()) == "DOC 7\nhello\n?")
    // raw recognizer keeps the (now-blank) bait row as a trailing empty line;
    // the BlockSink drops empty blocks downstream
    assert(GlyphTemplateOcr.recognize(img, OcrConfig(enableImagePreprocessing = true)) == "DOC 7\nhello\n")
  }

  test("language: out-of-charset glyphs reject under a restricted model") {
    val img = Bmp.encode(GlyphFont.render(Seq("42", "e")))
    assert(GlyphTemplateOcr.recognize(img, OcrConfig(language = "num")) == "42\n?")
    assert(GlyphTemplateOcr.recognize(img, OcrConfig(language = "eng")) == "42\ne")
    assert(GlyphTemplateOcr.recognize(img, OcrConfig(language = "unknown-model")) == "42\ne")
  }

  test("density: a 2x-DPI scan recognizes at density=600 and garbles at 300") {
    val img = Bmp.encode(GlyphFont.render(Seq("DOC 9", "dense"), scale = 2))
    assert(GlyphTemplateOcr.recognize(img, OcrConfig(density = 600)) == "DOC 9\ndense")
    assert(GlyphTemplateOcr.recognize(img, OcrConfig(density = 300)) != "DOC 9\ndense")
  }

  test("timeout <= 0: deadline already breached, throws (maps to status -10)") {
    val img = Bmp.encode(GlyphFont.render(Seq("x")))
    intercept[Exception] { GlyphTemplateOcr.recognize(img, OcrConfig(timeoutSeconds = 0)) }
  }
}
