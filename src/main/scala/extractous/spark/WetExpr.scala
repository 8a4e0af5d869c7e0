package extractous.spark

import extractous.core.Wet
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** WET conversion-record framing as a row kernel: the exact
  * [[Wet.recordString]] framing (ONE implementation — the kernel builds the
  * header through the same code path the file sink uses), emitted per row
  * inside whole-stage codegen. The text payload is never converted to a
  * java String: `Content-Length` is `UTF8String.numBytes` (already the
  * octet count) and the output is a three-way UTF8String concat — per-row
  * cost is one small header allocation, O(header) not O(text), which is
  * what survives 10^12 rows.
  */
object WetKernel {
  def record(url: UTF8String, date: UTF8String, text: UTF8String): UTF8String = {
    val head = Wet.recordHeader(url.toString, date.toString, text.numBytes.toLong)
    UTF8String.concat(UTF8String.fromString(head), text, WetKernel.Trailer)
  }
  private val Trailer = UTF8String.fromString("\r\n\r\n")
}

object wet {
  /** `wet_record(url, date, text)` → the framed WET conversion record
    * (string form, trailing CRLF CRLF separator included).
    */
  def wet_record(url: Column, date: Column, text: Column): Column =
    ColumnBridge.invoke(WetKernel, "record", StringType)(url, date, text)
}
