package extractous.core

/** A decoded layer's output passed its byte budget. An `IllegalStateException`,
  * so a retry that catches `IllegalArgumentException` (corrupt input) never
  * runs a bomb twice; upstream it is status -4 like any decoder failure.
  */
final class BudgetExceededException(msg: String) extends IllegalStateException(msg)

/** The output of one decoded layer whose size is not declared up front: a
  * growable byte array that never grows past `budget` bytes. Every streaming
  * decoder (gzip, deflate, PDF FlateDecode, zip entries, bzip2, zstd, lz4,
  * framed snappy, brotli) writes through one, so this is the only code that
  * grows, bounds or back-copies decoded bytes. A breach throws
  * [[BudgetExceededException]] `<label>: output exceeds <N>-byte budget`.
  *
  * `inputLength` (the compressed size, or a guess; any value is safe) sizes
  * the first array; all size arithmetic is `Long`.
  */
final class LayerBuffer(label: String, budget: Long, inputLength: Long) {
  private val limit: Int = math.max(0L, math.min(budget, LayerBuffer.MaxArray)).toInt
  private var a = new Array[Byte](math.min(math.min(math.max(inputLength * 4, 64L), 1L << 20), limit).toInt)
  private var n = 0

  def size: Int = n

  /** Unsigned byte at `i` (< size). */
  def apply(i: Int): Int = a(i) & 0xff

  def update(i: Int, v: Int): Unit = a(i) = v.toByte

  def append(b: Int): Unit = {
    if (n == a.length) room(1)
    a(n) = b.toByte
    n += 1
  }

  def append(src: Array[Byte], off: Int, len: Int): Unit = {
    room(len)
    System.arraycopy(src, off, a, n, len)
    n += len
  }

  /** Append `len` bytes starting `distance` back (overlap-safe, so a run
    * repeats). A reference that reaches before `floor`, the start of the
    * current frame, is corrupt input.
    */
  def copy(distance: Long, len: Int, floor: Int): Unit = {
    if (distance < 1 || distance > n - floor)
      throw new IllegalArgumentException(s"$label: match offset $distance reaches before frame start")
    room(len)
    val s = n - distance.toInt
    if (distance >= len) System.arraycopy(a, s, a, n, len)
    else { var i = 0; while (i < len) { a(n + i) = a(s + i); i += 1 } }
    n += len
  }

  /** Fail now if `len` more bytes would pass the budget (a declared size). */
  def reserve(len: Long): Unit = if (n + len > limit) breach()

  /** Apply `f` to the bytes `[from, size)` in place (checksums). */
  def read[T](from: Int)(f: (Array[Byte], Int, Int) => T): T = f(a, from, n - from)

  /** Read `in` to its end. */
  def drain(in: java.io.InputStream): Unit = {
    var k = 0
    while (k >= 0) {
      if (spare()) { k = in.read(a, n, a.length - n); if (k > 0) n += k }
      else { if (in.read() >= 0) breach(); k = -1 }
    }
  }

  /** Inflate until the stream ends or stalls on input or a dictionary; the
    * caller decides whether a stall is an error.
    */
  def drain(inf: java.util.zip.Inflater): Unit = {
    var k = 1
    while (k > 0 && !inf.finished()) {
      if (spare()) { k = inf.inflate(a, n, a.length - n); n += k }
      else { if (inf.inflate(new Array[Byte](1)) > 0) breach(); k = 0 }
    }
  }

  def result(): Array[Byte] = if (n == a.length) a else java.util.Arrays.copyOf(a, n)

  /** Whether there is room to read into, growing if the budget allows. */
  private def spare(): Boolean = {
    if (n == a.length && n < limit) room(1)
    n < a.length
  }

  private def room(len: Int): Unit = {
    val need = n.toLong + len
    if (need > a.length) {
      if (need > limit) breach()
      a = java.util.Arrays.copyOf(a, math.min(math.max(a.length * 2L, need), limit.toLong).toInt)
    }
  }

  private def breach(): Nothing =
    throw new BudgetExceededException(s"$label: output exceeds $limit-byte budget")
}

object LayerBuffer {
  /** The largest array the JVM reliably allocates. */
  private val MaxArray: Long = Int.MaxValue - 8
}
