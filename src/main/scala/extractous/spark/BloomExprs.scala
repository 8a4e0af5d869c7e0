package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.xbridge.ColumnBridge

/** Kernels for Bloom-filter membership (Bloom, CACM 1970) over the repo's
  * SQL-twin polynomial fingerprints — the scale path for INCREMENTAL dedup
  * ("drop today's crawl documents already in the corpus") where the seen
  * side is too large to shuffle for an anti-join but its bitset fits a
  * broadcast.
  *
  * The k = 4 probe positions are affine maps of the 30-bit fingerprint,
  * p_j = ((fp·A_j + B_j) mod 1e9+7) mod m, with fixed odd multipliers —
  * every step exact 64-bit integer arithmetic (fp < 2³⁰, A_j ≤ 9176, no
  * overflow), so the DuckDB oracle replays the EXACT filter semantics,
  * false positives included: a probe key is "maybe seen" iff all four of
  * its positions are in the seen side's position set. The oracle therefore
  * verifies the bloom itself, not a lossy approximation of it.
  */
object BloomKernel {
  final val Mod = 1000000007L
  final val K = 4
  val MulA: Array[Long] = Array(31L, 131L, 1009L, 9176L)
  val AddB: Array[Long] = Array(7L, 77L, 777L, 7777L)

  def position(fp: Long, j: Int, m: Int): Long = {
    // normalize ONCE into [0, Mod): a no-op for the contracted
    // poly_fingerprint inputs (already in range, so the oracle replay is
    // unchanged), but a caller handing a full 64-bit hash (e.g. xxhash64,
    // half of whose values are negative) would otherwise produce negative
    // positions (Java % keeps the sign → bitset index out of bounds) and
    // overflow fp·9176 — deterministic folding beats a crash or aliased bits
    val f = java.lang.Math.floorMod(fp, Mod)
    ((f * MulA(j) + AddB(j)) % Mod) % m
  }

  /** The K probe positions of one key, in j order. */
  def positions(fp: Long, m: Int): GenericArrayData = {
    val out = new Array[Long](K)
    var j = 0
    while (j < K) { out(j) = position(fp, j, m); j += 1 }
    new GenericArrayData(out)
  }

  /** All-K-bits-set membership test against a packed bitset of m bits. */
  def maybeContains(fp: Long, bits: Array[Long], m: Int): Boolean = {
    var j = 0
    while (j < K) {
      val p = position(fp, j, m)
      if ((bits((p >>> 6).toInt) & (1L << (p & 63))) == 0L) return false
      j += 1
    }
    true
  }

  /** Shard routing: a pure function of the key itself, so the probe needs no
    * lookup to find its filter. floorMod keeps full-range hashes in range.
    */
  def shardOf(fp: Long, shards: Int): Int =
    java.lang.Math.floorMod(fp, shards.toLong).toInt

  /** Membership against the `shardOf(fp)`-th of `shards` filters packed
    * shard-major into one word array (each shard owns (m+63)/64 words).
    */
  def maybeContainsSharded(fp: Long, bits: Array[Long], m: Int, shards: Int): Boolean = {
    val base = shardOf(fp, shards) * ((m + 63) >>> 6)
    var j = 0
    while (j < K) {
      val p = position(fp, j, m)
      if ((bits(base + (p >>> 6).toInt) & (1L << (p & 63))) == 0L) return false
      j += 1
    }
    true
  }
}

object bloom {
  /** `bloom_positions(fp, m)` → array<bigint> of the K probe positions (the
    * build side's explode input).
    */
  def bloom_positions(fp: Column, m: Int): Column = {
    require(m > 0, "bit count must be positive")
    ColumnBridge.invoke(BloomKernel, "positions", ArrayType(LongType, containsNull = false))(fp, m)
  }

  /** `bloom_maybe_contains(fp)` → boolean "maybe seen" against a prebuilt
    * packed bitset of `m` bits (a plan constant that ships like the IVF
    * centroids; m/8 bytes — 16 KB at the default 2¹⁷ bits).
    */
  def bloom_maybe_contains(fp: Column, bits: Array[Long], m: Int): Column = {
    require(m > 0 && bits.length == (m + 63) / 64, "bitset size must match m")
    ColumnBridge.invoke(BloomKernel, "maybeContains", BooleanType)(fp, bits, m)
  }

  /** `bloom_maybe_contains_sharded(fp)` against `shards` filters packed
    * shard-major into one word array; the row's shard is
    * `floorMod(fp, shards)` — a function of the key itself, so the probe
    * stays a narrow zero-exchange projection no matter how many shards exist.
    */
  def bloom_maybe_contains_sharded(fp: Column, bits: Array[Long], m: Int, shards: Int): Column = {
    require(m > 0 && shards > 0 && bits.length == shards * ((m + 63) / 64),
      "bitset size must be shards x words-per-shard")
    ColumnBridge.invoke(BloomKernel, "maybeContainsSharded", BooleanType)(fp, bits, m, shards)
  }
}
