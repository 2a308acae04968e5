package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One upper-triangle Gram cell of [[GramAgg]]'s output — matches
  * `vectorSecondMoments`' public schema exactly: positions are the
  * 0-based dimension indices, `sumprod_fp` the exact integer
  * Σ q(xᵢ)·q(xⱼ) as a decimal digit string.
  */
final case class GramCell(i: Int, j: Int, n_vecs: Long, sumprod_fp: String)

/** Exact-integer second-moment (Gram) accumulator: each input row is a
  * vector; the buffer holds, per upper-triangle cell (i ≤ j), the row
  * count and the exact Σ q(xᵢ)·q(xⱼ) with `q(x) = HALF_UP(x · 2^scaleBits)`
  * — the identical quantization the expression form used
  * (`round(cast(x as double) * 2^scaleBits)`), so outputs are
  * bit-identical to the posexplode²+groupBy plan it replaces.
  *
  * WHY an Aggregator: the expression form generated dim·(dim+1)/2 rows
  * PER VECTOR (65M rows at 31k×64-dim) through a hash aggregate with
  * decimal(38,0) sum cells; this one keeps the expansion inside a tight
  * per-partition loop over primitive long arrays — the shuffle carries
  * one buffer per map task instead of one partial row per cell.
  *
  * 128-bit cells without BigInt in the hot loop: a cell is
  * `hi·2^62 + lo` with the invariant |lo| < 2^62. The input contract
  * bounds each quantized component to |q(x)| ≤ 2^31, so each product is
  * |p| ≤ 2^62 and `lo += p` cannot overflow a signed long before the
  * renormalization step re-establishes the invariant. The exact value
  * is materialized as BigInt only in `finish`.
  *
  * Input contract: every component is finite and |x|·2^scaleBits ≤ 2^31
  * (|x| ≤ 128 at the default 24 bits). A component outside it fails the
  * aggregation with one IllegalArgumentException naming the contract —
  * never a wrapped-around product. Null rows contribute nothing; a null
  * element reaches `reduce` as 0.0 (the input encoder unboxes it).
  *
  * Rows may differ in length: cells are packed by the dim-independent
  * triangle index `j·(j+1)/2 + i`, and buffers grow to the longest row
  * seen, so per-cell counts stay exact (a cell counts the rows that
  * have BOTH its positions).
  */
class GramAgg(scaleBits: Int)
    extends Aggregator[Seq[Double], (Array[Long], Array[Long], Array[Long]), Seq[GramCell]] {

  private val q = math.pow(2, scaleBits)
  private val LIM = 1L << 62
  private val MaxQ = (1L << 31).toDouble

  // EXACTLY Catalyst's `round(cast(x as double) * 2^scaleBits)`: the
  // double multiply first (exact — the scale is a power of two), then
  // Round's own arithmetic (BigDecimal.valueOf = shortest-decimal
  // representation, HALF_UP). Multiplying in BigDecimal instead would
  // round the SHORTEST-DECIMAL form of x rather than of x·2^bits and
  // drift on representation edges (caught by the oracle compare).
  private def quant(x: Double): Long = {
    require(math.abs(x * q) <= MaxQ, // false for NaN too
      s"GramAgg: components must be finite with |x|·2^$scaleBits ≤ 2^31; got $x")
    java.math.BigDecimal.valueOf(x * q)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
  }

  private def grown(a: Array[Long], n: Int): Array[Long] =
    if (a.length >= n) a else java.util.Arrays.copyOf(a, n)

  override def zero: (Array[Long], Array[Long], Array[Long]) =
    (Array.emptyLongArray, Array.emptyLongArray, Array.emptyLongArray)

  override def reduce(
      buf: (Array[Long], Array[Long], Array[Long]),
      v: Seq[Double]): (Array[Long], Array[Long], Array[Long]) = {
    if (v == null) return buf
    val d = v.length
    if (d == 0) return buf
    val cells = d * (d + 1) / 2
    val cnt = grown(buf._1, cells)
    val hi = grown(buf._2, cells)
    val lo = grown(buf._3, cells)
    val qs = new Array[Long](d)
    var k = 0
    while (k < d) { qs(k) = quant(v(k)); k += 1 }
    var j = 0
    while (j < d) {
      val base = j * (j + 1) / 2
      val qj = qs(j)
      var i = 0
      while (i <= j) {
        val c = base + i
        cnt(c) += 1
        var l = lo(c) + qs(i) * qj
        if (l >= LIM) { l -= LIM; hi(c) += 1 }
        else if (l <= -LIM) { l += LIM; hi(c) -= 1 }
        lo(c) = l
        i += 1
      }
      j += 1
    }
    (cnt, hi, lo)
  }

  override def merge(
      a: (Array[Long], Array[Long], Array[Long]),
      b: (Array[Long], Array[Long], Array[Long])): (Array[Long], Array[Long], Array[Long]) = {
    val n = math.max(a._1.length, b._1.length)
    val cnt = grown(a._1, n); val hi = grown(a._2, n); val lo = grown(a._3, n)
    var c = 0
    while (c < b._1.length) {
      cnt(c) += b._1(c)
      hi(c) += b._2(c)
      var l = lo(c) + b._3(c)
      if (l >= LIM) { l -= LIM; hi(c) += 1 }
      else if (l <= -LIM) { l += LIM; hi(c) -= 1 }
      lo(c) = l
      c += 1
    }
    (cnt, hi, lo)
  }

  override def finish(buf: (Array[Long], Array[Long], Array[Long])): Seq[GramCell] = {
    val out = Seq.newBuilder[GramCell]
    val lim = BigInt(1) << 62
    var j = 0
    var c = 0
    while (c < buf._1.length) {
      val base = j * (j + 1) / 2
      var i = 0
      while (i <= j && base + i < buf._1.length) {
        val k = base + i
        if (buf._1(k) > 0L)
          out += GramCell(i, j, buf._1(k),
            (BigInt(buf._2(k)) * lim + BigInt(buf._3(k))).toString)
        i += 1
      }
      c = base + j + 1
      j += 1
    }
    out.result()
  }

  override def bufferEncoder: Encoder[(Array[Long], Array[Long], Array[Long])] =
    ExpressionEncoder[(Array[Long], Array[Long], Array[Long])]()

  override def outputEncoder: Encoder[Seq[GramCell]] =
    ExpressionEncoder[Seq[GramCell]]()
}
