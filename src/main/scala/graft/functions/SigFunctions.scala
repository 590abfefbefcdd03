package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass native signature folds over a shingle-hash array
  * (`array<long>`, non-null elements — the output shape of
  * [[ShingleHashes]]). Each replaces a per-family/per-bit interpreted
  * HOF sweep with a single loop carrying all accumulators:
  *
  *  - [[MinHashSig]]: k universal-hash minima `min_i (h*a_i + b_i) mod p`
  *    — was `transform` + `array_min` per family (k passes, every lambda
  *    call interpreted); now one pass with k running minima.
  *  - [[SimHashBands]]: the banded SimHash bit-vote — for each packed
  *    bit, sign of `sum_h (+-1 by bit)` over its band's remixed hash —
  *    one pass with one vote counter per packed bit.
  *
  * Both are order-insensitive (min / integer sums), so they commute with
  * [[ShingleHashes]]'s first-occurrence ordering, and both mirror the
  * oracle SQL arithmetic exactly (integer ops only — no float parity
  * concerns). `doGenCode` emits a static call, keeping the parent plan
  * inside WholeStageCodegen.
  */
case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
    extends UnaryExpression {
  require(as.nonEmpty && as.length == bs.length, "need matched a/b families")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  @transient private lazy val aArr = as.toArray
  @transient private lazy val bArr = bs.toArray

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSig.compute($c, $aRef, $bRef, ${p}L);")
  }
}

object MinHashSig {
  def min_hash_sig(c: Column, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c), as, bs, p))

  def compute(hs: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var f = 0
      while (f < k) {
        val v = (h * as(f) + bs(f)) % p
        if (v < mins(f)) mins(f) = v
        f += 1
      }
      i += 1
    }
    // empty input -> all-null minima upstream never occurs (ShingleHashes
    // emits >= 1 element), but stay total: empty array -> Long.MaxValue.
    new GenericArrayData(mins)
  }
}

/** Banded SimHash: packs one `bitsPerBand`-bit SimHash sub-signature per
  * affine family `(h*a_f + b_f) mod p` into a single long
  * (`band f -> bits [f*bitsPerBand, (f+1)*bitsPerBand)`).
  *
  * Why the remix: the shingle hashes are [[PolyHash]] values in
  * [0, 1e9+7) — under 30 meaningful bits — so a wide signature taken
  * directly from `h`'s bits would have every bit above ~29 constant.
  * Each band votes on the low bits of an INDEPENDENT universal hash of
  * `h` instead, so all packed bits carry signal. Arithmetic stays in
  * BIGINT range on both engines (h < 2^30, a < 2^31 ⇒ h*a+b < 2^62) and
  * the packed signature is at most 62 bits, keeping it non-negative —
  * DuckDB `//`/`%` band extraction then matches Spark shifts exactly.
  */
case class SimHashBands(child: Expression, as: Seq[Long], bs: Seq[Long],
    p: Long, bitsPerBand: Int) extends UnaryExpression {
  require(as.nonEmpty && as.length == bs.length, "need matched a/b families")
  require(bitsPerBand >= 1 && as.length * bitsPerBand <= 62,
    s"packed width must be in [1,62] bits, got ${as.length * bitsPerBand}")
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(newChild: Expression): SimHashBands =
    copy(child = newChild)

  @transient private lazy val aArr = as.toArray
  @transient private lazy val bArr = bs.toArray

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHashBands.compute(
      input.asInstanceOf[ArrayData], aArr, bArr, p, bitsPerBand))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("shbA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("shbB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHashBands.compute($c, $aRef, $bRef, ${p}L, $bitsPerBand);")
  }
}

object SimHashBands {
  def sim_hash_bands(c: Column, as: Seq[Long], bs: Seq[Long], p: Long,
      bitsPerBand: Int): Column =
    ColumnBridge.column(
      SimHashBands(ColumnBridge.expression(c), as, bs, p, bitsPerBand))

  def compute(hs: ArrayData, as: Array[Long], bs: Array[Long], p: Long,
      bitsPerBand: Int): Long = {
    val nBands = as.length
    val votes = new Array[Int](nBands * bitsPerBand)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var f = 0
      while (f < nBands) {
        val v = (h * as(f) + bs(f)) % p
        var j = 0
        while (j < bitsPerBand) {
          if (((v >>> j) & 1L) == 1L) votes(f * bitsPerBand + j) += 1
          else votes(f * bitsPerBand + j) -= 1
          j += 1
        }
        f += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < nBands * bitsPerBand) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Matching DuckDB fragment over a hash-list expression `hs`: the same
    * per-band affine remix and per-bit vote sign, packed with the same
    * place values (all values non-negative, so `//`/`%` are exact).
    */
  def sql(hs: String, as: Seq[Long], bs: Seq[Long], p: Long,
      bitsPerBand: Int): String = {
    val terms = as.indices.flatMap { f =>
      (0 until bitsPerBand).map { j =>
        s"""CASE WHEN list_sum(list_transform($hs,
              h -> CASE WHEN ((h*${as(f)} + ${bs(f)}) % $p // ${1L << j}) % 2 = 1
                   THEN 1 ELSE -1 END)) > 0
            THEN ${1L << (f * bitsPerBand + j)} ELSE 0 END"""
      }
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }
}
