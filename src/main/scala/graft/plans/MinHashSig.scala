package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: all 8 MinHash values of an ARRAY<STRING>
  * of shingles in ONE pass — md5 each shingle (binary, no hex string),
  * extract the 8 overlapping 15-hex-char (60-bit) windows at offsets
  * 0..7 straight from the digest bytes, keep a running minimum per
  * window. Output: ARRAY<BIGINT> of length 8.
  *
  * Bit-identical to the compositional form it replaces —
  * `dg = transform(sh, x -> md5(encode(x,'UTF-8')))` followed by eight
  * `array_min(transform(dg, d -> HexWindowToLong(d, k+1)))` — because
  * hex char i of the digest string is nibble i of the digest bytes, so
  * window k (hex chars k..k+14) is bits [128-4k-60, 128-4k) of the
  * 128-bit digest. The old form allocated a 32-char hex string plus 8
  * interpreted lambda passes per shingle (higher-order functions don't
  * codegen) and was the dominant cost of the q44 signature build
  * (13.1s at sf0.1 under the driver harness); this is one digest and
  * ~30 arithmetic ops per shingle.
  *
  * Codegen emits a static call (the work is per-row digest loops, so
  * inlining buys nothing) — whole-stage codegen stays unbroken.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.MinHashSig.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private final val Mask60 = (1L << 60) - 1

  /** 8 window-minima over the shingle array. Callers guarantee a
    * non-empty array (docs with <3 words are filtered before shingling);
    * for an empty input the 8 Long.MaxValue sentinels are returned. */
  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill(8)(Long.MaxValue)
    val md = md5.get()
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        // digest as two big-endian longs: hi = nibbles 0-15, lo = 16-31
        var hi = 0L; var lo = 0L
        var b = 0
        while (b < 8) {
          hi = (hi << 8) | (d(b) & 0xFFL)
          lo = (lo << 8) | (d(b + 8) & 0xFFL)
          b += 1
        }
        var k = 0
        while (k < 8) {
          // window k = bits [s, s+60) of the 128-bit digest, s = 68-4k
          val s = 68 - 4 * k
          val w =
            if (s >= 64) (hi >>> (s - 64)) & Mask60
            else ((hi << (64 - s)) | (lo >>> s)) & Mask60
          if (w < mins(k)) mins(k) = w
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  import org.apache.spark.sql.Column
  def minhashSig(shingles: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      MinHashSig(org.apache.spark.sql.graft.Bridge.expression(shingles)))
}
