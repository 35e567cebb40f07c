package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 4-slot MinHash signature of a token array: the four 8-hex-char
  * slices of md5 over every 3-word shingle, min-folded per slot —
  * bit-identical to the relational explode + min-aggregate formulation
  * (the q36 DuckDB oracle: `min(substr(md5(shingle), 1|9|17|25, 8))`),
  * which this replaces. Its one caller path is
  * `graft.operators.TextKernel.minhash`, which every signature in the
  * engine goes through.
  *
  * Why native: the relational form EXPLODES every shingle onto its own
  * row (≈|tokens| rows per document) and folds them back with a
  * 4-buffer min aggregate — per-shingle row construction, hashing, and
  * aggregation machinery just to reduce each document to 4 short
  * strings. This expression folds the whole document inside the scan
  * task: one md5 per shingle, four 8-byte running minima on the stack,
  * zero extra rows — the signature stage becomes map-only and the
  * per-doc groupBy disappears entirely (doGenCode delegates to a
  * static JVM kernel so the surrounding operators stay fused in
  * whole-stage codegen).
  *
  * Returns ARRAY<STRING> [sig0, sig1, sig2, sig3], or NULL for arrays
  * with < 3 tokens (no shingles — the relational groupBy emitted no
  * row there, so callers filter, exactly as `TextKernel.signatures`
  * does).
  * NULL tokens inside a shingle follow `concat_ws` skip-null semantics
  * exactly (the token AND its separator are skipped), so the kernel
  * stays bit-identical to `md5(concat_ws(' ', slice(tokens, i+1, 3)))`
  * even for nullable arrays — MinHashSigsSpec pins this with explicit
  * null tokens. (`words()` output never carries nulls, but the
  * guarantee no longer depends on that callsite contract.)
  */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires ARRAY<STRING>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sigs"

  override protected def nullSafeEval(a: Any): Any =
    MinHashSigs.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.MinHashSigs.compute($a);
      ${ev.isNull} = (${ev.value} == null);""")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSigs = copy(child = newChild)
}

object MinHashSigs {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hex = "0123456789abcdef".getBytes

  /** JVM kernel shared by eval and codegen (static from generated
    * Java). Returns null for arrays with < 3 tokens (no shingles). */
  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < 3) return null
    val md = digest.get()
    // four 8-byte running minima over the hex rendering of the digest
    val mins = Array.fill(4)(null: Array[Byte])
    val sp = ' '.toByte
    var i = 0
    while (i <= n - 3) {
      md.reset()
      // concat_ws skip-null: a null token contributes neither bytes
      // nor a separator, exactly like concat_ws(' ', ...) over the
      // same slice — required for bit-parity on nullable arrays.
      var k = 0
      var wrote = false
      while (k < 3) {
        if (!tokens.isNullAt(i + k)) {
          if (wrote) md.update(sp)
          md.update(tokens.getUTF8String(i + k).getBytes)
          wrote = true
        }
        k += 1
      }
      val h = md.digest()
      // hex-render bytes 0..15 → 32 hex chars; slot s covers chars
      // [8s, 8s+8) = bytes [4s, 4s+4)
      var s = 0
      while (s < 4) {
        val cand = new Array[Byte](8)
        var b = 0
        while (b < 4) {
          val v = h(4 * s + b)
          cand(2 * b) = hex((v >> 4) & 0xf)
          cand(2 * b + 1) = hex(v & 0xf)
          b += 1
        }
        if (mins(s) == null || compareBytes(cand, mins(s)) < 0) {
          mins(s) = cand
        }
        s += 1
      }
      i += 1
    }
    new GenericArrayData(
      mins.map(m => UTF8String.fromBytes(m): AnyRef))
  }

  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 8) {
      if (a(i) != b(i)) return (a(i) & 0xff) - (b(i) & 0xff)
      i += 1
    }
    0
  }

  private[functions] val info = new ExpressionInfo(
    classOf[MinHashSigs].getName, "minhash_sigs")

  val injection: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("minhash_sigs"),
      info, es => MinHashSigs(es.head))
}
