package graft.functions.expressions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  IntegerType, LongType, MapType}

/** Native Catalyst expression for sign-random-projection LSH: the
  * bucket ids of an `array<float|double>` vector against `tables`×`bits`
  * hyperplanes ([[LshSignature.planes]]), with whole-stage codegen.
  *
  * Output is `tables * (1 + probes)` longs, table t's run at
  * `t * (1 + probes)`: its bucket (bit p set iff the dot with plane
  * (t, p) is `>= 0.0`), then, when `probes > 0`, the `probes` Hamming-1
  * neighbour buckets whose bits have the smallest margin |dot|, ties to
  * the lower plane (multi-probe, Lv et al. 2007). `probes = 0` is the
  * corpus-side signature: one bucket per table.
  *
  * Semantics are those of the higher-order-function form it replaces
  * (`aggregate` over per-plane [[DotProduct]]s, `array_sort` of
  * (|dot|, plane) structs), so both give the same buckets: each dot is
  * [[DotProduct]]'s loop — elements widened to double, summed in order
  * over the common prefix of the vector and the `dims`-long plane; a
  * null vector or a null element in that prefix makes every dot null,
  * which sets no bit and ranks every margin equal (flips go to planes
  * 0, 1, …); `>=` and the margin order compare as Spark compares
  * doubles (NaN above every number). Never null. */
case class LshSignature(child: Expression, tables: Int, bits: Int,
    dims: Int, probes: Int) extends UnaryExpression {
  require(tables > 0 && dims > 0, s"tables and dims must be > 0: $tables, $dims")
  // Bit 62 is the highest a long bucket can set with a positive weight.
  require(bits > 0 && bits <= 62, s"bits must be in [1, 62]: $bits")
  require(probes >= 0 && probes <= bits, s"probes must be in [0, $bits]: $probes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> argument, got ${dt.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  /** Plane (t, p) component d at `((t * bits) + p) * dims + d`. Built
    * where the expression is first evaluated or compiled: generated
    * code holds it as a reference object. */
  @transient private lazy val planes: Array[Double] =
    LshSignature.planes(tables, bits, dims)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    val n = if (v == null) 0 else math.min(v.numElements(), dims)
    var valid = v != null
    val x = new Array[Double](n)
    val float = isFloat
    var i = 0
    while (valid && i < n) {
      valid = !v.isNullAt(i)
      if (valid) x(i) = if (float) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      LshSignature.sign(x, n, valid, planes, tables, bits, dims, probes))
  }

  // The generated part reads the vector with its element type's getter
  // into a reused buffer; the dot loops run in the shared, separately
  // JIT-compiled `sign`, so they stay compiled however large the
  // generated method they are called from grows.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    val x = ctx.addMutableState("double[]", "lshVec",
      v => s"$v = new double[$dims];", forceInline = true)
    val Seq(n, valid, i) = Seq("n", "valid", "i").map(ctx.freshName)
    val get = if (isFloat) s"(double) ${c.value}.getFloat($i)"
      else s"${c.value}.getDouble($i)"
    // Only emit the null-element check when an element CAN be null.
    val read =
      if (!elemNullable) s"$x[$i] = $get;"
      else s"$valid = !${c.value}.isNullAt($i); if ($valid) $x[$i] = $get;"
    val kernel = classOf[LshSignature].getName + "$.MODULE$"
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |boolean $valid = !${c.isNull};
      |int $n = $valid ? java.lang.Math.min(${c.value}.numElements(), $dims) : 0;
      |for (int $i = 0; $valid && $i < $n; $i++) { $read }
      |${classOf[ArrayData].getName} ${ev.value} =
      |  ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($kernel.sign(
      |    $x, $n, $valid, $planesRef, $tables, $bits, $dims, $probes));
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lsh_signature"
}

/** The queries an LSH search's corpus row collides with: for each table
  * t, the entry of `probe(t)` — bucket → indices of the queries probing
  * it in table t — for the row's bucket `signature(t)`, concatenated in
  * table order with repeats dropped (`array<int>`). The lookups run in
  * the shared, compiled [[LshSignature.collisions]]. */
case class LshCollisions(signature: Expression, probe: Expression)
    extends BinaryExpression {

  override def left: Expression = signature
  override def right: Expression = probe

  override def checkInputDataTypes(): TypeCheckResult =
    (signature.dataType, probe.dataType) match {
      case (ArrayType(LongType, _),
          ArrayType(MapType(LongType, ArrayType(IntegerType, _), _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (s, p) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<map<bigint, array<int>>>), " +
          s"got (${s.catalogString}, ${p.catalogString})")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(s: Any, p: Any): Any =
    LshSignature.collisions(s.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) =>
      s"${classOf[LshSignature].getName}$$.MODULE$$.collisions($s, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(signature = newLeft, probe = newRight)

  override def prettyName: String = "lsh_collisions"
}

object LshSignature {

  /** THE hyperplane recipe: plane (t, p) component d is
    * md5("lsh:t:p:d")'s first 13 hex digits / 2⁵² · 2 − 1 — uniform in
    * [-1, 1) and bit-identical to `Sketches.unit52(concat_ws(":", "lsh",
    * t, p, d)) * 2.0 - 1.0`, so any engine replays it. Flat,
    * `tables`×`bits`×`dims`, plane (t, p) at `(t * bits + p) * dims`. */
  def planes(tables: Int, bits: Int, dims: Int): Array[Double] = {
    val md5 = MessageDigest.getInstance("MD5")
    Array.tabulate(tables * bits * dims) { j =>
      val (plane, d) = (j / dims, j % dims)
      val h = md5.digest(s"lsh:${plane / bits}:${plane % bits}:$d".getBytes(UTF_8))
      // The first 7 bytes are 14 hex digits; drop the 14th.
      var top = 0L
      var k = 0
      while (k < 7) { top = (top << 8) | (h(k) & 0xffL); k += 1 }
      (top >>> 4).toDouble / (1L << 52).toDouble * 2.0 - 1.0
    }
  }

  /** The output of [[LshSignature]] for a vector widened into `x`
    * (its first `n` elements; ignored unless `valid`): the per-plane dots
    * against `planes`, [[DotProduct]]'s loop, then each table's bucket
    * and its ranked probes. */
  def sign(x: Array[Double], n: Int, valid: Boolean, planes: Array[Double],
      tables: Int, bits: Int, dims: Int, probes: Int): Array[Long] = {
    val dots = new Array[Double](tables * bits)
    var j = 0
    while (valid && j < dots.length) {
      val off = j * dims
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x(i) * planes(off + i); i += 1 }
      dots(j) = dot
      j += 1
    }
    val out = new Array[Long](tables * (1 + probes))
    var t = 0
    while (t < tables) {
      val base = t * bits
      var bucket = 0L
      var p = 0
      while (valid && p < bits) {
        if (!(dots(base + p) < 0.0)) bucket |= 1L << p
        p += 1
      }
      val o = t * (1 + probes)
      out(o) = bucket
      // Selection of the `probes` smallest (|dot|, plane): strict `<`
      // over ascending planes keeps ties on the lower plane.
      var used = 0L
      var k = 0
      while (k < probes) {
        var best = -1
        p = 0
        while (p < bits) {
          if ((used & (1L << p)) == 0 && (best < 0 || (valid &&
              SQLOrderingUtil.compareDoubles(math.abs(dots(base + p)),
                math.abs(dots(base + best))) < 0)))
            best = p
          p += 1
        }
        used |= 1L << best
        out(o + 1 + k) = bucket ^ (1L << best)
        k += 1
      }
      t += 1
    }
    out
  }

  /** [[LshCollisions]]: a linear scan of each table's probe keys (a
    * table holds at most 2^bits of them). */
  def collisions(signature: ArrayData, probe: ArrayData): ArrayData = {
    val seen = new java.util.BitSet()
    var hits = new Array[Int](8)
    var size = 0
    var t = 0
    val tables = math.min(signature.numElements(), probe.numElements())
    while (t < tables) {
      if (!signature.isNullAt(t) && !probe.isNullAt(t)) {
        val m = probe.getMap(t)
        val keys = m.keyArray()
        val bucket = signature.getLong(t)
        var i = 0
        while (i < keys.numElements() && keys.getLong(i) != bucket) i += 1
        if (i < keys.numElements() && !m.valueArray().isNullAt(i)) {
          val qs = m.valueArray().getArray(i)
          var k = 0
          while (k < qs.numElements()) {
            val q = qs.getInt(k)
            if (!seen.get(q)) {
              seen.set(q)
              if (size == hits.length) hits = java.util.Arrays.copyOf(hits, size * 2)
              hits(size) = q
              size += 1
            }
            k += 1
          }
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hits, size))
  }
}
