package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for vector similarity over `array<float>`
  * embedding columns (reference similarity surface:
  * python/hsfs/embedding.py:31-47 — L2, COSINE, DOT_PRODUCT).
  *
  * These are full codegen expressions (`doGenCode` emits a tight primitive
  * float loop, no boxing, no higher-order-function overhead), so distance
  * evaluation stays inside whole-stage codegen — the hot inner loop of a
  * 100 TB brute-force or LSH-bucketed kNN scan. A `zip_with`+`aggregate`
  * formulation is ~10× slower per row (interpreted lambda per element).
  *
  * Accumulation is double-precision left-to-right, matching DuckDB's
  * list_* kernels for oracle parity.
  */
object VectorFunctions {

  sealed trait Metric
  case object Dot extends Metric
  case object Cosine extends Metric
  case object L2 extends Metric

  abstract class VectorBinaryExpression extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _                       => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments")
    }

    protected def scalarLoop(a: ArrayData, b: ArrayData): Double

    override def nullSafeEval(l: Any, r: Any): Any =
      scalarLoop(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    /** Generated loop body: given float arrays `av`,`bv` and length `n`,
      * assign the result to `ev.value`. All locals must come from
      * `ctx.freshName` — the snippet may be inlined many times into one
      * generated function.
      */
    protected def genLoop(ctx: CodegenContext, av: String, bv: String,
                          n: String, result: String): String

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val av = ctx.freshName("av")
        val bv = ctx.freshName("bv")
        val n = ctx.freshName("n")
        s"""
           |float[] $av = $l.toFloatArray();
           |float[] $bv = $r.toFloatArray();
           |int $n = Math.min($av.length, $bv.length);
           |${genLoop(ctx, av, bv, n, ev.value)}
         """.stripMargin
      })
  }

  case class DotProduct(left: Expression, right: Expression)
      extends VectorBinaryExpression {
    override def prettyName: String = "vec_dot"
    override protected def scalarLoop(a: ArrayData, b: ArrayData): Double = {
      val av = a.toFloatArray(); val bv = b.toFloatArray()
      var acc = 0.0; var i = 0; val n = math.min(av.length, bv.length)
      while (i < n) { acc += av(i).toDouble * bv(i).toDouble; i += 1 }
      acc
    }
    override protected def genLoop(ctx: CodegenContext, av: String, bv: String,
                                   n: String, result: String): String = {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++)
         |  $acc += (double) $av[$i] * (double) $bv[$i];
         |$result = $acc;
       """.stripMargin
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class CosineSimilarity(left: Expression, right: Expression)
      extends VectorBinaryExpression {
    override def prettyName: String = "vec_cosine"
    override protected def scalarLoop(a: ArrayData, b: ArrayData): Double = {
      val av = a.toFloatArray(); val bv = b.toFloatArray()
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(av.length, bv.length)
      while (i < n) {
        val x = av(i).toDouble; val y = bv(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def genLoop(ctx: CodegenContext, av: String, bv: String,
                                   n: String, result: String): String = {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      s"""
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = (double) $av[$i]; double y = (double) $bv[$i];
         |  $dot += x * y; $na += x * x; $nb += y * y;
         |}
         |$result = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  case class L2Distance(left: Expression, right: Expression)
      extends VectorBinaryExpression {
    override def prettyName: String = "vec_l2"
    override protected def scalarLoop(a: ArrayData, b: ArrayData): Double = {
      val av = a.toFloatArray(); val bv = b.toFloatArray()
      var acc = 0.0; var i = 0; val n = math.min(av.length, bv.length)
      while (i < n) {
        val d = av(i).toDouble - bv(i).toDouble; acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
    override protected def genLoop(ctx: CodegenContext, av: String, bv: String,
                                   n: String, result: String): String = {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double d = (double) $av[$i] - (double) $bv[$i]; $acc += d * d;
         |}
         |$result = Math.sqrt($acc);
       """.stripMargin
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of dot products
    * against pseudo-random hyperplanes derived from (seed, bit, dim) via
    * splitmix64 — fully codegen'd single pass over the vector (the
    * higher-order-function formulation allocates an array per bit and runs
    * interpreted; this is the bucketing hot path of a 100 TB ANN scan).
    */
  case class HyperplaneSignature(child: Expression, nBits: Int, seed: Long)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def prettyName: String = "vec_lsh_signature"

    override protected def nullSafeEval(v: Any): Any = {
      val av = v.asInstanceOf[ArrayData].toFloatArray()
      var sig = 0L
      var b = 0
      while (b < nBits) {
        var dot = 0.0
        var d = 0
        while (d < av.length) {
          dot += av(d) * component(seed, b, d)
          d += 1
        }
        if (dot >= 0) sig |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val av = ctx.freshName("av")
        val sig = ctx.freshName("sig")
        val dot = ctx.freshName("dot")
        val b = ctx.freshName("b")
        val d = ctx.freshName("d")
        val cls = VectorFunctions.getClass.getName.stripSuffix("$") + "$"
        s"""
           |float[] $av = $c.toFloatArray();
           |long $sig = 0L;
           |for (int $b = 0; $b < $nBits; $b++) {
           |  double $dot = 0.0;
           |  for (int $d = 0; $d < $av.length; $d++) {
           |    $dot += $av[$d] * $cls.MODULE$$.component(${seed}L, $b, $d);
           |  }
           |  if ($dot >= 0) $sig |= (1L << $b);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Top-`n` nearest centroids (by squared L2, ascending) of an
    * `array<float>` vector against a fixed centroid table — the IVF
    * coarse-quantizer assignment as ONE codegen'd expression. Replaces a
    * broadcast-cross-join + per-id window (which replicates every corpus
    * row nCells times and shuffles the lot): this is a zero-shuffle
    * map-side pass, the correct shape for assigning 100 TB of vectors.
    *
    * Centroids ride along as a codegen reference object (not literals), so
    * the generated method stays tiny regardless of nCells × dim.
    */
  case class NearestCells(child: Expression,
                          centroids: Array[Array[Float]], n: Int)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(n >= 1, "need n >= 1 probes")
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def prettyName: String = "vec_nearest_cells"

    override protected def nullSafeEval(v: Any): Any = {
      val av = v.asInstanceOf[ArrayData].toFloatArray()
      val k = math.min(n, centroids.length)
      val bi = Array.fill(k)(-1)
      val bd = Array.fill(k)(Double.MaxValue)
      var c = 0
      while (c < centroids.length) {
        val cv = centroids(c)
        var acc = 0.0; var i = 0; val m = math.min(av.length, cv.length)
        while (i < m) {
          val d = av(i).toDouble - cv(i).toDouble; acc += d * d; i += 1
        }
        if (acc < bd(k - 1)) {
          var p = k - 1
          while (p > 0 && bd(p - 1) > acc) {
            bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
          }
          bd(p) = acc; bi(p) = c
        }
        c += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(bi)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
        val av = ctx.freshName("av"); val k = ctx.freshName("k")
        val bi = ctx.freshName("bi"); val bd = ctx.freshName("bd")
        val cc = ctx.freshName("cc"); val cv = ctx.freshName("cv")
        val acc = ctx.freshName("acc"); val m = ctx.freshName("m")
        val i = ctx.freshName("i"); val dd = ctx.freshName("dd")
        val p = ctx.freshName("p"); val j = ctx.freshName("j")
        s"""
           |float[] $av = $c.toFloatArray();
           |int $k = Math.min($n, $ref.length);
           |int[] $bi = new int[$k]; double[] $bd = new double[$k];
           |for (int $j = 0; $j < $k; $j++) {
           |  $bi[$j] = -1; $bd[$j] = Double.MAX_VALUE;
           |}
           |for (int $cc = 0; $cc < $ref.length; $cc++) {
           |  float[] $cv = $ref[$cc];
           |  double $acc = 0.0;
           |  int $m = Math.min($av.length, $cv.length);
           |  for (int $i = 0; $i < $m; $i++) {
           |    double $dd = (double) $av[$i] - (double) $cv[$i];
           |    $acc += $dd * $dd;
           |  }
           |  if ($acc < $bd[$k - 1]) {
           |    int $p = $k - 1;
           |    while ($p > 0 && $bd[$p - 1] > $acc) {
           |      $bd[$p] = $bd[$p - 1]; $bi[$p] = $bi[$p - 1]; $p--;
           |    }
           |    $bd[$p] = $acc; $bi[$p] = $cc;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray($bi);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def vecNearestCells(v: Column, centroids: Array[Array[Float]],
                      n: Int): Column =
    asCol(NearestCells(ex(v), centroids, n))

  /** Asymmetric-distance fold for product-quantized search (Jégou 2011):
    * `Σ_s lut[s·k + codes[s]]` — `codes` is the row's `array<int>` PQ
    * code word (one code per subspace), `lut` the query's flat
    * `array<double>` table of per-(subspace, code) squared sub-distances.
    * This is the PQ scan's inner loop over |corpus| × |queries| rows —
    * codegen'd for the same reason as [[NearestCells]]: the HOF
    * formulation (`aggregate(zip_with(...))`) runs interpreted and
    * allocates per row, which is the wrong shape for the one pass that
    * touches every (row, query) pair at 100 TB.
    */
  case class AdcScore(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    require(k >= 1, "need k >= 1 codes per subspace")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_adc_score"

    override def nullSafeEval(l: Any, r: Any): Any = {
      val codes = l.asInstanceOf[ArrayData]
      val lut = r.asInstanceOf[ArrayData]
      var acc = 0.0; var s = 0; val m = codes.numElements()
      while (s < m) { acc += lut.getDouble(s * k + codes.getInt(s)); s += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (cv, lv) => {
        val acc = ctx.freshName("acc"); val s = ctx.freshName("s")
        val m = ctx.freshName("m")
        s"""
           |double $acc = 0.0;
           |int $m = $cv.numElements();
           |for (int $s = 0; $s < $m; $s++) {
           |  $acc += $lv.getDouble($s * $k + $cv.getInt($s));
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r)
  }

  def vecAdcScore(codes: Column, lut: Column, k: Int): Column =
    asCol(AdcScore(ex(codes), ex(lut), k))

  // ---- int8 scalar quantization ------------------------------------------
  // Affine per-dimension: q_i = clamp(round((x_i - min_i) / scale_i), 0,
  // 255), stored as byte (q_i - 128). 4× smaller than float32 at rest, in
  // shuffle, and in the stage-1 distance scan; the offset cancels in
  // int8L2, so approximate L2 needs only the scales.

  /** Scalar kernels (also called from generated code). */
  def quantizeArray(av: Array[Float], mins: Array[Float],
                    scales: Array[Float]): Array[Byte] = {
    val n = math.min(av.length, mins.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q = math.round((av(i) - mins(i)) / scales(i))
      val c = if (q < 0) 0 else if (q > 255) 255 else q
      out(i) = (c - 128).toByte
      i += 1
    }
    out
  }

  def dequantizeArray(a: Array[Byte], mins: Array[Float],
                      scales: Array[Float]): Array[Float] = {
    val n = math.min(a.length, mins.length)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = mins(i) + scales(i) * (a(i).toInt + 128)
      i += 1
    }
    out
  }

  /** L2 of the two DEQUANTIZED vectors: Σ (scale_i · (qa_i − qb_i))² —
    * exact for the quantized representation, no mins needed.
    */
  def int8L2(a: Array[Byte], b: Array[Byte], scales: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) - b(i)).toDouble * scales(i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  case class QuantizeVector(child: Expression, mins: Array[Float],
                            scales: Array[Float])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BinaryType
    override def prettyName: String = "vec_quantize"

    override protected def nullSafeEval(v: Any): Any =
      quantizeArray(v.asInstanceOf[ArrayData].toFloatArray(), mins, scales)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val mn = ctx.addReferenceObj("mins", mins, "float[]")
        val sc = ctx.addReferenceObj("scales", scales, "float[]")
        val cls = VectorFunctions.getClass.getName.stripSuffix("$") + "$"
        s"${ev.value} = $cls.MODULE$$.quantizeArray($c.toFloatArray(), $mn, $sc);"
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class DequantizeVector(child: Expression, mins: Array[Float],
                              scales: Array[Float])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def prettyName: String = "vec_dequantize"

    override protected def nullSafeEval(v: Any): Any =
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(
          dequantizeArray(v.asInstanceOf[Array[Byte]], mins, scales))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val mn = ctx.addReferenceObj("mins", mins, "float[]")
        val sc = ctx.addReferenceObj("scales", scales, "float[]")
        val cls = VectorFunctions.getClass.getName.stripSuffix("$") + "$"
        s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray($cls.MODULE$$.dequantizeArray($c, $mn, $sc));
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class Int8L2Distance(left: Expression, right: Expression,
                            scales: Array[Float]) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_int8_l2"

    override def nullSafeEval(l: Any, r: Any): Any =
      int8L2(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]], scales)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val sc = ctx.addReferenceObj("scales", scales, "float[]")
        val cls = VectorFunctions.getClass.getName.stripSuffix("$") + "$"
        s"${ev.value} = $cls.MODULE$$.int8L2($l, $r, $sc);"
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(l, r, scales)
  }

  def vecQuantize(v: Column, mins: Array[Float], scales: Array[Float]): Column =
    asCol(QuantizeVector(ex(v), mins, scales))
  def vecDequantize(v: Column, mins: Array[Float], scales: Array[Float]): Column =
    asCol(DequantizeVector(ex(v), mins, scales))
  def vecInt8L2(a: Column, b: Column, scales: Array[Float]): Column =
    asCol(Int8L2Distance(ex(a), ex(b), scales))

  /** Deterministic hyperplane component in [-1, 1): splitmix64 of
    * (seed, bit, dim) scaled. Public so generated code can call it.
    */
  def component(seed: Long, b: Int, d: Int): Double = {
    var z = seed + b.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >> 11).toDouble / (1L << 52).toDouble // in (-2, 2), sign-symmetric
  }

  def vecLshSignature(v: Column, nBits: Int, seed: Long): Column =
    asCol(HyperplaneSignature(ex(v), nBits, seed))

  private def asCol(e: Expression): Column = GraftSqlBridge.column(e)
  private def ex(c: Column): Expression = GraftSqlBridge.expression(c)

  def vecDot(a: Column, b: Column): Column = asCol(DotProduct(ex(a), ex(b)))
  def vecCosine(a: Column, b: Column): Column = asCol(CosineSimilarity(ex(a), ex(b)))
  def vecL2(a: Column, b: Column): Column = asCol(L2Distance(ex(a), ex(b)))

  def distance(metric: Metric)(a: Column, b: Column): Column = metric match {
    case Dot    => vecDot(a, b)
    case Cosine => vecCosine(a, b)
    case L2     => vecL2(a, b)
  }
}
