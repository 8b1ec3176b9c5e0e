package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** Vector math kernels for `array<float>` embeddings.
  *
  * Accumulation is double-precision left-to-right — the exact order the
  * equivalent `aggregate(zip_with(...))` fold uses — so swapping the
  * interpreted HOF composition for these codegen'd kernels is
  * bit-for-bit result-preserving (the DuckDB oracle queries keep matching).
  */
object VectorKernels {

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** cosine(a,b) with the [[graft.operators.Similarity.cosine]] zero-vector
    * convention (denominator 0 → 0.0).
    */
  def cosineF(a: ArrayData, b: ArrayData): Double =
    cosineOfDots(dotF(a, b), dotF(a, a), dotF(b, b))

  /** [[cosineF]] from its three dot products, for callers that reuse norms. */
  def cosineOfDots(ab: Double, aa: Double, bb: Double): Double = {
    val denom = math.sqrt(aa * bb)
    if (denom == 0.0d) 0.0d else ab / denom
  }

  /** L2-normalize (zero vector unchanged). Same arithmetic as the HOF
    * formulation: double left-to-right norm accumulation, per-element
    * double divide, cast back to float.
    */
  def normalizeF(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    if (norm == 0.0d) v
    else {
      val out = new Array[Float](n)
      i = 0
      while (i < n) {
        out(i) = (v.getFloat(i).toDouble / norm).toFloat
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Symmetric per-vector int8 quantization — bit-identical to the HOF
    * formulation in [[graft.operators.Similarity.quantizeInt8]]: scale =
    * float max|x| (float abs/max are exact), code = round(x/scale·127)
    * computed in double with Spark's Round semantics for DoubleType at
    * scale 0 (BigDecimal HALF_UP — NOT Math.round, which rounds -2.5 the
    * other way).
    */
  def quantizeI8(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var maxabs = 0.0f
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i))
      if (a > maxabs) maxabs = a
      i += 1
    }
    val q = new Array[Int](n)
    if (maxabs != 0.0f) {
      val s = maxabs.toDouble
      i = 0
      while (i < n) {
        val d = v.getFloat(i).toDouble / s * 127
        q(i) = java.math.BigDecimal.valueOf(d)
          .setScale(0, java.math.RoundingMode.HALF_UP).intValue()
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](maxabs, new GenericArrayData(q)))
  }

  /** Late-interaction MaxSim over two array<float> vectors read as
    * `chunks` contiguous sub-vectors: Σᵢ maxⱼ cosine(aᵢ, bⱼ) — bit-identical
    * to the nested-HOF formulation in
    * [[graft.operators.Similarity.maxSimTopK]]'s reference composition
    * (per-chunk norms over each side's own chunk width, dot over the
    * shorter, zero-denominator → 0, left-to-right double folds, sum
    * seeded at 0.0).
    */
  def maxSimF(a: ArrayData, b: ArrayData, chunks: Int): Double = {
    val wa = a.numElements() / chunks
    val wb = b.numElements() / chunks
    var acc = 0.0d
    var i = 0
    while (i < chunks) {
      var best = 0.0d
      var j = 0
      while (j < chunks) {
        val c = chunkCosine(a, i * wa, wa, b, j * wb, wb)
        if (j == 0 || c > best) best = c
        j += 1
      }
      acc += best
      i += 1
    }
    acc
  }

  private def chunkDot(a: ArrayData, oa: Int, b: ArrayData, ob: Int,
                       n: Int): Double = {
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += a.getFloat(oa + i).toDouble * b.getFloat(ob + i).toDouble
      i += 1
    }
    acc
  }

  private def chunkCosine(a: ArrayData, oa: Int, wa: Int,
                          b: ArrayData, ob: Int, wb: Int): Double = {
    val denom = math.sqrt(chunkDot(a, oa, a, oa, wa) * chunkDot(b, ob, b, ob, wb))
    if (denom == 0.0d) 0.0d
    else chunkDot(a, oa, b, ob, math.min(wa, wb)) / denom
  }

  /** Cosine over int8 code arrays — bit-identical to the HOF formulation
    * in [[graft.operators.Similarity.int8Cosine]]: exact BIGINT dots, one
    * double divide.
    */
  def cosineI8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dab = 0L; var daa = 0L; var dbb = 0L
    var i = 0
    while (i < n) {
      val x = a.getInt(i).toLong
      val y = b.getInt(i).toLong
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    val den = math.sqrt((daa * dbb).toDouble)
    if (den == 0.0d) 0.0d else dab.toDouble / den
  }
}

/** Codegen'd L2-normalization of an array<float> column. */
case class NormalizeF32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"l2_normalize needs array<float>, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.normalizeF(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.normalizeF($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeF32Expr =
    copy(child = newChild)
}

/** Codegen'd SQ8 quantization: array<float> → struct(scale float, q array<int>). */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"quantize_int8 needs array<float>, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.quantizeI8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.quantizeI8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expr =
    copy(child = newChild)
}

/** Codegen'd cosine over two array<int> int8-code columns. */
case class CosineI8Expr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_i8 needs two array<int>, got ${l.catalogString}, ${r.catalogString}")
    }
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.cosineI8($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineI8Expr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd late-interaction MaxSim over two array<float> columns. */
case class MaxSimF32Expr(left: Expression, right: Expression, chunks: Int)
  extends BinaryExpression {
  require(chunks > 0, "maxsim_f32 needs chunks > 0")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"maxsim_f32 needs two array<float>, got ${l.catalogString}, ${r.catalogString}")
    }
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.maxSimF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], chunks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.maxSimF($a, $b, $chunks)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MaxSimF32Expr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd cosine over two array<float> columns. */
case class CosineF32Expr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_f32 needs two array<float>, got ${l.catalogString}, ${r.catalogString}")
    }
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.cosineF($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineF32Expr =
    copy(left = newLeft, right = newRight)
}

/** An IVF centroid table, as the IVF kernels hold it: cell ids in table
  * order, each centroid as array data (a NULL element reads as 0.0, as in
  * [[VectorKernels.cosineF]]) and its self dot product.
  *
  * Equality is structural: the ids, then every element's float bits and
  * NULL-ness. `toString` is the shape and a content hash, so a plan that
  * holds a table prints neither its floats nor an object identity.
  */
final class IvfCentroids(table: Seq[(Long, Seq[Float])]) extends Serializable {
  private val cells: Array[Long] = table.map(_._1).toArray
  private val vectors: Array[ArrayData] = table.map { case (_, v) =>
    val boxed = v.asInstanceOf[Seq[Any]]
    if (boxed.contains(null)) new GenericArrayData(boxed.toArray)
    else UnsafeArrayData.fromPrimitiveArray(v.toArray): ArrayData
  }.toArray
  private val selfDots: Array[Double] = vectors.map(c => VectorKernels.dotF(c, c))
  private val dims: Int = table.headOption.fold(0)(_._2.length)
  // the centroid of "no cell": zeros of the first centroid's width
  private val noCentroid: ArrayData = UnsafeArrayData.fromPrimitiveArray(new Array[Float](dims))
  private val key: Array[Long] = table.flatMap { case (cell, v) =>
    cell +: v.length.toLong +: v.asInstanceOf[Seq[Any]].map {
      case null => -1L
      case x: Float => java.lang.Float.floatToIntBits(x) & 0xffffffffL
    }
  }.toArray

  /** cosine(v, centroid c), NULL (None) for a NULL vector. */
  private def sims(v: ArrayData): Option[Array[Double]] =
    Option(v).map { v =>
      val vv = VectorKernels.dotF(v, v)
      Array.tabulate(cells.length)(c =>
        VectorKernels.cosineOfDots(VectorKernels.dotF(v, vectors(c)), vv, selfDots(c)))
    }

  private def cellRow(c: Int): InternalRow =
    new GenericInternalRow(Array[Any](cells(c), vectors(c)))

  /** struct(cell, centroid) of the highest cosine, ties to the lowest cell,
    * compared as Catalyst compares doubles (NaN greatest, -0.0 = 0.0).
    * A NULL vector or an empty table gives cell -1 with a zero centroid.
    */
  def nearest(v: ArrayData): InternalRow = {
    var best = -1
    var bestSim = -2.0d
    var bestCell = -1L
    sims(v).foreach { s =>
      var c = 0
      while (c < cells.length) {
        val cmp = SQLOrderingUtil.compareDoubles(s(c), bestSim)
        if (cmp > 0 || (cmp == 0 && cells(c) < bestCell)) {
          best = c; bestSim = s(c); bestCell = cells(c)
        }
        c += 1
      }
    }
    if (best < 0) new GenericInternalRow(Array[Any](-1L, noCentroid)) else cellRow(best)
  }

  /** The first `nprobe` struct(cell, centroid) in ascending (-cosine, cell)
    * order, by Catalyst's double comparison; the sort is stable. A NULL
    * vector's keys are all NULL, so its order is by cell alone.
    */
  def probe(v: ArrayData, nprobe: Int): ArrayData = {
    val neg = sims(v).map(_.map(-_))
    val order = Array.range(0, cells.length).sortWith { (a, b) =>
      val cmp = neg.fold(0)(n => SQLOrderingUtil.compareDoubles(n(a), n(b)))
      if (cmp != 0) cmp < 0 else cells(a) < cells(b)
    }
    new GenericArrayData(order.take(nprobe).map(c => cellRow(c): Any))
  }

  override def equals(o: Any): Boolean = o match {
    case t: IvfCentroids => java.util.Arrays.equals(key, t.key)
    case _ => false
  }
  override def hashCode: Int = scala.util.hashing.MurmurHash3.arrayHash(key)
  override def toString: String = f"centroids(${cells.length}x$dims#$hashCode%08x)"
}

object IvfCentroids {
  val CellType: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("centroid", ArrayType(FloatType), nullable = false)))

  private[functions] def checkVector(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name needs array<float>, got ${other.catalogString}")
    }

  /** Code for `value = ref.method(child or null, extra)`, never NULL. */
  private[functions] def genCall(ctx: CodegenContext, ev: ExprCode, child: Expression,
                                 cents: IvfCentroids, dataType: DataType,
                                 call: (String, String) => String): ExprCode = {
    val v = child.genCode(ctx)
    val ref = ctx.addReferenceObj("ivfCentroids", cents, classOf[IvfCentroids].getName)
    ev.copy(code = code"""
      ${v.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        ${call(ref, s"(${v.isNull} ? null : ${v.value})")};""", isNull = FalseLiteral)
  }
}

/** Codegen'd IVF assignment: struct(cell, centroid) of the nearest centroid
  * of an array<float> column (see [[IvfCentroids.nearest]]).
  */
case class IvfNearestExpr(child: Expression, centroids: IvfCentroids) extends UnaryExpression {
  override def prettyName: String = "ivf_nearest"
  override def nullable: Boolean = false
  override def dataType: DataType = IvfCentroids.CellType
  override def checkInputDataTypes(): TypeCheckResult = IvfCentroids.checkVector(prettyName, child)
  override def eval(input: InternalRow): Any =
    centroids.nearest(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    IvfCentroids.genCall(ctx, ev, child, centroids, dataType, (ref, v) => s"$ref.nearest($v)")
  override protected def withNewChildInternal(newChild: Expression): IvfNearestExpr =
    copy(child = newChild)
}

/** Codegen'd IVF probe: the `nprobe` nearest struct(cell, centroid) of an
  * array<float> column (see [[IvfCentroids.probe]]).
  */
case class IvfProbeExpr(child: Expression, centroids: IvfCentroids, nprobe: Int)
  extends UnaryExpression {
  require(nprobe >= 0, s"ivf_probe needs nprobe >= 0, got $nprobe")
  override def prettyName: String = "ivf_probe"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IvfCentroids.CellType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = IvfCentroids.checkVector(prettyName, child)
  override def eval(input: InternalRow): Any =
    centroids.probe(child.eval(input).asInstanceOf[ArrayData], nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    IvfCentroids.genCall(ctx, ev, child, centroids, dataType,
      (ref, v) => s"$ref.probe($v, $nprobe)")
  override protected def withNewChildInternal(newChild: Expression): IvfProbeExpr =
    copy(child = newChild)
}
