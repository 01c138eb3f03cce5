package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expressions for the embedding hot path (SURVEY §2.11:
  * geometry/vector kernels "can later be promoted to codegen'd Catalyst
  * Expressions" — this is that promotion for the two that dominate the
  * similarity workload).
  *
  * Versus the UDF versions in functions.VecUdfs: no Row↔Scala
  * serialization, no boxing, and the loop participates in whole-stage
  * codegen, so a filter over a million candidate pairs never leaves
  * generated code. The accumulation order (index 0..n-1, double) is
  * identical to the UDFs and to DuckDB's list_dot_product on DOUBLE[],
  * preserving the cross-engine hash contract.
  */
private object VectorExpressions {
  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Codegen twin of [[VectorKernel.hasNullElem]]: sets `bad` (a fresh
    * boolean). */
  def genNullElemScan(ctx: CodegenContext, v: String, bad: String): String = {
    val i = ctx.freshName("nes")
    s"""
       |boolean $bad = false;
       |for (int $i = 0; $i < $v.numElements(); $i++) {
       |  if ($v.isNullAt($i)) { $bad = true; break; }
       |}
     """.stripMargin
  }
}

/** The scalar dot/norm kernel behind `graft_dot` and `graft_norm`'s
  * interpreted eval, which also scores the driver arm of
  * [[graft.ext.Ivf.searchIndex]] (a `select` the optimizer folds into a
  * local relation), so a vector scored on the driver gets the same bits
  * as one scored in a task. The codegen templates in [[DotProductF]] and
  * [[NormF]] emit the same loops.
  */
private[plans] object VectorKernel {

  /** NULL array elements make the whole result NULL — the same policy
    * GeomKernels.hasNullElem establishes, for the same reason: getFloat
    * on a null slot reads 0.0, which would be SILENTLY wrong math. */
  def hasNullElem(x: ArrayData): Boolean = {
    var i = 0
    val n = x.numElements()
    while (i < n) { if (x.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Σ x(i)·y(i) over the shorter length, double accumulation in index
    * order. Neither side may hold a NULL element. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  /** sqrt(Σ x(i)²), double accumulation. `x` may not hold a NULL element. */
  def norm(x: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }
}

/** Centroid matrix + precomputed norms + cell ids, shipped to executors
  * either inline (literal tier, [[NearestCellF]]) or as a broadcast
  * variable (large-k tier, [[NearestCellBcastF]]). Plain class with
  * accessor methods so Janino-generated code can read it directly.
  */
final class NearestCellModel(val mats: Array[Array[Float]],
                             val ids: Array[Int]) extends Serializable {
  require(ids.length == mats.length && ids.nonEmpty,
    s"graft_nearest_cell: ${ids.length} cells vs ${mats.length} centroids")
  val norms: Array[Double] = mats.map { v =>
    var s = 0.0; var i = 0
    while (i < v.length) { val d = v(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }
}

/** The argmax kernel shared by both nearest-cell expression variants:
  * one interpreted form, one codegen template — byte-identical score
  * arithmetic (double accumulation, dot/(norm·norm), NaN-greatest,
  * tie to lowest cell) so the two tiers are hash-interchangeable.
  */
private object NearestCellKernel {

  def eval(x: ArrayData, mats: Array[Array[Float]], norms: Array[Double],
           ids: Array[Int]): Int = {
    val ne = x.numElements()
    var en = 0.0
    var i = 0
    while (i < ne) { val d = x.getFloat(i).toDouble; en += d * d; i += 1 }
    en = math.sqrt(en)
    var bi = 0
    var best = 0.0
    var c2 = 0
    while (c2 < mats.length) {
      val cv = mats(c2)
      val n = math.min(ne, cv.length)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * cv(i).toDouble; i += 1 }
      val s = dot / (en * norms(c2))
      if (c2 == 0 || s > best || (s.isNaN && !best.isNaN)) { best = s; bi = c2 }
      c2 += 1
    }
    ids(bi)
  }

  /** Emit the loop reading from `matsExpr`/`normsExpr`/`idsExpr` (any
    * Java expressions of types float[][]/double[]/int[]; evaluated once
    * into locals). Spark's codegen Block interpolator re-applies
    * stripMargin on toString, so no emitted line may BEGIN with `|`
    * (e.g. a wrapped `||` condition) — it would be eaten as a margin
    * marker, the stage would fail Janino compilation, and the whole
    * plan silently falls back to interpreted eval.
    */
  def gen(ctx: CodegenContext, v: String, matsExpr: String, normsExpr: String,
          idsExpr: String, result: String): String = {
    val ne = ctx.freshName("ne")
    val en = ctx.freshName("en")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val c = ctx.freshName("c")
    val cv = ctx.freshName("cv")
    val n = ctx.freshName("n")
    val dot = ctx.freshName("dot")
    val s = ctx.freshName("s")
    val bi = ctx.freshName("bi")
    val best = ctx.freshName("best")
    val d = ctx.freshName("d")
    val mats = ctx.freshName("mats")
    val norms = ctx.freshName("norms")
    val ids = ctx.freshName("ids")
    s"""
       |float[][] $mats = $matsExpr;
       |double[] $norms = $normsExpr;
       |int[] $ids = $idsExpr;
       |int $ne = $v.numElements();
       |double $en = 0.0;
       |for (int $i = 0; $i < $ne; $i++) {
       |  double $d = (double) $v.getFloat($i);
       |  $en += $d * $d;
       |}
       |$en = java.lang.Math.sqrt($en);
       |int $bi = 0;
       |double $best = 0.0;
       |for (int $c = 0; $c < $mats.length; $c++) {
       |  float[] $cv = $mats[$c];
       |  int $n = java.lang.Math.min($ne, $cv.length);
       |  double $dot = 0.0;
       |  for (int $j = 0; $j < $n; $j++) {
       |    $dot += (double) $v.getFloat($j) * (double) $cv[$j];
       |  }
       |  double $s = $dot / ($en * $norms[$c]);
       |  if ($c == 0 || $s > $best ||
       |      (Double.isNaN($s) && !Double.isNaN($best))) {
       |    $best = $s; $bi = $c;
       |  }
       |}
       |$result = $ids[$bi];
     """.stripMargin
  }
}

case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  import VectorExpressions.isFloatArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => isFloatArray(e.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<float> arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null ELEMENT → null result
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (VectorKernel.hasNullElem(x) || VectorKernel.hasNullElem(y)) null
    else VectorKernel.dot(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val badA = ctx.freshName("badA")
      val badB = ctx.freshName("badB")
      s"""
         |${VectorExpressions.genNullElemScan(ctx, a, badA)}
         |${VectorExpressions.genNullElemScan(ctx, b, badB)}
         |if ($badA || $badB) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = Math.min($a.numElements(), $b.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float vector, double accumulation — sqrt(dot(v, v)). */
case class NormF(child: Expression)
    extends UnaryExpression {

  import VectorExpressions.isFloatArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_norm expects array<float>, got ${child.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null ELEMENT → null result
  override def prettyName: String = "graft_norm"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (VectorKernel.hasNullElem(x)) null else VectorKernel.norm(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val bad = ctx.freshName("bad")
      s"""
         |${VectorExpressions.genNullElemScan(ctx, a, bad)}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $v = (double) $a.getFloat($i);
         |    $s += $v * $v;
         |  }
         |  ${ev.value} = java.lang.Math.sqrt($s);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid argmax for IVF assignment: returns the cell id of
  * the centroid with the highest cosine score against `vec`, ties to
  * the lowest cell id, NaN scores ranked greatest (Spark's double
  * ordering — bit-compatible with the former greatest()-over-structs
  * formulation and with the DuckDB `row_number ... ORDER BY score DESC,
  * cell` oracle replication).
  *
  * `centroids` (array<array<float>>, cell-ascending) and `cells`
  * (array<int>) must be FOLDABLE — they are broadcast-bounded literals
  * pulled to the driver by Ivf.assign. The matrix lives in ONE Literal
  * node (plan size O(1) in k) and is staged as a reference object, so
  * k=8 and k=10,000 compile to the same generated code: the former
  * k-literal-columns form made the plan — and codegen — O(k), cliffing
  * at a few hundred cells.
  *
  * Null handling deviates from the former form: a NULL embedding
  * yields a NULL cell (standard expression null propagation; such rows
  * drop out of cell equi-joins), where the struct formulation
  * accidentally assigned cell 0 via the negcell tiebreak over all-null
  * scores. No corpus in the gate has null embeddings; dropping them is
  * the deliberate semantics.
  */
case class NearestCellF(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  import VectorExpressions.isFloatArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (!isFloatArray(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cell expects array<float> vec, got ${first.dataType.simpleString}")
    else if (!(second.dataType match {
      case ArrayType(e, _) => isFloatArray(e); case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cell expects array<array<float>> centroids, got ${second.dataType.simpleString}")
    else if (!(third.dataType match {
      case ArrayType(IntegerType, _) => true; case _ => false
    }))
      TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cell expects array<int> cells, got ${third.dataType.simpleString}")
    else if (!second.foldable || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_nearest_cell centroids/cells must be literals")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // null ELEMENT → null cell
  override def prettyName: String = "graft_nearest_cell"

  @transient private lazy val model = {
    val ids = third.eval(null).asInstanceOf[ArrayData].toIntArray()
    val cd = second.eval(null).asInstanceOf[ArrayData]
    val mats = Array.tabulate(cd.numElements())(i => cd.getArray(i).toFloatArray())
    new NearestCellModel(mats, ids)
  }

  override protected def nullSafeEval(v: Any, c: Any, ids: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    if (VectorKernel.hasNullElem(x)) null
    else NearestCellKernel.eval(x, model.mats, model.norms, model.ids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mats = ctx.addReferenceObj("cellMats", model.mats, "float[][]")
    val norms = ctx.addReferenceObj("cellNorms", model.norms, "double[]")
    val ids = ctx.addReferenceObj("cellIds", model.ids, "int[]")
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      val bad = ctx.freshName("bad")
      s"""
         |${VectorExpressions.genNullElemScan(ctx, v, bad)}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |${NearestCellKernel.gen(ctx, v, mats, norms, ids, ev.value)}
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Large-k tier of the nearest-cell argmax: the centroid matrix rides a
  * Spark broadcast variable instead of a foldable Literal. A Literal
  * matrix is re-serialized into EVERY task binary at every job
  * submission (and inflates plan/analysis size linearly in k·dim); a
  * broadcast ships once per executor and the task binary carries only
  * the handle, so k=10⁵ centroids cost the same per-job bytes as k=8.
  * Same kernel, bit-identical scores to [[NearestCellF]].
  *
  * Carries executor-side state a FunctionRegistry signature can't
  * express, so it is constructed directly (via ColumnBridge) by
  * [[graft.ext.Ivf.assign]] above its size threshold.
  */
case class NearestCellBcastF(child: Expression, bc: Broadcast[NearestCellModel])
    extends UnaryExpression {

  import VectorExpressions.isFloatArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cell expects array<float> vec, got ${child.dataType.simpleString}")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true // null ELEMENT → null cell
  override def prettyName: String = "graft_nearest_cell_bcast"

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    if (VectorKernel.hasNullElem(x)) return null
    val m = bc.value
    NearestCellKernel.eval(x, m.mats, m.norms, m.ids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val modelCls = classOf[NearestCellModel].getName
    val bcRef = ctx.addReferenceObj("nearestBc", bc, classOf[Broadcast[_]].getName)
    // resolved from the broadcast once per generated-class instance,
    // not per row
    val model = ctx.addMutableState(modelCls, "nearestModel",
      v => s"$v = ($modelCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, v => {
      val bad = ctx.freshName("bad")
      s"""
         |${VectorExpressions.genNullElemScan(ctx, v, bad)}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |${NearestCellKernel.gen(ctx, v,
              s"$model.mats()", s"$model.norms()", s"$model.ids()", ev.value)}
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native GENERATOR for the bucket → candidate-pairs step of LSH /
  * blocking dedup: all ordered pairs (i < j) of a pre-sorted bigint
  * list, streamed one `(da, db)` row at a time.
  *
  * Versus the former UDF+explode (`VecUdfs.orderedPairs`): no
  * Row↔Scala serialization, and crucially no materialized C(n,2)
  * buffer — the UDF built the entire pair array per bucket before
  * explode could stream it, an O(bucket²) allocation on exactly the
  * hot (large-bucket) keys the dedup caps exist to protect. The
  * iterator form is O(1) memory per bucket regardless of size.
  */
case class OrderedPairsGen(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pairs expects array<bigint>, got ${other.simpleString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("da", LongType, nullable = false),
    StructField("db", LongType, nullable = false)))

  override def prettyName: String = "graft_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) Iterator.empty
    else {
      val n = arr.numElements()
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = j < n
        override def next(): InternalRow = {
          val r = InternalRow(arr.getLong(i), arr.getLong(j))
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
