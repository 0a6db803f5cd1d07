package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expressions for the similarity hot path.
  *
  * `aggregate(zip_with(a, b, ...))` is semantically right but allocates
  * an intermediate ArrayData per row and evaluates a lambda per element;
  * at 100 TB × 64 dims that's the inner loop of the whole workload.
  * These expressions fuse the loop into whole-stage codegen with zero
  * allocation. Summation is index-order left-to-right — bit-identical
  * to the higher-order-function formulation they replace (oracle parity
  * preserved).
  */
object VectorExpressions {

  /** Σ a(i)·b(i) over two array<double> columns (null-safe, fused). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** sqrt(Σ a(i)²) over an array<double> column (null-safe, fused). */
  case class L2Norm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) { val x = a.getDouble(i); acc += x * x; i += 1 }
      math.sqrt(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = $a.getDouble($i);
           |  $acc += $x * $x;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ------------------------------------------------------------------ //
  // Quantization kernels — fused twins of the HOF formulation
  //   array_max(transform(v, x -> abs(x)))            -> max_abs
  //   transform(v, x -> cast(round(x / s) as bigint)) -> quantize_round
  //   aggregate(q, 0L, (a, x) -> a + x)               -> sum_longs
  //   aggregate(q, 0L, (a, x) -> a + abs(x))          -> abs_sum_longs
  // Lambda expressions are CodegenFallback in Spark, which pushed the
  // whole quantization Project/HashAggregate out of whole-stage codegen
  // (flagged by `graft.Explain --codegen`); these static kernels inline.
  // Each replicates its HOF twin's semantics EXACTLY (spec-asserted):
  // NaN is greatest for max (array_max ordering), Round is
  // BigDecimal.valueOf(x).setScale(0, HALF_UP) with the NaN/Infinity
  // passthrough (Spark's RoundBase), double->long cast truncates, a
  // null element poisons the fold to null, an empty array maxes to null.
  // ------------------------------------------------------------------ //

  /** max |x| over array<double>; null for an empty array, NaN wins. */
  def maxAbs(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var best: java.lang.Double = null
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = math.abs(a.getDouble(i))
        if (java.lang.Double.isNaN(x)) return java.lang.Double.NaN
        if (best == null || x > best.doubleValue()) best = java.lang.Double.valueOf(x)
      }
      i += 1
    }
    best
  }

  /** Spark `cast(round(x, 0) as bigint)` for a double, element-wise. */
  private def roundToLong(x: Double): Long =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x.toLong
    else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue().toLong

  /** transform(v, x -> cast(round(x / scale) as bigint)), fused. */
  def quantizeRound(v: ArrayData, scale: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = if (v.isNullAt(i)) null else java.lang.Long.valueOf(roundToLong(v.getDouble(i) / scale))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** aggregate(q, 0L, (a, x) -> a + (abs?|x|:x)) — null element poisons. */
  def sumLongs(q: ArrayData, useAbs: Boolean): java.lang.Long = {
    val n = q.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (q.isNullAt(i)) return null
      val x = q.getLong(i)
      acc += (if (useAbs) math.abs(x) else x)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  case class MaxAbs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // empty array -> null
    override def nullSafeEval(v: Any): Any = maxAbs(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val r = ctx.freshName("r")
        s"""
           |java.lang.Double $r = graft.functions.VectorExpressions.maxAbs($c);
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class QuantizeRound(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def nullSafeEval(v: Any, s: Any): Any =
      quantizeRound(v.asInstanceOf[ArrayData], s.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, s) => s"graft.functions.VectorExpressions.quantizeRound($v, $s)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class SumLongs(child: Expression, useAbs: Boolean) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // null element poisons the fold
    override def nullSafeEval(v: Any): Any = sumLongs(v.asInstanceOf[ArrayData], useAbs)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val r = ctx.freshName("r")
        s"""
           |java.lang.Long $r = graft.functions.VectorExpressions.sumLongs($c, $useAbs);
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Indices of the `n` smallest values of an array<double>, ties
    * broken by lower index — IVF probe selection (`nprobe` nearest
    * centroids under the |c|² − 2·v·c surrogate) as one codegen'd
    * expression. Replaces the CodegenFallback pair
    * `array_sort(array(struct(d, j)))` + `transform(p -> p.j)` that
    * kept four ANN queries out of whole-stage codegen. O(K·n)
    * selection, no allocation beyond the n-slot result. ±0.0 compare
    * EQUAL here (index tiebreak) — matching SQL/DuckDB semantics,
    * where `Double.compare`-based array_sort ordered −0.0 first.
    */
  def argminN(a: ArrayData, n: Int): ArrayData = {
    val k = a.numElements()
    val m = math.min(n, k)
    val used = new Array[Boolean](k)
    val out = new Array[Int](m)
    var slot = 0
    while (slot < m) {
      var best = -1
      var bestD = 0.0
      var i = 0
      while (i < k) {
        if (!used(i)) {
          val d = a.getDouble(i)
          if (best < 0 || d < bestD) { best = i; bestD = d }
        }
        i += 1
      }
      used(best) = true
      out(slot) = best
      slot += 1
    }
    new GenericArrayData(out)
  }

  /** Element-wise a(i) − b(i) over two array<double> columns — the
    * residual computation `v − centroid(list)` fused into codegen
    * (`zip_with`'s merge lambda is CodegenFallback). Identical IEEE
    * subtraction in index order, so oracle parity is untouched.
    */
  def vecSub(a: ArrayData, b: ArrayData): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) - b.getDouble(i); i += 1 }
    new GenericArrayData(out)
  }

  case class VecSub(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(l: Any, r: Any): Any =
      VectorExpressions.vecSub(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorExpressions.vecSub($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class ArgminN(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      VectorExpressions.argminN(v.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorExpressions.argminN($c, $n)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Fused IVF(+residual) PQ encode kernel (r14-opt): coarse argmin
    * assignment, optional residual subtraction, and all [[graft.operators.Similarity]]
    * PqM subspace argmin codes in ONE pass over the vector — replacing
    * the assignTo projection (K×d literal centroids), the vec_sub
    * projection (a 64-double allocation per row), and the
    * encodedSubspaces projection (M×PqK×subDim literal codebooks, M
    * slice allocations per row). The models ride as reference objects
    * instead of thousands of literal expression nodes, so the analyzed
    * plan collapses from ~3k nodes to one and per-task codegen stays
    * tiny.
    *
    * Float parity is EXACT by construction (oracle hash-checked):
    *  - coarse d_j = c2_j − 2.0·Σᵢ v_i·c_i, summed index order — the
    *    assignTo struct-argmin; ties keep the lower j (strict <, j
    *    ascending), matching array_min's (d, j) struct ordering.
    *  - residual element (v_i − cent_i) then ·b_i then += — identical
    *    IEEE sequence to vec_sub followed by dot_product.
    *  - subspace d = bc2_sj − 2.0·Σ sv·b, same argmin tie-break as the
    *    encodedSubspaces struct array_min.
    */
  def ivfPqEncode(
      v: ArrayData,
      cents: Array[Array[Double]], c2: Array[Double],
      books: Array[Array[Array[Double]]], bc2: Array[Array[Double]],
      subDim: Int, residual: Boolean,
      withDist: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    // the subspace loops index v up to books.length * subDim unchecked
    require(v.numElements() >= books.length * subDim,
      s"ivf_pq_encode: vector has ${v.numElements()} elements, the codebooks need " +
        s"${books.length * subDim} (${books.length} subspaces x $subDim)")
    var listId = -1
    var bestD = 0.0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(v.numElements(), c.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v.getDouble(i) * c(i); i += 1 }
      val d = c2(j) - 2.0 * acc
      if (listId < 0 || d < bestD) { listId = j; bestD = d }
      j += 1
    }
    val cent: Array[Double] = if (residual && listId >= 0) cents(listId) else null
    val m = books.length
    val codes = new Array[Int](m)
    val dists: Array[Double] = if (withDist) new Array[Double](m) else null
    var s = 0
    while (s < m) {
      val bs = books(s)
      val off = s * subDim
      var best = -1
      var bd = 0.0
      var k = 0
      while (k < bs.length) {
        val b = bs(k)
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val x =
            if (cent == null) v.getDouble(off + i)
            else v.getDouble(off + i) - cent(off + i)
          acc += x * b(i)
          i += 1
        }
        val d = bc2(s)(k) - 2.0 * acc
        if (best < 0 || d < bd) { best = k; bd = d }
        k += 1
      }
      codes(s) = best
      if (withDist) {
        // reconstruction distance ||sv - c(sv)||^2 = sv.sv + mind:
        // the self-dot is the same index-order fold as DotProduct, and
        // the single addition is the same IEEE add the unfused census
        // performed on (svsv + mind) — bit-identical
        var svsv = 0.0
        var i = 0
        while (i < subDim) {
          val x =
            if (cent == null) v.getDouble(off + i)
            else v.getDouble(off + i) - cent(off + i)
          svsv += x * x
          i += 1
        }
        dists(s) = svsv + bd
      }
      s += 1
    }
    if (withDist)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](listId, new GenericArrayData(codes), new GenericArrayData(dists)))
    else
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](listId, new GenericArrayData(codes)))
  }

  case class IvfPqEncode(
      child: Expression,
      cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]],
      subDim: Int,
      residual: Boolean,
      withDist: Boolean = false) extends UnaryExpression {
    private lazy val centsArr: Array[Array[Double]] = cents.toArray
    private lazy val c2Arr: Array[Double] = centsArr.map(_.map(x => x * x).sum)
    private lazy val booksArr: Array[Array[Array[Double]]] = books.map(_.toArray).toArray
    private lazy val bc2Arr: Array[Array[Double]] =
      booksArr.map(_.map(_.map(x => x * x).sum))
    override def dataType: DataType = {
      val base = Seq(
        org.apache.spark.sql.types.StructField("list_id", IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("codes",
          ArrayType(IntegerType, containsNull = false), nullable = false))
      org.apache.spark.sql.types.StructType(
        if (withDist) base :+ org.apache.spark.sql.types.StructField("dists",
          ArrayType(DoubleType, containsNull = false), nullable = false)
        else base)
    }
    override def nullSafeEval(v: Any): Any =
      VectorExpressions.ivfPqEncode(v.asInstanceOf[ArrayData],
        centsArr, c2Arr, booksArr, bc2Arr, subDim, residual, withDist)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val centsRef = ctx.addReferenceObj("pqCents", centsArr, "double[][]")
      val c2Ref = ctx.addReferenceObj("pqC2", c2Arr, "double[]")
      val booksRef = ctx.addReferenceObj("pqBooks", booksArr, "double[][][]")
      val bc2Ref = ctx.addReferenceObj("pqBc2", bc2Arr, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.ivfPqEncode($c, $centsRef, $c2Ref, " +
          s"$booksRef, $bc2Ref, $subDim, $residual, $withDist)")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    // the model arrays are reference objects, not literal subtrees —
    // print their shape, not 150 JVM array toStrings per plan node
    override def toString: String =
      s"ivf_pq_encode($child, K=${cents.length}, M=${books.length}, " +
        s"subDim=$subDim, residual=$residual)"
    override def sql: String =
      s"ivf_pq_encode(${child.sql}, K=${cents.length}, M=${books.length})"
  }

  /** Column API. Inputs must already be array<double> (cast upstream —
    * keeping the cast visible in the plan preserves oracle parity with
    * the DOUBLE[] cast on the DuckDB side).
    */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def l2_norm(a: Column): Column =
    GraftColumnBridge.column(L2Norm(GraftColumnBridge.expression(a)))
  def max_abs(a: Column): Column =
    GraftColumnBridge.column(MaxAbs(GraftColumnBridge.expression(a)))
  def quantize_round(v: Column, scale: Column): Column =
    GraftColumnBridge.column(QuantizeRound(GraftColumnBridge.expression(v), GraftColumnBridge.expression(scale)))
  def sum_longs(q: Column): Column =
    GraftColumnBridge.column(SumLongs(GraftColumnBridge.expression(q), useAbs = false))
  def abs_sum_longs(q: Column): Column =
    GraftColumnBridge.column(SumLongs(GraftColumnBridge.expression(q), useAbs = true))
  def argmin_n(a: Column, n: Int): Column =
    GraftColumnBridge.column(ArgminN(GraftColumnBridge.expression(a), n))
  def vec_sub(a: Column, b: Column): Column =
    GraftColumnBridge.column(VecSub(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def ivf_pq_encode(v: Column, cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]], subDim: Int, residual: Boolean,
      withDist: Boolean = false): Column =
    GraftColumnBridge.column(IvfPqEncode(
      GraftColumnBridge.expression(v), cents, books, subDim, residual, withDist))
}
