package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** PCA over an embedding column, built for the 100 TB shape: the whole
  * fit is ONE distributed aggregation ([[VecMomentsAgg]] — a fixed
  * ~17 KB moments buffer per task, cell-wise merge; the corpus is read
  * once and nothing row-sized ever leaves the executors), then a
  * driver-side Jacobi eigensolve of the dim×dim covariance (64×64 —
  * microseconds, the classic "big data, small model" split), then a
  * codegen'd [[ProjectVec]] maps vectors into the top-k component
  * space. Reducing 64→16 dims cuts ANN candidate-scan bytes 4× on top
  * of int8 quantization's 4×, and composes with the same
  * shortlist-then-exact-re-rank discipline as the other ANN routes.
  */
object Pca {

  /** Buffer layout: [count | sum(dim) | upper-triangular ΣxxT]. */
  private[graft] def bufferSize(dim: Int): Int = 1 + dim + dim * (dim + 1) / 2

  private[graft] def add(buf: Array[Double], dim: Int, x: Array[Double]): Unit = {
    buf(0) += 1.0
    var i = 0
    while (i < dim) { buf(1 + i) += x(i); i += 1 }
    var off = 1 + dim
    i = 0
    while (i < dim) {
      var j = i
      while (j < dim) { buf(off) += x(i) * x(j); off += 1; j += 1 }
      i += 1
    }
  }

  /** Mean vector and covariance matrix from a moments buffer. */
  private[graft] def meanCov(buf: Array[Double], dim: Int): (Array[Double], Array[Array[Double]]) = {
    val n = buf(0)
    require(n >= 2.0, s"PCA needs >= 2 rows, saw ${n.toLong}")
    val mean = Array.tabulate(dim)(i => buf(1 + i) / n)
    val cov = Array.ofDim[Double](dim, dim)
    var off = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = buf(off) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        off += 1; j += 1
      }
      i += 1
    }
    (mean, cov)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix — deterministic,
    * O(dim³) per sweep, converges in ~8 sweeps at dim 64. Returns
    * (eigenvalues, eigenvectors as rows), sorted by eigenvalue
    * descending, each vector sign-normalized (largest-|component|
    * positive) so every engine run agrees.
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val dim = m.length
    val a = Array.tabulate(dim, dim)((i, j) => m(i)(j))
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // stable tan(rotation): sign(θ) / (|θ| + sqrt(θ²+1)), never 0
            val sign = if (theta >= 0.0) 1.0 else -1.0
            val t = sign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < dim) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < dim) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until dim).sortBy(i => -a(i)(i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { i =>
      val col = Array.tabulate(dim)(k => v(k)(i))
      val maxIdx = (0 until dim).maxBy(k => math.abs(col(k)))
      if (col(maxIdx) < 0) col.map(-_) else col
    }.toArray
    (values, vectors)
  }

  final case class Model(mean: Array[Double], components: Array[Array[Double]],
      explained: Array[Double]) {
    /** Fraction of total variance the kept components capture. */
    def explainedRatio: Double = {
      val kept = explained.take(components.length).sum
      val total = explained.sum
      if (total <= 0.0) 0.0 else kept / total
    }
  }

  /** Fit from a collected moments buffer (what [[VecMomentsAgg]]
    * returns): eigensolve the covariance, keep the top `k` components.
    * `Model.explained` keeps ALL eigenvalues so the captured-variance
    * ratio is computable.
    */
  def fit(buf: Array[Double], dim: Int, k: Int): Model = {
    require(k >= 1 && k <= dim, s"PCA components k=$k out of range 1..$dim")
    val (mean, cov) = meanCov(buf, dim)
    val (values, vectors) = jacobiEigen(cov)
    Model(mean, vectors.take(k), values)
  }
}

/** The one-pass moments aggregate behind [[Pca.fit]]: count, sum and
  * upper-triangular Σx·xᵀ in a fixed Array[Double] buffer — O(dim²)
  * memory per task regardless of corpus size, merge is element-wise
  * addition, so the shuffle carries one ~17 KB buffer per partition
  * (dim 64). The same mergeable-summary discipline as [[FreqItemsAgg]]
  * and [[CountMinAgg]].
  */
case class VecMomentsAgg(child: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {
  require(dim >= 1, "vector moments need dim >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](Pca.bufferSize(dim))

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val x = new Array[Double](dim)
      val n = math.min(arr.numElements(), dim)
      var i = 0
      while (i < n) { x(i) = VectorExpressions.elementAt(arr, i, elem).toDouble; i += 1 }
      Pca.add(buf, dim, x)
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeDouble(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Double](Pca.bufferSize(dim))
    var i = 0
    while (i < buf.length) { buf(i) = in.readDouble(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): VecMomentsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecMomentsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VecMomentsAgg =
    copy(child = c(0))
}

/** Project a vector into the fitted component space: out_r =
  * (x − mean)·component_r, emitted as array<float> of length k. The
  * model rides in the expression (k·dim doubles ≈ 8 KB at 16×64), one
  * fused loop per row, codegen'd like the other vector kernels.
  */
case class ProjectVec(child: Expression, mean: Array[Double],
    components: Array[Array[Double]]) extends UnaryExpression {
  require(components.nonEmpty && components.forall(_.length == mean.length),
    "projection matrix shape mismatch")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVector(child.dataType, prettyName)
  override def prettyName: String = "graft_pca_project"

  private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType

  def kernel(arr: ArrayData): ArrayData = {
    val dim = math.min(arr.numElements(), mean.length)
    val centered = new Array[Double](mean.length)
    var i = 0
    while (i < dim) {
      centered(i) = VectorExpressions.elementAt(arr, i, elem).toDouble - mean(i)
      i += 1
    }
    val out = new Array[Float](components.length)
    var r = 0
    while (r < components.length) {
      val comp = components(r)
      var dot = 0.0
      var j = 0
      while (j < comp.length) { dot += centered(j) * comp(j); j += 1 }
      out(r) = dot.toFloat
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("projectVec", this, classOf[ProjectVec].getName)
      s"${ev.value} = $ref.kernel($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): ProjectVec =
    copy(child = newChild)
}

/** One-pass per-dimension min/max over a vector column in a fixed
  * 2·dim-float buffer — the affine-quantization table's aggregate. The
  * explode+groupBy alternative shuffles one row per (vector, dimension)
  * — n·dim rows — where this carries one ~0.5 KB buffer per partition;
  * at 100 TB that is the difference between a corpus-sized shuffle and
  * a metadata-sized one. Buffer layout: [mins(dim) | maxs(dim)], merged
  * element-wise; comparisons are IEEE `<`/`>` — exactly what Spark's
  * Min/Max aggregates evaluate per row, so results match the exploded
  * route bit for bit (including keeping the first-seen value among
  * -0.0/0.0 ties; the one divergence is an all-NaN dimension, where
  * Spark would report NaN and the sentinel survives — no graft corpus
  * produces NaN embeddings). Null elements are skipped, as Min/Max skip
  * nulls. Dimensions no input vector reaches (or only null elements
  * do) stay at the (+Inf, -Inf) sentinels; consumers map them to the
  * (0, 0) affine row the old route's sparse collect produced.
  */
case class VecMinMaxAgg(child: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Float]] {
  require(dim >= 1, "vector min/max needs dim >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  private lazy val elem = child.dataType.asInstanceOf[ArrayType].elementType

  override def createAggregationBuffer(): Array[Float] = {
    val buf = new Array[Float](2 * dim)
    java.util.Arrays.fill(buf, 0, dim, Float.PositiveInfinity)
    java.util.Arrays.fill(buf, dim, 2 * dim, Float.NegativeInfinity)
    buf
  }

  private lazy val isFloat = elem == FloatType

  override def update(buf: Array[Float], input: InternalRow): Array[Float] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dim)
      var i = 0
      while (i < n) {
        // a null element carries no value: skip it, as Min/Max skip nulls
        if (!arr.isNullAt(i)) {
          val x = if (isFloat) arr.getFloat(i)
            else VectorExpressions.elementAt(arr, i, elem).toFloat
          if (x < buf(i)) buf(i) = x
          if (x > buf(dim + i)) buf(dim + i) = x
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Float], other: Array[Float]): Array[Float] = {
    var i = 0
    while (i < dim) {
      if (other(i) < buf(i)) buf(i) = other(i)
      if (other(dim + i) > buf(dim + i)) buf(dim + i) = other(dim + i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Float]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Float]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 4)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeFloat(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Float] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Float](2 * dim)
    var i = 0
    while (i < buf.length) { buf(i) = in.readFloat(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): VecMinMaxAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecMinMaxAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): VecMinMaxAgg =
    copy(child = c(0))
}
