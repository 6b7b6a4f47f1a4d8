package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass sketch kernels. The same computations are expressible
  * with Spark's higher-order array functions (transform/aggregate), but
  * those evaluate one interpreted lambda call PER ELEMENT — at 100 TB the
  * sketch kernel runs trillions of times, so it must be one virtual call
  * per ROW with a tight JVM loop inside. Each expression documents the
  * exact arithmetic so the DuckDB oracle can replay it; outputs are
  * bit-identical to the lambda formulations they replace.
  */
object SketchExprs {

  private def toDouble(arr: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case LongType => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  /** The two-array kernel shape: null-safe, and ONE virtual
    * `compute(a, b)` call per row both when interpreted and in
    * generated code (`refName` labels the generated reference). */
  sealed trait ArrayPairKernel extends BinaryExpression {
    protected def refName: String
    protected def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj(refName, this)
      defineCodeGen(ctx, ev, (a, b) => s"$ref.compute($a, $b)")
    }
  }

  /** [[ArrayPairKernel]] with a DOUBLE result; `compute` keeps the
    * primitive signature the generated code calls. */
  sealed trait DoublePairKernel extends ArrayPairKernel {
    override def dataType: DataType = DoubleType
    def compute(a: ArrayData, b: ArrayData): Double
    override protected def nullSafeEval(l: Any, r: Any): Any =
      compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  /** [[ArrayPairKernel]] with a BIGINT result. */
  sealed trait LongPairKernel extends ArrayPairKernel {
    override def dataType: DataType = LongType
    def compute(a: ArrayData, b: ArrayData): Long
    override protected def nullSafeEval(l: Any, r: Any): Any =
      compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  /** cos(a, b) with three independent left-fold accumulators
    * (dot, ‖a‖², ‖b‖²) — the identical IEEE op sequence as three separate
    * `aggregate(zip_with(...))` folds, so values match the declarative
    * form bit-for-bit.
    */
  case class CosineSim(left: Expression, right: Expression)
      extends DoublePairKernel {
    protected def refName = "cosKernel"
    def compute(a: ArrayData, b: ArrayData): Double = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = toDouble(a, ta, i); val y = toDouble(b, tb, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Squared Euclidean distance ‖a−b‖² evaluated as
    * ‖a‖² − 2⟨a,b⟩ + ‖b‖² with three independent left-fold
    * accumulators and the exact combine order `(na − 2·dot) + nb` —
    * bit-identical to three separate `aggregate(zip_with(...))` folds
    * combined the same way (the form the DuckDB oracle replays), but
    * one virtual call per pair instead of three interpreted lambda
    * folds (the q462 TwoNN fix: 182 s → scan-speed at sf0.1).
    */
  case class SqEuclidean(left: Expression, right: Expression)
      extends DoublePairKernel {
    protected def refName = "sqeucKernel"
    def compute(a: ArrayData, b: ArrayData): Double = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(a.numElements(), b.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = toDouble(a, ta, i); val y = toDouble(b, tb, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      na - 2.0 * dot + nb
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Word n-gram shingles ("w1 w2 w3") in one pass: trim, whitespace-split
    * (identical semantics to split(trim(text), "\\s+")), join consecutive
    * n-tuples with single spaces. Replaces a per-index
    * transform/element_at/concat_ws lambda pipeline (~tokens interpreted
    * calls per row) with one virtual call per row.
    */
  case class Shingles(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    private val ws = java.util.regex.Pattern.compile("\\s+")
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shinglesKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    def compute(input: UTF8String): ArrayData = {
      val toks = ws.split(input.toString.trim, -1)
      val count = toks.length - (n - 1)
      if (count < 1) new GenericArrayData(Array.empty[Any])
      else {
        val out = new Array[Any](count)
        var i = 0
        while (i < count) {
          val sb = new java.lang.StringBuilder(toks(i))
          var k = 1
          while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
          out(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        new GenericArrayData(out)
      }
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** MinHash signature from an array of shingle STRINGS, one pass:
    * h = PolyHash(shingle) (mult 131 mod 2^31−1), then for every
    * permutation p: sig[p] = min over shingles of (h·a_p + b_p) mod M,
    * with a_p/b_p from the LCG in graft.dedup.Dedup. Empty input → all M.
    */
  case class MinHashSig(child: Expression, perms: Int, mult: Long, mod: Long,
      permA: Array[Long], permB: Array[Long])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhashKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    def compute(arr: ArrayData): ArrayData = {
      val sig = Array.fill(perms)(mod)
      var s = 0
      while (s < arr.numElements()) {
        val h = PolyHashImpl.hash(arr.getUTF8String(s), mult, mod)
        var p = 0
        while (p < perms) {
          val v = (h * permA(p) + permB(p)) % mod
          if (v < sig(p)) sig(p) = v
          p += 1
        }
        s += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** SimHash from an array of token strings, one pass: per token
    * h = PolyHash(token); votes[b] += (bit b of h set ? +1 : −1);
    * output bit b set iff votes[b] > 0. Order-independent (integer sums).
    */
  case class SimHash64(child: Expression, bits: Int, mult: Long, mod: Long)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhashKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    def compute(arr: ArrayData): Long = {
      val votes = new Array[Long](bits)
      var t = 0
      while (t < arr.numElements()) {
        val h = PolyHashImpl.hash(arr.getUTF8String(t), mult, mod)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
        t += 1
      }
      var out = 0L
      var b = 0
      while (b < bits) {
        if (votes(b) > 0) out |= (1L << b)
        b += 1
      }
      out
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Random-hyperplane signature, one pass over planes×dims with plane
    * components from the LCG in graft.sim.Similarity.planeComponent —
    * same per-plane left-fold projection order as the lambda form.
    */
  case class HyperplaneSig(child: Expression, planes: Int, dims: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hyperplaneKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    def compute(v: ArrayData): Long = {
      val et = elemType
      val n = math.min(v.numElements(), dims)
      var sig = 0L
      var p = 0
      while (p < planes) {
        var proj = 0.0
        var i = 0
        while (i < n) {
          proj += toDouble(v, et, i) * graft.sim.Similarity.planeComponent(p, i, dims)
          i += 1
        }
        if (proj > 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Streaming squared L2 between elements [off, off+entry.length) of `v`
    * and a codebook entry — EXACTLY the `aggregate(zip_with(...))`
    * left-fold op order the PQ oracle replays: d = x − y (double), acc +=
    * d·d in element order from a 0.0 seed. Shared by [[PqEncode]] and
    * [[PqDistTable]] so the encode-side and query-side distances cannot
    * drift. */
  private def sqDistSlice(
      v: ArrayData, et: DataType, off: Int, entry: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < entry.length) {
      val d = toDouble(v, et, off + i) - entry(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** PQ-encode one vector against a literal codebook
    * ([subspace][code][dim]): codes[m] = argmin_k sqDist(slice_m, entry
    * (m,k)) with ties to the SMALLEST k — the identical (dist, k)
    * struct-min contract as the lambda form it replaces, which cost
    * subspaces × codebookSize interpreted fold evaluations per row
    * (~1k lambda calls/row at 8×16); this is one virtual call per row.
    */
  case class PqEncode(child: Expression, entries: Array[Array[Array[Float]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqEncodeKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    def compute(v: ArrayData): ArrayData = {
      val et = elemType
      val subspaces = entries.length
      val sub = entries(0)(0).length
      require(v.numElements() >= subspaces * sub,
        s"vector has ${v.numElements()} elements, model needs ${subspaces * sub}")
      val out = new Array[Any](subspaces)
      var m = 0
      while (m < subspaces) {
        val cb = entries(m)
        var bestD = Double.PositiveInfinity
        var bestK = 0
        var k = 0
        while (k < cb.length) {
          val d = sqDistSlice(v, et, m * sub, cb(k))
          if (d < bestD) { bestD = d; bestK = k }
          k += 1
        }
        out(m) = bestK
        m += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Per-query ADC distance table against a literal codebook: qd[m][k] =
    * sqDist(slice_m, entry(m,k)) — same [[sqDistSlice]] contract as
    * [[PqEncode]], one virtual call per query row. */
  case class PqDistTable(child: Expression, entries: Array[Array[Array[Float]]])
      extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqDistTableKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    def compute(v: ArrayData): ArrayData = {
      val et = elemType
      val subspaces = entries.length
      val sub = entries(0)(0).length
      require(v.numElements() >= subspaces * sub,
        s"vector has ${v.numElements()} elements, model needs ${subspaces * sub}")
      val out = new Array[Any](subspaces)
      var m = 0
      while (m < subspaces) {
        val cb = entries(m)
        val row = new Array[Any](cb.length)
        var k = 0
        while (k < cb.length) {
          row(k) = sqDistSlice(v, et, m * sub, cb(k))
          k += 1
        }
        out(m) = new GenericArrayData(row)
        m += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** might-contain probe against a serialized
    * org.apache.spark.util.sketch.BloomFilter (Spark's own sketch, built
    * with DataFrameStatFunctions.bloomFilter). The bits ride the plan as
    * a reference object (broadcast with the closure); the probe is one
    * virtual call per row inside WholeStageCodegen. No false negatives —
    * callers use it as an EXACT prefilter (definitely-absent rows skip
    * downstream work; maybe-present rows get verified exactly).
    */
  case class BloomMightContainLong(child: Expression, bits: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    @transient private lazy val bf =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bits))
    override protected def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[Long])
    def compute(v: Long): Boolean = bf.mightContainLong(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomKernel", this)
      defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Integer squared Euclidean distance Σ(aᵢ−bᵢ)² over LONG arrays —
    * the quantized-embedding audit kernel (q344/q335 family). Pure
    * 64-bit integer math: associative and overflow-free for the
    * quantized ranges here (|v| ≤ ~10³ per element × 64 dims ≪ 2⁶³),
    * so it matches DuckDB's `list_sum(list_transform(...))` exactly in
    * ANY fold order — one virtual call per pair instead of an
    * interpreted per-element lambda fold (the q462 lesson applied to
    * the integer faces). */
  /** Contract guard shared by the pairwise kernels: the declarative
    * `aggregate(zip_with(a, b, ...))` folds these kernels replace
    * return NULL on ragged lengths or null elements — a primitive
    * kernel cannot, so it must FAIL LOUDLY rather than read garbage
    * through ArrayData primitive getters and silently diverge from
    * the oracle. The corpus contracts here guarantee dense equal-rank
    * vectors; this guard is the tripwire for when they stop holding. */
  private def requireDensePair(a: ArrayData, b: ArrayData,
      kernel: String): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"$kernel: ragged arrays (${a.numElements()} vs ${b.numElements()})" +
        " — the zip_with fold this kernel replaces would return NULL")
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) throw new IllegalArgumentException(
        s"$kernel: null element at index $i — the zip_with fold this" +
          " kernel replaces would return NULL")
      i += 1
    }
    n
  }

  private def toLong(arr: ArrayData, et: DataType, i: Int): Long = et match {
    case LongType => arr.getLong(i)
    case IntegerType => arr.getInt(i).toLong
    case ShortType => arr.getShort(i).toLong
    case ByteType => arr.getByte(i).toLong
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  /** Squared Euclidean distance as the DIRECT difference left-fold
    * acc + (xᵢ−yᵢ)·(xᵢ−yᵢ) over double-cast elements — the exact IEEE
    * op sequence of `aggregate(zip_with(a, b, (x,y) => (x−y)·(x−y)),
    * 0.0, (acc,v) => acc+v)` (the q1086 oracle's list_reduce replay),
    * which is NOT bit-identical to [[SqEuclidean]]'s expanded
    * ‖a‖²−2⟨a,b⟩+‖b‖² form. Min-length semantics on ragged arrays
    * like [[SqEuclidean]] (the callers here have dense equal-rank
    * embeddings); one virtual call per pair instead of an interpreted
    * lambda per element. */
  case class SqEuclideanDiff(left: Expression, right: Expression)
      extends DoublePairKernel {
    protected def refName = "sqeucDiffKernel"
    def compute(a: ArrayData, b: ArrayData): Double = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = toDouble(a, ta, i) - toDouble(b, tb, i)
        acc += d * d
        i += 1
      }
      acc
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  case class SqEuclideanLong(left: Expression, right: Expression)
      extends LongPairKernel {
    protected def refName = "sqeucLongKernel"
    def compute(a: ArrayData, b: ArrayData): Long = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = requireDensePair(a, b, "SqEuclideanLong")
      var s = 0L
      var i = 0
      while (i < n) {
        val d = toLong(a, ta, i) - toLong(b, tb, i)
        s += d * d
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Integer dot product Σ aᵢ·bᵢ over integer-typed arrays — exact
    * 64-bit math (caller guarantees no overflow; the milli-quantized
    * faces here stay ≪ 2⁶³), so it equals the `aggregate(zip_with(a,
    * b, x·y), 0L, +)` lambda fold in any order. One virtual call per
    * pair. */
  case class DotLong(left: Expression, right: Expression)
      extends LongPairKernel {
    protected def refName = "dotLongKernel"
    def compute(a: ArrayData, b: ArrayData): Long = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = requireDensePair(a, b, "DotLong")
      var s = 0L
      var i = 0
      while (i < n) {
        s += toLong(a, ta, i) * toLong(b, tb, i)
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Double dot product with the exact left-fold IEEE op sequence of
    * `aggregate(zip_with(a, b, x·y), 0.0, +)` — products in element
    * order, one running accumulator — so values are bit-identical to
    * the lambda formulation it replaces. */
  case class DotDouble(left: Expression, right: Expression)
      extends DoublePairKernel {
    protected def refName = "dotDoubleKernel"
    def compute(a: ArrayData, b: ArrayData): Double = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = requireDensePair(a, b, "DotDouble")
      var s = 0.0
      var i = 0
      while (i < n) {
        s += toDouble(a, ta, i) * toDouble(b, tb, i)
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Count of positions where two integer-typed arrays agree — the
    * MinHash-signature agreement kernel (estimated Jaccard numerator).
    * Exact integer count, any fold order. */
  case class ArrayAgreeCount(left: Expression, right: Expression)
      extends LongPairKernel {
    protected def refName = "agreeKernel"
    def compute(a: ArrayData, b: ArrayData): Long = {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = requireDensePair(a, b, "ArrayAgreeCount")
      var s = 0L
      var i = 0
      while (i < n) {
        if (toLong(a, ta, i) == toLong(b, tb, i)) s += 1L
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  // Column-level wrappers
  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(text), n))

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sqEuclidean(a: Column, b: Column): Column =
    ColumnBridge.column(SqEuclidean(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Double Σ(aᵢ−bᵢ)² in index order (the direct-difference fold, NOT
    * the expanded-norm [[sqEuclidean]]). */
  def sqEuclideanDiff(a: Column, b: Column): Column =
    ColumnBridge.column(SqEuclideanDiff(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Integer Σ(aᵢ−bᵢ)². THROWS on ragged arrays or null elements
    * (unlike the `aggregate(zip_with(...))` fold it replaces, which
    * yields NULL) — callers with legitimately nullable/ragged
    * embedding columns must pre-filter; the throw is a deliberate
    * tripwire for a violated dense-equal-rank corpus contract. */
  def sqEuclideanLong(a: Column, b: Column): Column =
    ColumnBridge.column(SqEuclideanLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Integer ⟨a,b⟩. Same throw-on-ragged/null contract as
    * [[sqEuclideanLong]] — NOT the NULL semantics of a zip_with fold. */
  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(DotLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Double ⟨a,b⟩ in index order. Same throw-on-ragged/null contract
    * as [[sqEuclideanLong]] — NOT the NULL semantics of a zip_with
    * fold. */
  def dotDouble(a: Column, b: Column): Column =
    ColumnBridge.column(DotDouble(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Count of agreeing positions. Same throw-on-ragged/null contract
    * as [[sqEuclideanLong]] — NOT the NULL semantics of a zip_with
    * fold. */
  def arrayAgreeCount(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayAgreeCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minHashSig(shingles: Column, perms: Int, mult: Long, mod: Long,
      permA: Array[Long], permB: Array[Long]): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), perms, mult, mod, permA, permB))

  def simHash64(tokens: Column, bits: Int, mult: Long, mod: Long): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens), bits, mult, mod))

  def hyperplaneSig(vec: Column, planes: Int, dims: Int): Column =
    ColumnBridge.column(HyperplaneSig(ColumnBridge.expression(vec), planes, dims))

  def bloomMightContainLong(v: Column, bits: Array[Byte]): Column =
    ColumnBridge.column(BloomMightContainLong(ColumnBridge.expression(v), bits))

  def pqEncode(vec: Column, entries: Array[Array[Array[Float]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), entries))

  def pqDistTable(vec: Column, entries: Array[Array[Array[Float]]]): Column =
    ColumnBridge.column(PqDistTable(ColumnBridge.expression(vec), entries))
}
