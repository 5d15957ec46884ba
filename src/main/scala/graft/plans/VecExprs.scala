package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the vector hot paths.
  *
  * Spark's higher-order functions (`zip_with`/`aggregate`) are interpreted
  * per element and break whole-stage codegen; the brute-force cosine scan
  * (SURVEY §2 A3/C1/B5) is exactly the kind of tight per-row loop that wants
  * generated code. `CosineSim` emits a single fused loop; `HashEmbed` is the
  * deterministic feature-hashing embedder standing in for the reference's
  * transformer model (reference: src/embeddings.ts:62-67 — mean-pooled,
  * L2-normalized; ours is hash-bucketed, L2-normalized, same output shape).
  */
object VecExprs {

  /** Cosine similarity over two float/double array columns, computed in
    * double, reference formula `dot / (||a||·||b|| + 1e-10)` over the common
    * prefix length (reference: src/embeddings.ts:77-92).
    */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = left.nullable || right.nullable

    private def getter(e: Expression, arr: String, i: String): String =
      e.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case DoubleType => s"$arr.getDouble($i)"
        case other => throw new IllegalArgumentException(s"CosineSim: unsupported element type $other")
      }

    private def get(e: Expression, arr: ArrayData, i: Int): Double =
      e.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => arr.getFloat(i).toDouble
        case DoubleType => arr.getDouble(i)
        case other => throw new IllegalArgumentException(s"CosineSim: unsupported element type $other")
      }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = get(left, x, i); val yi = get(right, y, i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb) + 1e-10)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = ${getter(left, x, i)};
           |  double $yi = ${getter(right, y, i)};
           |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb) + 1e-10);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Plain inner product over two float/double array columns (no
    * normalization) — the primitive PQ assignment and ADC scoring need;
    * same fused-loop codegen as CosineSim.
    */
  case class DotProd(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = left.nullable || right.nullable

    private def getter(e: Expression, arr: String, i: String): String =
      e.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case DoubleType => s"$arr.getDouble($i)"
        case other => throw new IllegalArgumentException(s"DotProd: unsupported element type $other")
      }

    private def get(e: Expression, arr: ArrayData, i: Int): Double =
      e.dataType.asInstanceOf[ArrayType].elementType match {
        case FloatType => arr.getFloat(i).toDouble
        case DoubleType => arr.getDouble(i)
        case other => throw new IllegalArgumentException(s"DotProd: unsupported element type $other")
      }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += get(left, x, i) * get(right, y, i); i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += ${getter(left, x, i)} * ${getter(right, y, i)};
           |}
           |${ev.value} = $dot;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Nearest-centroid argmax over an embedded codebook. The codebook rides
    * as a reference object in the compiled plan (ctx.addReferenceObj), NOT
    * as a tree of array literals — a 16×64 codebook as literals is >1000
    * nodes that Janino recompiles every k-means iteration (the books change
    * each round); as a reference it is one static call whose code never
    * changes.
    */
  def centroidAssignEval(arr: ArrayData, cents: Array[Array[Double]],
                         useCosine: Boolean): Int = {
    val n = arr.numElements()
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val m = math.min(n, cent.length)
      var dot = 0.0; var na = 0.0; var nc = 0.0
      var i = 0
      while (i < m) {
        val x = arr.getDouble(i)
        dot += x * cent(i); na += x * x; nc += cent(i) * cent(i)
        i += 1
      }
      // cosine for IVF (matches the probe metric); ⟨x,c⟩ − ‖c‖²/2 ≡ argmin-L2 for PQ
      val score = if (useCosine) dot / (math.sqrt(na) * math.sqrt(nc) + 1e-10)
                  else dot - nc / 2.0
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** Same, dispatching to a per-subspace codebook by the row's subspace id. */
  def pqAssignEval(arr: ArrayData, j: Int, books: Array[Array[Array[Double]]]): Int =
    centroidAssignEval(arr, books(j), false)

  /** y = M·x over a double-array column — the learned-rotation primitive
    * (OPQ's scan-side step). Same reference-object discipline as the
    * codebooks: a dim×dim matrix as literals would be thousands of nodes
    * recompiled every alternation round.
    */
  def matVecEval(arr: ArrayData, m: Array[Array[Double]]): ArrayData = {
    val out = new Array[Double](m.length)
    var r = 0
    while (r < m.length) {
      val row = m(r)
      val n = math.min(arr.numElements(), row.length)
      var s = 0.0; var i = 0
      while (i < n) { s += row(i) * arr.getDouble(i); i += 1 }
      out(r) = s
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class MatVec(child: Expression, mat: IndexedSeq[IndexedSeq[Double]])
      extends UnaryExpression {
    @transient private lazy val matArr: Array[Array[Double]] =
      mat.map(_.toArray).toArray
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      matVecEval(input.asInstanceOf[ArrayData], matArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("rotMat", matArr, "double[][]")
      defineCodeGen(ctx, ev, c => s"graft.plans.VecExprs.matVecEval($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** argmax-cosine (or argmin-L2) centroid id over a double-array column.
    * The codebook field is an IndexedSeq (structural equality) so two
    * expressions from content-equal codebooks canonicalize equal —
    * case-class equality on a raw Array is by reference, which defeats
    * CSE/exchange reuse (the r12 ADVICE trap on BpeTokens); the eval and
    * generated code still run on a cached primitive array.
    */
  case class CentroidAssign(child: Expression, cents: IndexedSeq[IndexedSeq[Double]],
                            useCosine: Boolean) extends UnaryExpression {
    @transient private lazy val centsArr: Array[Array[Double]] =
      cents.map(_.toArray).toArray
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      centroidAssignEval(input.asInstanceOf[ArrayData], centsArr, useCosine)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cents", centsArr, "double[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.plans.VecExprs.centroidAssignEval($c, $ref, $useCosine)")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Cosine of a vector against centroid `cid` of an embedded codebook —
    * the companion of [[CentroidAssign]] for consumers that need the
    * similarity itself (SemDeDup's keeper rule). Same discipline: the
    * codebook is a compiled-plan reference object, never a literal matrix
    * — a corpus-derived k (thousands of centroids at scale) as a typedlit
    * would bloat every serialized task with the k×dim array tree.
    */
  def centroidSimEval(arr: ArrayData, cid: Int, cents: Array[Array[Double]]): Double = {
    if (cid < 0 || cid >= cents.length) return 0.0
    val cent = cents(cid)
    val m = math.min(arr.numElements(), cent.length)
    var dot = 0.0; var na = 0.0; var nc = 0.0
    var i = 0
    while (i < m) {
      val x = arr.getDouble(i)
      dot += x * cent(i); na += x * x; nc += cent(i) * cent(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nc) + 1e-10)
  }

  /** cosine(vec, cents(cid)) over a double-array column + centroid-id
    * column. IndexedSeq codebook field for the same canonicalization
    * reason as [[CentroidAssign]].
    */
  case class CentroidSim(left: Expression, right: Expression,
                         cents: IndexedSeq[IndexedSeq[Double]]) extends BinaryExpression {
    @transient private lazy val centsArr: Array[Array[Double]] =
      cents.map(_.toArray).toArray
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any, cid: Any): Any =
      centroidSimEval(v.asInstanceOf[ArrayData], cid.asInstanceOf[Int], centsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simCents", centsArr, "double[][]")
      defineCodeGen(ctx, ev,
        (v, cid) => s"graft.plans.VecExprs.centroidSimEval($v, $cid, $ref)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Per-subspace argmin-L2 centroid id: (subvector, subspace id) → code.
    * IndexedSeq codebook field for the same canonicalization reason as
    * [[CentroidAssign]].
    */
  case class PqAssign(left: Expression, right: Expression,
                      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) extends BinaryExpression {
    @transient private lazy val booksArr: Array[Array[Array[Double]]] =
      books.map(_.map(_.toArray).toArray).toArray
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any, j: Any): Any =
      pqAssignEval(v.asInstanceOf[ArrayData], j.asInstanceOf[Int], booksArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqBooks", booksArr, "double[][][]")
      defineCodeGen(ctx, ev,
        (v, j) => s"graft.plans.VecExprs.pqAssignEval($v, $j, $ref)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Column builders for the codebook expressions (no registry needed —
    * codebooks aren't SQL-literal-able anyway).
    */
  def centroidAssign(vec: Column, cents: Array[Array[Double]], useCosine: Boolean): Column =
    toColumn(CentroidAssign(toExpr(vec),
      cents.map(_.toIndexedSeq).toIndexedSeq, useCosine))
  def centroidSim(vec: Column, cid: Column, cents: Array[Array[Double]]): Column =
    toColumn(CentroidSim(toExpr(vec), toExpr(cid),
      cents.map(_.toIndexedSeq).toIndexedSeq))
  def pqAssign(sub: Column, j: Column, books: Array[Array[Array[Double]]]): Column =
    toColumn(PqAssign(toExpr(sub), toExpr(j),
      books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
  def matVec(vec: Column, m: Array[Array[Double]]): Column =
    toColumn(MatVec(toExpr(vec), m.map(_.toIndexedSeq).toIndexedSeq))

  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)
  private def toColumn(e: Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  /** The embedder algorithm, callable from plain Scala (driver-side query
    * embedding in the `Graft` facade) and from the Catalyst expression below.
    */
  object HashEmbedAlg {
    def embed(s: String, dim: Int): Array[Double] = {
      val v = new Array[Double](dim)
      var start = 0
      val len = s.length
      var i = 0
      while (i <= len) {
        if (i == len || s.charAt(i) == ' ') {
          if (i > start) { // non-empty token [start, i)
            var h = 0L
            var j = start
            while (j < i) { h = (h * 31L + s.charAt(j).toLong) % 1000000007L; j += 1 }
            val bucket = (h % dim).toInt
            val sign = if ((h / dim) % 2 == 0) 1.0 else -1.0
            v(bucket) += sign
          }
          start = i + 1
        }
        i += 1
      }
      var ss = 0.0
      var k = 0
      while (k < dim) { ss += v(k) * v(k); k += 1 }
      val norm = math.sqrt(ss) + 1e-10
      val out = new Array[Double](dim)
      k = 0
      while (k < dim) { out(k) = v(k) / norm; k += 1 }
      out
    }
  }

  /** Static evaluators for generated code (Scala object = static forwarders). */
  def hashEmbedEval(input: UTF8String, dim: Int): ArrayData =
    new GenericArrayData(HashEmbedAlg.embed(input.toString, dim))

  def lshBucketEval(arr: ArrayData, planes: Int, isFloat: Boolean): Long = {
    val n = arr.numElements()
    var bucket = 0L
    var j = 0
    while (j < planes) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        val w = ((j.toLong * 2654435761L + d.toLong * 40503L) % 9973L - 4986L).toDouble
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        dot += w * x
        d += 1
      }
      if (dot >= 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** Deterministic feature-hash embedder: whitespace tokens → polynomial
    * char hash `h = (h*31 + codepoint) mod 1e9+7` → bucket `h mod dim` with
    * sign from `(h div dim) mod 2` → L2-normalized dense vector. The exact
    * recurrence is reproducible in ANSI SQL, making the embedding pipeline
    * oracle-checkable end to end (unlike the reference's opaque model).
    */
  case class HashEmbed(child: Expression, dim: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def nullSafeEval(input: Any): Any =
      hashEmbedEval(input.asInstanceOf[UTF8String], dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.VecExprs.hashEmbedEval($c, $dim)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Deterministic random-hyperplane LSH bucket — same integer hyperplane
    * family as `Vec.lshBucket` / the DuckDB oracle, in one JVM loop:
    * plane j weight at dim d = ((j·2654435761 + d·40503) mod 9973) − 4986.
    */
  case class LshBucket(child: Expression, planes: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    private def isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(lshBucketEval(input.asInstanceOf[ArrayData], planes, isFloat))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.VecExprs.lshBucketEval($c, $planes, $isFloat)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Column API: built straight from the expressions, so no session needs
    * the `graft_*` SQL functions installed.
    */
  def cosineSim(a: Column, b: Column): Column = toColumn(CosineSim(toExpr(a), toExpr(b)))
  def hashEmbed(text: Column, dim: Int): Column = toColumn(HashEmbed(toExpr(text), dim))
  def lshBucket(emb: Column, planes: Int): Column = toColumn(LshBucket(toExpr(emb), planes))
  def dotProd(a: Column, b: Column): Column = toColumn(DotProd(toExpr(a), toExpr(b)))
}
