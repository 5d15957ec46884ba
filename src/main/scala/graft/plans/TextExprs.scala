package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-loop expressions for the hashing-heavy dedup paths.
  *
  * The same polynomial recurrences as `graft.functions.Text` (and the DuckDB
  * oracle SQL), but evaluated in a single tight loop per row instead of
  * per-element interpreted Catalyst lambdas — the minhash/simhash pipelines
  * spend their time here, and the interpreted HOF versions were 10-30× the
  * cost at sf0.1. Semantics are locked to the SQL spec:
  * `h = (h*31 + codepoint) mod 1e9+7` folded over chars; shingles are the
  * space-joined k-gram strings.
  *
  * Each expression implements `doGenCode` as a call to the static evaluator
  * below (Scala top-level objects emit static forwarders), so the
  * surrounding operators stay inside one WholeStageCodegen span — no
  * CodegenFallback row materialization on the hot path.
  */
object TextExprs {
  val P = 1000000007L

  private def tokenSpans(s: String): Array[Int] = {
    // flattened (start, end) pairs to keep the hot loops allocation-light
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    var start = 0
    var i = 0
    val n = s.length
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) { out += start; out += i }
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  // ---- static evaluators (shared by interpreted eval and generated code) ----

  def tokenCodesEval(input: UTF8String, mult: Long): ArrayData = {
    val s = input.toString
    val spans = tokenSpans(s)
    val nTok = spans.length / 2
    val out = new Array[Long](nTok)
    var t = 0
    while (t < nTok) {
      val a = spans(2 * t); val b = spans(2 * t + 1)
      var h = 0L
      var j = a
      while (j < b) { h = (h * mult + s.charAt(j).toLong) % P; j += 1 }
      out(t) = h; t += 1
    }
    new GenericArrayData(out)
  }

  def shingleCodesEval(input: UTF8String, k: Int): ArrayData = {
    val s = input.toString
    val spans = tokenSpans(s)
    val nTok = spans.length / 2
    val n = nTok - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var g = 0
      while (g < k) {
        if (g > 0) h = (h * 31L + ' '.toLong) % P
        val a = spans(2 * (i + g)); val b = spans(2 * (i + g) + 1)
        var j = a
        while (j < b) { h = (h * 31L + s.charAt(j).toLong) % P; j += 1 }
        g += 1
      }
      out(i) = h; i += 1
    }
    new GenericArrayData(out)
  }

  def minHashSigEval(input: ArrayData, numHashes: Int): ArrayData = {
    val xs = input.toLongArray()
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = 40503L * i + 11L
      val b = 19349663L * i
      var m = Long.MaxValue
      var j = 0
      while (j < xs.length) {
        val v = (xs(j) * a + b) % P
        if (v < m) m = v
        j += 1
      }
      out(i) = m; i += 1
    }
    new GenericArrayData(out)
  }

  def simHashEval(input: ArrayData, bits: Int): Long = {
    val xs = input.toLongArray()
    var sim = 0L
    var b = 0
    while (b < bits) {
      var cnt = 0L
      var j = 0
      while (j < xs.length) {
        cnt += ((xs(j) >> b) & 1L) * 2L - 1L
        j += 1
      }
      if (cnt > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  def jaccardSortedEval(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toLongArray()
    val ys = b.toLongArray()
    var i = 0; var j = 0; var inter = 0
    while (i < xs.length && j < ys.length) {
      if (xs(i) == ys(j)) { inter += 1; i += 1; j += 1 }
      else if (xs(i) < ys(j)) i += 1
      else j += 1
    }
    val uni = xs.length + ys.length - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  // ---- expressions ----

  /** Polynomial codes of whitespace tokens → array<long>. The multiplier
    * parameterizes the hash family (31 and 37 give independent codes for the
    * wide simhash).
    */
  case class TokenCodes(child: Expression, mult: Long) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      tokenCodesEval(input.asInstanceOf[UTF8String], mult)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.tokenCodesEval($c, ${mult}L)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Polynomial codes of space-joined k-gram shingles → array<long>
    * (order-preserving, not distinct — callers dedup).
    */
  case class ShingleCodes(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      shingleCodesEval(input.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.shingleCodesEval($c, $k)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature over an array<long> of codes:
    * sig_i = min_x (x·(40503·i+11) + 19349663·i) mod p, i ∈ [0, n).
    */
  case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      minHashSigEval(input.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.minHashSigEval($c, $numHashes)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** SimHash over an array<long> of token codes: bit b set iff
    * Σ_x(((x >> b) & 1)·2 − 1) > 0, b ∈ [0, bits).
    */
  case class SimHash(child: Expression, bits: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simHashEval(input.asInstanceOf[ArrayData], bits))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.simHashEval($c, $bits)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Exact Jaccard over two SORTED distinct long arrays — two-pointer
    * intersection, |∩| / (|a|+|b|−|∩|). Callers sort once per row
    * (`sort_array`), so each candidate pair costs O(|a|+|b|) with no
    * allocation — replaces interpreted `array_intersect` in the dedup
    * verification joins.
    */
  case class JaccardSorted(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      jaccardSortedEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.plans.TextExprs.jaccardSortedEval($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Column API: built straight from the expressions, so no session needs
    * the `graft_*` SQL functions installed.
    */
  def tokenCodes(text: Column, mult: Int = 31): Column =
    column(TokenCodes(expression(text), mult.toLong))
  def shingleCodes(text: Column, k: Int): Column = column(ShingleCodes(expression(text), k))
  def minHashSig(codes: Column, n: Int): Column = column(MinHashSig(expression(codes), n))
  def simHash(codes: Column, bits: Int): Column = column(SimHash(expression(codes), bits))
  def jaccardSorted(a: Column, b: Column): Column =
    column(JaccardSorted(expression(a), expression(b)))
}
