package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row repetition statistics over a token array, as ONE codegen'd
  * native expression: struct(n_distinct, top_token_c, top_bigram_c) —
  * the distinct-token count, the max single-token multiplicity, and the
  * max adjacent-bigram multiplicity (x13's Gopher-style signals).
  *
  * Why not higher-order functions: `aggregate()`/`array_sort` have no
  * doGenCode — every fold step walks an interpreted expression tree per
  * element, and the two-sort-two-fold formulation measured 1.6 s at
  * sf0.1 against 0.5 s for the shuffle-aggregate draft it replaced
  * (the X13Probe main, deleted after commit 85d5524, where
  * `git show 85d5524:src/main/scala/graft/experiment/X13Probe.scala`
  * recovers it). This expression keeps x13's map-only, zero-shuffle plan
  * shape AND compiles to a single static call per row: sort the token
  * refs once, scan runs; sort the n-1 bigram START INDEES with a
  * two-position comparator (no bigram strings are materialized), scan
  * runs. O(n log n) comparisons per doc, one UTF8String[] copy, nothing
  * crosses the wire.
  *
  * Null array elements are not expected (`split()` output) and compare
  * as smallest, keeping the sort total rather than throwing.
  */
case class TokenRepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_token_c", LongType, nullable = false),
    StructField("top_bigram_c", LongType, nullable = false)))

  override def prettyName: String = "token_repetition_stats"

  override protected def nullSafeEval(input: Any): Any =
    TokenRepetitionStats.kernel(input.asInstanceOf[ArrayData])

  // The static kernel must NOT be named `eval`: the case class inherits
  // eval(InternalRow) from Expression, which suppresses the companion's
  // static forwarder of the same name, so generated Java calling
  // TokenRepetitionStats.eval(ArrayData) failed Janino resolution and the
  // whole stage silently fell back to interpreted execution.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.TokenRepetitionStats.kernel($a)")

  override protected def withNewChildInternal(newChild: Expression): TokenRepetitionStats =
    copy(child = newChild)
}

object TokenRepetitionStats {

  private def cmp(a: UTF8String, b: UTF8String): Int =
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.compareTo(b)

  /** Static kernel the generated code calls — one virtual-free entry
    * point, no interpreter tree-walk per element.
    */
  def kernel(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }

    // Tokens: sort a copy, scan runs.
    val sorted = toks.clone()
    java.util.Arrays.sort(sorted, (a: UTF8String, b: UTF8String) => cmp(a, b))
    var nDistinct = 0L
    var topTok = 0L
    var run = 0L
    i = 0
    while (i < n) {
      if (i == 0 || cmp(sorted(i), sorted(i - 1)) != 0) { nDistinct += 1; run = 1L }
      else run += 1L
      if (run > topTok) topTok = run
      i += 1
    }

    // Bigrams: sort the n-1 start indices by (toks(i), toks(i+1)) — no
    // concatenated strings — then scan runs over pair equality.
    var topBg = 0L
    if (n >= 2) {
      val idx = new Array[Integer](n - 1)
      i = 0
      while (i < n - 1) { idx(i) = Integer.valueOf(i); i += 1 }
      java.util.Arrays.sort(idx, (x: Integer, y: Integer) => {
        val c1 = cmp(toks(x), toks(y))
        if (c1 != 0) c1 else cmp(toks(x + 1), toks(y + 1))
      })
      run = 0L
      i = 0
      while (i < n - 1) {
        val same = i > 0 &&
          cmp(toks(idx(i)), toks(idx(i - 1))) == 0 &&
          cmp(toks(idx(i) + 1), toks(idx(i - 1) + 1)) == 0
        run = if (same) run + 1L else 1L
        if (run > topBg) topBg = run
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nDistinct, topTok, topBg))
  }
}
