package graft.plans

import graft.functions.{AdcLookupSum, LongSqDist, MinHash8, MisraGries, ModProjAll, SimHash32Agg, SortedLongIntersectCount, Sq8Dist, TokenRepetitionStats, TopKPairs, VecDot}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** SQL surface for the library's native Catalyst kernels. Enable with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (cluster config) or
  * `withExtensions(new GraftExtensions)` on a session builder — after
  * which `spark.sql` users reach the same codegen'd/Tungsten operators
  * the DataFrame surface uses internally:
  *
  *   - `sorted_intersect_count(a, b)` — intersection size of two sorted
  *     long arrays (the near-dup verify kernel; array_intersect boxes).
  *   - `minhash8(md5hex)` — aggregate: 8-slot MinHash signature over
  *     md5-hex shingle digests, rendered as 16-char hex strings.
  *   - `simhash32_agg(md5hex)` — aggregate: 32-bit SimHash of a digest
  *     stream (nibble-vote bit planes).
  *   - `token_repetition_stats(tokens)` — per-row repetition signals
  *     (n_tokens, distinct, top-token count, bigrams, top-bigram count)
  *     behind the x13 Gopher-style gate.
  *   - `misra_gries(expr, k)` — aggregate: bounded-memory heavy-hitter
  *     candidate set (x23's first pass).
  *   - `vec_dot(a, b)` — codegen'd Σ aᵢ·bᵢ (double) over two numeric
  *     arrays (the brute-force cosine / re-rank kernel).
  *   - `long_sq_dist(a, b)` — codegen'd Σ (aᵢ−bᵢ)² (long) over two
  *     array<bigint> (the e6-quantized IVF/PQ assignment distance).
  *   - `adc_lookup_sum(codes, tabs)` — codegen'd Σ tabs[i][codes[i]]
  *     (long), the PQ asymmetric-distance scan.
  *   - `mod_proj_all(arr, nOut, a, off, c, m, s)` — all nOut
  *     deterministic-hyperplane projections of a vector in one codegen'd
  *     pass (the LSH plane / JL projection kernel).
  *   - `sq8_dist(codes, q, mn, span)` — codegen'd SQ8 asymmetric squared
  *     distance (long); `mn`/`span` are foldable array<bigint> quantizer
  *     bounds, evaluated once at plan time and baked into the kernel.
  *   - `top_k_pairs(score, id, k, ascending)` — aggregate: per-group
  *     top-k (score, id) pairs with bounded k-entry state — the
  *     scale-correct replacement for corpus-sized rank windows (the ANN
  *     searches' candidate cut).
  *
  * Each builder validates arity here; type checking stays with the
  * expressions' own `checkInputDataTypes`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def one(name: String)(f: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => f(a)
    case args => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${args.length}")
  }

  private def two(name: String)(f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => f(a, b)
    case args => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${args.length}")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName,
        "sorted_intersect_count"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => SortedLongIntersectCount(a, b)
        case other => throw new IllegalArgumentException(
          s"sorted_intersect_count expects 2 arguments, got ${other.length}")
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash8"),
      new ExpressionInfo(classOf[MinHash8].getName, "minhash8"),
      one("minhash8")(MinHash8(_).toAggregateExpression())))
    ext.injectFunction((
      FunctionIdentifier("simhash32_agg"),
      new ExpressionInfo(classOf[SimHash32Agg].getName, "simhash32_agg"),
      one("simhash32_agg")(SimHash32Agg(_).toAggregateExpression())))
    ext.injectFunction((
      FunctionIdentifier("token_repetition_stats"),
      new ExpressionInfo(classOf[TokenRepetitionStats].getName,
        "token_repetition_stats"),
      one("token_repetition_stats")(TokenRepetitionStats)))
    ext.injectFunction((
      FunctionIdentifier("top_k_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "top_k_pairs"),
      (args: Seq[Expression]) => args match {
        case Seq(s, i, Literal(k: Int, IntegerType), Literal(asc: Boolean, BooleanType)) =>
          TopKPairs(s, i, k, asc).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          "top_k_pairs expects (score, id, k literal int, ascending literal bool), got " +
            other.map(_.sql).mkString(", "))
      }))
    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGries].getName, "misra_gries"),
      (args: Seq[Expression]) => args match {
        case Seq(e, Literal(k: Int, IntegerType)) =>
          MisraGries(e, k).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          "misra_gries expects (expr, k literal int), got " +
            other.map(_.sql).mkString(", "))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      two("vec_dot")(VecDot)))
    ext.injectFunction((
      FunctionIdentifier("long_sq_dist"),
      new ExpressionInfo(classOf[LongSqDist].getName, "long_sq_dist"),
      two("long_sq_dist")(LongSqDist)))
    ext.injectFunction((
      FunctionIdentifier("adc_lookup_sum"),
      new ExpressionInfo(classOf[AdcLookupSum].getName, "adc_lookup_sum"),
      two("adc_lookup_sum")(AdcLookupSum)))
    ext.injectFunction((
      FunctionIdentifier("sq8_dist"),
      new ExpressionInfo(classOf[Sq8Dist].getName, "sq8_dist"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, mnE, spanE) if mnE.foldable && spanE.foldable =>
          def longs(e: Expression): Seq[Long] =
            e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toLongArray().toSeq
          Sq8Dist(c, q, longs(mnE), longs(spanE))
        case other => throw new IllegalArgumentException(
          "sq8_dist expects (codes, q, mn foldable array<bigint>, span foldable array<bigint>), got " +
            other.map(_.sql).mkString(", "))
      }))
    ext.injectFunction((
      FunctionIdentifier("mod_proj_all"),
      new ExpressionInfo(classOf[ModProjAll].getName, "mod_proj_all"),
      (args: Seq[Expression]) => args match {
        case Seq(e, Literal(n: Int, IntegerType), Literal(a: Int, IntegerType),
            Literal(off: Int, IntegerType), Literal(c: Int, IntegerType),
            Literal(m: Int, IntegerType), Literal(s: Int, IntegerType)) =>
          ModProjAll(e, n, a, off, c, m, s)
        case other => throw new IllegalArgumentException(
          "mod_proj_all expects (arr, nOut, a, off, c, m, s — all literal ints), got " +
            other.map(_.sql).mkString(", "))
      }))
  }
}
