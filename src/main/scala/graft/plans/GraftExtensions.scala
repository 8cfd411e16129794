package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite the declarative whitespace-token-count
  * pattern
  * `size(filter(split(trim(c), "\\s+"), t -> t != ""))`
  * into the native codegen'd [[TokenCount]] byte scan.
  *
  * This is the Spark-first shape for a custom fast path: user code
  * stays declarative (and engine-portable); the session extension
  * swaps in the faster physical expression wherever the pattern
  * appears — including inside SQL text and nested lambdas.
  */
object TokenCountRule extends Rule[LogicalPlan] {

  private val wsPattern = UTF8String.fromString("\\s+")
  private val empty = UTF8String.fromString("")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(
            ArrayFilter(
              StringSplit(StringTrim(c, None), Literal(pat: UTF8String, _), Literal(-1, _)),
              LambdaFunction(Not(EqualTo(v: NamedLambdaVariable, Literal(e: UTF8String, _))), Seq(v2: NamedLambdaVariable), _)),
            _) if pat == wsPattern && e == empty && v.exprId == v2.exprId =>
        TokenCount(c)
    }
}

/** Optimizer rule: rewrite the declarative Rabin-Karp fingerprint fold
  * `aggregate(split(c, ""), 0L, (h, ch) -> pmod(h*31 + ascii(ch), 2^31-1))`
  * into the native codegen'd [[PolyHash]] code-point scan (no
  * per-character UTF8String materialization).
  */
object PolyHashRule extends Rule[LogicalPlan] {

  private val empty = UTF8String.fromString("")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            StringSplit(c, Literal(pat: UTF8String, _), Literal(-1, _)),
            Literal(0L, _),
            LambdaFunction(
              Pmod(
                Add(
                  Multiply(h: NamedLambdaVariable, Literal(31L, _), _),
                  Cast(Ascii(ch: NamedLambdaVariable), _, _, _), _),
                Literal(2147483647L, _), _),
              Seq(h2: NamedLambdaVariable, ch2: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable, Seq(fin2: NamedLambdaVariable), _))
          if pat == empty && h.exprId == h2.exprId && ch.exprId == ch2.exprId &&
            fin.exprId == fin2.exprId =>
        PolyHash(c)
    }
}

/** Session extension wiring: the optimizer rule plus a `token_count`
  * SQL function. Enable with
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TokenCountRule)
    ext.injectOptimizerRule(_ => PolyHashRule)
    ext.injectFunction((
      new FunctionIdentifier("token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_count"),
      (children: Seq[Expression]) =>
        TokenCount(Cast(children.head, org.apache.spark.sql.types.StringType))))
    ext.injectFunction((
      new FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) =>
        PolyHash(Cast(children.head, org.apache.spark.sql.types.StringType))))
    // minhash_sig(shingle_array): one-pass 12-component MinHash
    // signature — the fused form of the salted-md5 slice scheme. Used
    // directly (not via an optimizer rule): the declarative pattern
    // spans twelve sibling projection columns sharing two digest
    // arrays, which is not a single-expression rewrite; MinHashSigSpec
    // pins value equality with the declarative form instead.
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) =>
        MinHashSig(Cast(children.head,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))))
    // shingles3(text): fused text-to-shingle-array scan. Direct-call
    // like minhash_sig (the declarative pattern spans a filter and a
    // transform lambda over a separately-projected token column — not
    // a single-expression rewrite); ShingleTextSpec pins value
    // equality with the declarative form.
    ext.injectFunction((
      new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[ShingleText].getName, "shingles3"),
      (children: Seq[Expression]) =>
        ShingleText(Cast(children.head, org.apache.spark.sql.types.StringType))))
    // simhash_sig(token_array, width): one-pass width-bit SimHash
    // fingerprint — md5 + vote accumulation fused per token. Direct-
    // call like minhash_sig (the declarative pattern is a three-deep
    // nested lambda aggregate — not a practical rewrite target);
    // SimHashSigSpec pins value equality with the declarative form.
    ext.injectFunction((
      new FunctionIdentifier("simhash_sig"),
      new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
      (children: Seq[Expression]) =>
        SimHashSig(
          Cast(children.head,
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
          children(1) match {
            // match Literal explicitly: eval() on a non-foldable
            // (e.g. column) argument would surface as an opaque
            // UnsupportedOperationException instead of this error
            case Literal(i: Int, _) => i
            case Literal(l: Long, _) => l.toInt
            case other => throw new IllegalArgumentException(
              s"simhash_sig width must be an integer literal, got $other")
          })))
    // normalize_text(text): fused canonical normalization — lower()
    // via UTF8String.toLowerCase (the exact lower() operation) then
    // one scan replacing two regexp_replace passes + trim. Direct-
    // call; NormalizeTextSpec pins value equality.
    ext.injectFunction((
      new FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (children: Seq[Expression]) =>
        NormalizeText(Cast(children.head, org.apache.spark.sql.types.StringType))))
    // lang_id(token_array): one-pass stopword-profile language ID —
    // the fused form of one filter-traversal per language plus an
    // argmax tree. Direct-call like minhash_sig; LangIdSpec pins
    // value equality with the declarative form.
    ext.injectFunction((
      new FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangId].getName, "lang_id"),
      (children: Seq[Expression]) =>
        LangId(Cast(children.head,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))))
    // quality_score(text): one-pass composite quality score — the
    // fused form of the four-regex-pass declarative composite. Direct-
    // call like minhash_sig (the declarative pattern spans least/when
    // arithmetic over five separately-derived counts — not a practical
    // rewrite target); QualityScoreSpec pins value equality with the
    // declarative form, which the DuckDB oracles keep speaking.
    ext.injectFunction((
      new FunctionIdentifier("quality_score"),
      new ExpressionInfo(classOf[QualityScore].getName, "quality_score"),
      (children: Seq[Expression]) =>
        QualityScore(Cast(children.head, org.apache.spark.sql.types.StringType))))
    // vec_dot(a, b): native double-array dot product — the fused,
    // codegen'd form of aggregate(zip_with(a,b,*), 0.0, +) that the
    // whole vector family scores pairs with. Direct-call via
    // VectorFunctions.dot; VecDotSpec pins bit-for-bit equality with
    // the declarative fold (which the DuckDB oracles keep speaking).
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        val dbl = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)
        VecDot(Cast(children.head, dbl), Cast(children(1), dbl))
      }))
    // intersect_count(a, b): native size(array_intersect) for long
    // arrays — the Jaccard/containment verifies score candidate pairs
    // with it; ArrayIntersect would build a hash set and a result
    // array per pair just to take the length. Direct-call;
    // IntersectCountSpec pins value equality with the declarative
    // form (which the DuckDB oracles keep speaking via list_intersect).
    ext.injectFunction((
      new FunctionIdentifier("intersect_count"),
      new ExpressionInfo(classOf[IntersectCount].getName, "intersect_count"),
      (children: Seq[Expression]) => {
        val lng = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)
        IntersectCount(Cast(children.head, lng), Cast(children(1), lng))
      }))
    // batch_constant(value): a foldable value that generated code reads
    // by reference, not as an inlined literal; add_fields wraps every
    // added field in it so that a batch's date and timestamp leave the
    // generated source unchanged (see BatchConstant)
    ext.injectFunction((
      new FunctionIdentifier("batch_constant"),
      new ExpressionInfo(classOf[BatchConstant].getName, "batch_constant"),
      (children: Seq[Expression]) => BatchConstant(children.head)))
    // bloom_might_contain(serialized_bloom, long_key): Spark's own
    // codegen'd BloomFilterMightContain (the expression behind AQE's
    // runtime row-level bloom), exposed for EXPLICIT bloom pruning —
    // a scan-side membership test stays inside whole-stage codegen
    // instead of dropping to a per-row Scala UDF call
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) =>
        BloomFilterMightContain(
          children.head,
          Cast(children(1), org.apache.spark.sql.types.LongType))))
  }
}
