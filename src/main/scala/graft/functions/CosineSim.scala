package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns, with whole-stage codegen (`doGenCode`
  * emits a single fused loop — one pass, three accumulators, no
  * intermediate arrays).
  *
  * This is the §4.2 "custom Expression only where measured need
  * appears" case: the declarative `zip_with`+`aggregate` form
  * (Similarity.cosine) allocates an intermediate array per pair and
  * evaluates a lambda per element; at millions of candidate pairs the
  * fused loop wins (ExtensionsSpec asserts the rewrite fires and is
  * result-identical). Arithmetic is the same
  * left-to-right fold, so results are bit-identical and the DuckDB
  * oracles are unaffected.
  *
  * Null semantics mirror the declarative form exactly, so the
  * [[graft.plans.FuseCosine]] rewrite is result-identical on EVERY
  * input, not just the well-formed ones: NULL input → NULL
  * (BinaryExpression null-intolerance ≙ zip_with's null propagation);
  * unequal lengths → NULL (zip_with pads the shorter side with nulls,
  * null products poison the fold); any null element → NULL (same
  * poisoning); zero-norm → NULL (divide-by-zero is NULL in the
  * declarative plan). The per-element null check is only emitted when
  * the static schema says elements can be null, so the
  * containsNull=false hot path codegen is the same three-accumulator
  * loop as before.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  /** Whether either input's schema admits null elements — gates the
    * per-element null check in both eval paths. */
  private def elemsMayBeNull: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, ln), ArrayType(_, rn)) => ln || rn
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val checkNulls = elemsMayBeNull
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) null else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val nullElem = ctx.freshName("nullElem")
      val elemGuard =
        if (elemsMayBeNull)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $nullElem = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $nullElem = $b.numElements() != $n;
         |if (!$nullElem) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemGuard
         |    double x = $a.getDouble($i);
         |    double y = $b.getDouble($i);
         |    $dot += x * y; $na += x * x; $nb += y * y;
         |  }
         |}
         |if ($nullElem || $na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration + Column-level access for graft's native functions.
  *
  * Registered imperatively (idempotent) into whatever session runs
  * the query, so the functions work regardless of whether the session
  * was built with `.withExtensions(GraftExtensions)` — the extension
  * class below covers the declarative config path
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftFunctions {
  val cosineIdent = FunctionIdentifier("graft_cosine")
  val mightContainIdent = FunctionIdentifier("graft_might_contain")
  val bloomAggIdent = FunctionIdentifier("graft_bloom_agg")
  val ngramsIdent = FunctionIdentifier("graft_ngrams")
  val lshSigsIdent = FunctionIdentifier("graft_lsh_sigs")

  def ensureRegistered(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    if (!reg.functionExists(cosineIdent)) {
      reg.registerFunction(
        cosineIdent,
        new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
        (children: Seq[Expression]) => CosineSim(children(0), children(1)))
    }
    if (!reg.functionExists(lshSigsIdent)) {
      reg.registerFunction(
        lshSigsIdent,
        new ExpressionInfo(classOf[LshSigs].getName, "graft_lsh_sigs"),
        (children: Seq[Expression]) => LshSigs(children(0)))
    }
    if (!reg.functionExists(mightContainIdent)) {
      reg.registerFunction(
        mightContainIdent,
        new ExpressionInfo(
          classOf[BloomFilterMightContain].getName, "graft_might_contain"),
        (children: Seq[Expression]) =>
          BloomFilterMightContain(children(0), children(1)))
    }
    // Spark keeps bloom_filter_agg in its INTERNAL registry (it exists
    // for InjectRuntimeFilter, not SQL users), so expose the identical
    // aggregate under a graft name; the analyzer wraps the returned
    // AggregateFunction in a Complete AggregateExpression.
    if (!reg.functionExists(bloomAggIdent)) {
      reg.registerFunction(
        bloomAggIdent,
        new ExpressionInfo(
          classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
        (children: Seq[Expression]) =>
          new BloomFilterAggregate(children(0), children(1), children(2)))
    }
    if (!reg.functionExists(ngramsIdent)) {
      reg.registerFunction(
        ngramsIdent,
        new ExpressionInfo(classOf[NGramsGen].getName, "graft_ngrams"),
        (children: Seq[Expression]) => NGramsGen(children(0), children(1)))
    }
  }

  /** cosine via the native codegen'd expression. */
  def cosineNative(s: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(s)
    call_function("graft_cosine", a, b)
  }

  /** banded LSH signatures via the native fused-loop expression. */
  def lshSigsNative(s: SparkSession, v: Column): Column = {
    ensureRegistered(s)
    call_function("graft_lsh_sigs", v)
  }

  /** Codegen'd Bloom-filter probe — the same expression Spark's own
    * runtime-filter injection pairs with BloomFilterAggregate.
    * `filter` must be a FOLDABLE binary column (a literal or scalar
    * subquery) holding a spark-sketch-serialized BloomFilter;
    * `hash64` a LONG (probe with `xxhash64(x)` and build the filter
    * over the same hashes). Deserialized lazily once per task, probed
    * inside whole-stage codegen. */
  def mightContain(s: SparkSession, filter: Column, hash64: Column): Column = {
    ensureRegistered(s)
    call_function("graft_might_contain", filter, hash64)
  }
}

/** Declarative registration path: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`).
  *
  * Injects (a) the `graft_cosine` SQL function and (b) the
  * [[graft.plans.FuseCosine]] optimizer rule, which rewrites the
  * portable declarative cosine (aggregate∘zip_with) into the fused
  * native expression with no source change — the Rule[LogicalPlan]
  * rung of SURVEY.md §4.2's extension ladder. Nothing else is
  * injected here. One custom Strategy IS on the critical path, but
  * not through this class: the `topk_per_key` query plans
  * [[graft.plans.TopKPerKeyStrategy]] via `TopKOps.ensureStrategy`, which
  * appends the strategy to the running session's
  * `experimental.extraStrategies` when that query first runs.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      GraftFunctions.cosineIdent,
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      GraftFunctions.mightContainIdent,
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) =>
        BloomFilterMightContain(children(0), children(1))))
    ext.injectFunction((
      GraftFunctions.bloomAggIdent,
      new ExpressionInfo(
        classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new BloomFilterAggregate(children(0), children(1), children(2))))
    ext.injectFunction((
      GraftFunctions.ngramsIdent,
      new ExpressionInfo(classOf[NGramsGen].getName, "graft_ngrams"),
      (children: Seq[Expression]) => NGramsGen(children(0), children(1))))
    ext.injectOptimizerRule(_ => graft.plans.FuseCosine)
  }
}
