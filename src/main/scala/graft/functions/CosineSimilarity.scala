package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two numeric
  * arrays (float or double elements, mixed allowed), computed in double
  * precision in ONE fused pass — dot product and both norms accumulate in
  * the same loop, with full whole-stage-codegen support via `doGenCode`.
  *
  * This replaces the `aggregate(zip_with(...))` formulation on the
  * similarity hot path: the higher-order-function version materializes an
  * intermediate products array per row and evaluates three lambda chains;
  * at 100 TB of embeddings the fused loop is the difference between a
  * memory-bandwidth-bound scan and an allocation-bound one. Accumulation
  * order matches the sequential fold of the HOF version, so results are
  * bit-identical and the DuckDB oracle is unaffected.
  *
  * NULL semantics: NULL array or length mismatch → NULL (mirrors
  * `zip_with` padding semantics, where a length mismatch nulls the sum).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemTypeOf(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemTypeOf(left), elemTypeOf(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  private def get(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case _ => throw new IllegalStateException("unreachable: checked input types")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemTypeOf(left).get, elemTypeOf(right).get)
    val n = a.numElements()
    if (n != b.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = get(a, i, ta); val y = get(b, i, tb)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemTypeOf(left).get, elemTypeOf(right).get)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double x = ${getter(ta, a, i)};
         |    final double y = ${getter(tb, b, i)};
         |    $dot += x * y; $na += x * x; $nb += y * y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration facade: makes `cosine_sim(a, b)` and the engine's other
  * native functions available to SQL and `expr()` in the given session.
  * Registers once per session: a call on a session whose registry already
  * holds every function returns at once, so the many call sites cost a
  * lookup and replace nothing.
  */
object GraftFunctions {
  private def arity(name: String, n: Int, exprs: Seq[Expression]): Unit =
    require(exprs.length == n, s"$name takes exactly $n argument${if (n == 1) "" else "s"}")

  /** Each function's name, implementing class and builder. */
  private[functions] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], exprs => {
      arity("cosine_sim", 2, exprs); CosineSimilarity(exprs.head, exprs(1))
    }),
    ("topk_pairs", classOf[TopKPairs], exprs => {
      arity("topk_pairs", 3, exprs); TopKPairs(exprs(0), exprs(1), exprs(2)).toAggregateExpression()
    }),
    ("hyperplane_bits", classOf[HyperplaneBits], mkHyperplaneBits),
    ("lexicon_hits", classOf[LexiconMatch], mkLexiconMatch),
    ("rp_project6", classOf[RpProject6], exprs => {
      arity("rp_project6", 1, exprs); RpProject6(exprs.head)
    }),
    ("text_clean", classOf[TextClean], exprs => {
      arity("text_clean", 1, exprs); TextClean(exprs.head)
    }),
    // Spark's OWN codegen'd bloom-filter pair (the expressions behind
    // Catalyst runtime filter injection), exposed as callable functions
    // so a pipeline can build a membership sketch as a first-class
    // ARTIFACT instead of waiting for the optimizer to inject one:
    // bloom_agg(xxhash64(key), estItems, numBits) -> binary sketch;
    // bloom_contains(<binary literal>, xxhash64(key)) -> boolean.
    // might_contain requires its sketch side constant (literal or scalar
    // subquery) — callers collect the 1-row agg result and re-inject it
    // as a literal, the same conf-bounded driver-artifact discipline as
    // the CMS/centroid tables.
    ("bloom_agg", classOf[BloomFilterAggregate], exprs => {
      require(exprs.length == 3,
        "bloom_agg takes exactly 3 arguments: (xxhash64(key), estItems, numBits)")
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression()
    }),
    ("bloom_contains", classOf[BloomFilterMightContain], exprs => {
      require(exprs.length == 2,
        "bloom_contains takes exactly 2 arguments: (sketch, xxhash64(key))")
      BloomFilterMightContain(exprs(0), exprs(1))
    }),
    ("safe_cast", classOf[SafeCast], mkSafeCast),
    ("minhash_sigs", classOf[MinhashSigs], exprs => {
      arity("minhash_sigs", 1, exprs); MinhashSigs(exprs.head)
    }),
    ("lloyd_argmin", classOf[LloydArgmin], exprs => {
      arity("lloyd_argmin", 2, exprs); LloydArgmin(exprs.head, exprs(1))
    }),
    ("simhash_bands", classOf[SimhashBands], exprs => {
      arity("simhash_bands", 1, exprs); SimhashBands(exprs.head)
    }))

  val names: Seq[String] = builders.map(_._1)

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!names.forall(n => registry.functionExists(FunctionIdentifier(n))))
      builders.foreach { case (name, _, build) =>
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
      }
  }

  private[functions] def mkSafeCast(exprs: Seq[Expression]): SafeCast = {
    require(exprs.length == 2,
      "safe_cast takes exactly 2 arguments: (expr, 'type')")
    val t = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        org.apache.spark.sql.types.DataType.fromDDL(v.toString)
      case e => throw new IllegalArgumentException(
        s"safe_cast type must be a string literal, got $e")
    }
    SafeCast(exprs.head, t)
  }

  private[functions] def mkLexiconMatch(exprs: Seq[Expression]): LexiconMatch = {
    require(exprs.length == 2, "lexicon_hits takes exactly 2 arguments")
    val lex = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        v.toString.split('|').toSeq.filter(_.nonEmpty)
      case e => throw new IllegalArgumentException(
        s"lexicon_hits lexicon must be a pipe-separated string literal, got $e")
    }
    require(lex.nonEmpty, "lexicon_hits requires a non-empty lexicon")
    LexiconMatch(exprs.head, lex)
  }

  private[functions] def mkHyperplaneBits(exprs: Seq[Expression]): HyperplaneBits = {
    require(exprs.length == 2 || exprs.length == 3,
      "hyperplane_bits takes 2 or 3 arguments: (embedding, numPlanes[, planeOffset])")
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"hyperplane_bits $what must be an integer literal, got $other")
    }
    val planes = intLit(exprs(1), "plane count")
    val offset = if (exprs.length == 3) intLit(exprs(2), "plane offset") else 0
    HyperplaneBits(exprs.head, planes, offset)
  }
}

/** SparkSessionExtensions entry point — the deployment-grade
  * registration path: sessions created with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `.withExtensions(new GraftExtensions)`) get the engine's native
  * functions with no per-session register() call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getCanonicalName, name), build))
    }
}
