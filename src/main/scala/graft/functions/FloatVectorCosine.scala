package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * The built-in composition (`aggregate(zip_with(a, b, _*_), ...)`)
  * allocates an intermediate array per row and evaluates three lambda
  * closures; this expression compiles to ONE fused loop over the two
  * ArrayData buffers inside whole-stage codegen — the preferred extension
  * form (custom Catalyst `Expression` with `doGenCode`) for a scalar
  * kernel the engine runs billions of times at 100 TB.
  *
  * Semantics match [[graft.llm.Similarity.cosine]] (the `zip_with` +
  * `aggregate` composition) EXACTLY, on every input shape: double
  * accumulation in element order, 0.0 when either norm is zero, null if
  * either input is null — and null on a LENGTH MISMATCH or a null
  * ELEMENT, because that is what the builtin composition yields
  * (`zip_with` pads the shorter side with nulls; a null product folds
  * the aggregate to NULL). Clamping to the shorter array would
  * DISAGREE with its own "matches the composition" contract and with
  * the int8 path — a truncated corrupt vector would get a
  * valid-looking prefix cosine and could rank as a nearest neighbor,
  * where every zip_with-scored path excludes it. A mismatched pair has no cosine; NULL flows
  * into [[graft.llm.Similarity.rankTopK]]'s central exclusion and
  * every `>= threshold` pair filter. The null-element check is emitted
  * only when an input's array type declares containsNull — clean
  * corpora pay zero extra branches.
  */
final case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<float> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  // a length mismatch (or a null element) yields NULL even when both
  // inputs are non-null, so the expression is nullable regardless of
  // its children's nullability
  override def nullable: Boolean = true

  /** Whether a child's ARRAY TYPE admits null elements — decided at
    * plan/codegen time, so non-containsNull inputs (every stored
    * embedding column in the testdata) emit no per-element branch. */
  private lazy val elemNullable: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    // null-element scan SPLIT from the arithmetic loop (cheap bitmap
    // reads; keeps the FMA loop branch-free), emitted only for
    // containsNull inputs
    if (elemNullable) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        i += 1
      }
    }
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      // null-element scan SPLIT from the arithmetic loop: the bitmap
      // reads stay out of the FMA loop (which the JIT can then keep
      // tight/vectorized), and the scan is emitted AT ALL only when an
      // input's array type declares containsNull
      val nullScan =
        if (elemNullable)
          s"""for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
             |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
             |      ${ev.isNull} = true;
             |    }
             |  }""".stripMargin
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  $nullScan
         |  if (!${ev.isNull}) {
         |    double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $xv = (double) $a.getFloat($i);
         |      double $yv = (double) $b.getFloat($i);
         |      $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |    }
         |    double $denom =
         |      java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorCosine =
    copy(left = newLeft, right = newRight)
}

/** Registration: either `GraftFunctions.register(spark)` at runtime, or
  * `spark.sql.extensions=graft.functions.GraftExtensions` at FIRST
  * session creation (spark.sql.extensions is a static conf — it does not
  * apply to later sessions over an existing context). */
object GraftFunctions {
  val CosineName = "graft_cosine"

  private val info = new ExpressionInfo(
    classOf[FloatVectorCosine].getName, CosineName)

  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((FunctionIdentifier(CosineName), info,
      (args: Seq[Expression]) => {
        require(args.length == 2, s"$CosineName expects 2 arguments")
        FloatVectorCosine(args.head, args(1))
      }))

  /** Idempotent runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists(CosineName))
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(CosineName), info,
        (args: Seq[Expression]) => FloatVectorCosine(args.head, args(1)))

  /** Column API over the registered function. */
  def cosine(a: Column, b: Column): Column = call_function(CosineName, a, b)
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
