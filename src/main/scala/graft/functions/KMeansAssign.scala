package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `kmeans_assign(v, centroids)` — nearest-centroid assignment over a
  * quantized BIGINT vector as ONE fused loop: struct(cluster, dist)
  * with the (distance, centroid id) tie-break.
  *
  * The composed form this replaces —
  * `array_position(ds, array_min(ds))` / `array_min(ds)` over
  * `ds = array(vec_dist2(v, c0), ..., vec_dist2(v, ck-1))` — is
  * correct, but the k-wide expression tree is evaluated up to three
  * times per row (once per array_min/array_position occurrence when
  * subexpression elimination cannot fuse them), and at reference-scale
  * k (tens to thousands of clusters) the generated code for a k-element
  * array of fused kernels blows past codegen method limits and falls
  * back to interpreted eval. The composed assignment measured ~300
  * µs/row at k=80 (CHANGELOG, SURVEY §7.4b) — this kernel is one k×dims
  * multiply-add loop (~1 µs/row), with the centroid matrix held as a
  * flat Long array reference, not k array literals.
  *
  * Bit-equivalence with the composed form is pinned by KMeansSpec:
  * same exact-integer distances, argmin keeps the FIRST index achieving
  * the minimum (array_position semantics = smallest centroid id), and a
  * null element / length-mismatched vector yields a null result exactly
  * where every per-centroid vec_dist2 would have been null.
  */
case class KMeansAssignExpr(child: Expression, cents: Seq[Seq[Long]])
    extends UnaryExpression {

  require(cents.nonEmpty, "kmeans_assign needs at least one centroid")
  private val dims = cents.head.length
  require(cents.forall(_.length == dims),
    "kmeans_assign centroids must share one dimensionality")

  @transient private lazy val flat: Array[Long] = cents.flatten.toArray

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmeans_assign requires array<bigint>, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any =
    KMeansAssignExpr.kernel(v.asInstanceOf[ArrayData], flat,
      cents.length, dims)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("centsFlat", flat, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.KMeansAssignExpr.kernel(
         |  $c, $flatRef, ${cents.length}, $dims);
         |if (${ev.value} == null) ${ev.isNull} = true;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): KMeansAssignExpr = copy(child = newChild)
}

object KMeansAssignExpr {

  /** Shared eval/codegen kernel. Returns null when the vector's length
    * differs from the centroid dimensionality or any element is null —
    * the inputs on which every per-centroid vec_dist2 is null, making
    * the composed form's array_min/array_position null too. */
  def kernel(v: ArrayData, flat: Array[Long], k: Int,
      dims: Int): InternalRow = {
    if (v.numElements() != dims) return null
    var i = 0
    while (i < dims) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    var best = Long.MaxValue
    var bestC = -1
    var c = 0
    while (c < k) {
      val off = c * dims
      var s = 0L
      var j = 0
      while (j < dims) {
        val d = v.getLong(j) - flat(off + j)
        s += d * d
        j += 1
      }
      if (s < best) { best = s; bestC = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestC, best))
  }

  /** Builder tuple shared by the per-session [[register]] fallback and
    * the [[graft.GraftExtensions]] spark-submit deployment path. */
  val injection: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("kmeans_assign"),
      new ExpressionInfo(classOf[KMeansAssignExpr].getName,
        "kmeans_assign"),
      { args =>
        require(args.length == 2, "kmeans_assign takes 2 arguments")
        // accept any FOLDABLE array<array<bigint>> — typedLit arrives
        // as a Literal, but SQL-text array(array(...)) parses as a
        // (resolved, foldable) CreateArray tree
        val cents = args(1) match {
          case e if e.resolved && e.foldable &&
              (e.dataType match {
                case ArrayType(ArrayType(LongType, _), _) => true
                case _ => false
              }) && e.eval(null) != null => // null literal folds to null
            e.eval(null).asInstanceOf[ArrayData]
              .toObjectArray(ArrayType(LongType))
              .map(v => Option(v.asInstanceOf[ArrayData])
                .getOrElse(throw new IllegalArgumentException(
                  "kmeans_assign centroids must not contain null rows"))
                .toLongArray().toIndexedSeq)
              .toIndexedSeq
          case other => throw new IllegalArgumentException(
            "kmeans_assign centroids must be a non-null foldable " +
              s"array<array<bigint>>, got $other")
        }
        KMeansAssignExpr(args.head, cents)
      })

  def register(spark: SparkSession): Unit = {
    val (id, info, builder) = injection
    if (!spark.sessionState.functionRegistry.functionExists(id))
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  /** Column-level entry point; registers on first use per session. */
  def assign(spark: SparkSession, v: Column,
      cents: Seq[Seq[Long]]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("kmeans_assign", v,
      org.apache.spark.sql.functions.typedLit(cents))
  }
}
