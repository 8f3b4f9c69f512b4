package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `h_index(vals array<bigint>) -> bigint`: the largest h such that at
  * least h elements of `vals` are ≥ h (0 for an empty array) — the
  * h-operator of the distributed coreness fixpoint
  * ([[graft.operators.Graph.coreness]], Montresor et al. 2011), computed by ONE
  * counting pass instead of the rank-window form
  * `max(least(row_number over (order by v desc), v))`:
  * each value clamps into a [0, n] bucket (h ≤ n, so larger values
  * act as n; non-positives can never contribute), then one descending
  * cumulative scan finds the first t with ≥ t values ≥ t. O(n) time,
  * O(n) ints, order-insensitive — so the aggregation feeding it needs
  * no per-group sort at all, where the window form paid an
  * in-partition Sort of the full edge-join frame per round (12× in
  * q201's plan; guide §2.4 — the sort was the round's only
  * non-aggregate pass). Equivalence with the rank form (for sorted
  * desc v₁ ≥ … ≥ vₙ, max_i min(i, vᵢ) = max{h : |{i : vᵢ ≥ h}| ≥ h})
  * is the classic h-index identity, spec-pinned against the window
  * spelling on randomized inputs (Round22Spec).
  *
  * Null array -> null (UnaryExpression null-intolerance); null
  * ELEMENTS are not produced by any caller (coreness values are
  * count-derived) and count as no contribution if they ever appear.
  */
case class HIndex(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"h_index requires array<bigint>, got $t")
    }

  override def nullSafeEval(a: Any): Any =
    HIndexCore.h(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.functions.HIndexCore.h($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): HIndex =
    copy(child = newChild)
  override def prettyName: String = "h_index"
}

object HIndexCore {
  /** Largest h with at least h elements ≥ h — counting sort over the
    * clamped value domain [1, n]. */
  def h(a: ArrayData): Long = {
    val n = a.numElements()
    if (n == 0) return 0L
    val cnt = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = a.getLong(i)
        if (v >= 1L) cnt(if (v >= n) n else v.toInt) += 1
      }
      i += 1
    }
    var cum = 0
    var t = n
    while (t >= 1) {
      cum += cnt(t)
      if (cum >= t) return t.toLong
      t -= 1
    }
    0L
  }
}

object HIndex {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    FunctionCatalog.register(spark, "h_index", classOf[HIndex])
}
