package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.core.Duke
import graft.model.MatchConfig

/** The Duke record score as one Catalyst expression (SURVEY.md §7.2 M5):
  * children = [a_p0, b_p0, a_p1, b_p1, ...], per property a pair of
  * `array<string>` holding the already-cleaned values. Each child is turned
  * into a `String` array once per row and the pair goes through
  * `Duke.CompiledConfig.score`, the same fold the mapPartitions scorer runs.
  * Null children mean "property missing on that side" (P3 skip), so the
  * expression is null-TOLERANT and never returns null itself.
  *
  * The config is compiled here, on the driver: an unknown comparator name
  * fails at construction, not inside an executor task.
  */
case class DukeScoreExpr(children: Seq[Expression], config: MatchConfig)
    extends Expression {

  require(children.length == 2 * config.properties.length,
    s"need 2 children per property: ${children.length} vs ${config.properties.length} props")

  private val compiled = Duke.compile(config)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "duke_score"

  /** Score one row's evaluated children (null entry = missing side). */
  def score(arrs: Array[ArrayData]): Double = {
    val n = compiled.properties.length
    val a = new Array[Array[String]](n)
    val b = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      a(i) = strings(arrs(2 * i))
      b(i) = strings(arrs(2 * i + 1))
      i += 1
    }
    compiled.score(a, b)
  }

  private def strings(d: ArrayData): Array[String] =
    if (d == null) null
    else {
      val out = new Array[String](d.numElements())
      var k = 0
      while (k < out.length) {
        if (!d.isNullAt(k)) out(k) = d.getUTF8String(k).toString
        k += 1
      }
      out
    }

  override def eval(input: InternalRow): Any =
    score(children.map(_.eval(input).asInstanceOf[ArrayData]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dukeScore", this, classOf[DukeScoreExpr].getName)
    val arrs = ctx.freshName("arrs")
    val evals = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""
         |${e.code}
         |if (!${e.isNull}) $arrs[$i] = ${e.value};
       """.stripMargin
    }
    ev.copy(
      code = code"""
        |org.apache.spark.sql.catalyst.util.ArrayData[] $arrs =
        |  new org.apache.spark.sql.catalyst.util.ArrayData[${children.length}];
        |${evals.mkString("\n")}
        |double ${ev.value} = $self.score($arrs);
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DukeScoreExpr = copy(children = newChildren)
}
