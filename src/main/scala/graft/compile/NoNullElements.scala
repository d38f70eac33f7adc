package graft.compile

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `[*].type` for a nullable-element array whose item schema rejects a
  * JSON null: true iff no element is null (NULL array → NULL, like
  * `forall`). Equal to `forall(c, x -> x IS NOT NULL)`, but codegen'd —
  * the higher-order form is eval-only and drops the whole validation
  * projection out of whole-stage codegen. One flat loop over the
  * array's null bitmap, no element is read.
  *
  * [[SpecCompiler]] emits it only for `containsNull = true` arrays,
  * which is what every file relation reads (Spark reads file schemas
  * `asNullable`, so a Parquet `required` element still arrives
  * nullable) and what JSON/Arrow sources produce.
  */
case class NoNullElements(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_no_null_elements"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_no_null_elements expects an array, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var i = 0
    while (i < a.numElements() && !a.isNullAt(i)) i += 1
    i == a.numElements()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      s"""int $i = 0;
         |while ($i < $a.numElements() && !$a.isNullAt($i)) $i++;
         |${ev.value} = $i == $a.numElements();""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
