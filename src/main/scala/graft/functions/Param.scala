package graft.functions

import scala.collection.immutable.HashSet

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InSet, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-call value that is a parameter of the generated code rather
  * than text inside it: the value sits in the generated class's
  * references array, as the custom expressions' own objects do, so two
  * plans that differ only in their `Param` values generate the same
  * Java source and share one compiled class from Spark's codegen cache.
  * A `Literal` of a primitive type is written into the source instead,
  * so every fresh id, bound or timestamp would compile a new class.
  *
  * Not foldable, so the optimizer keeps it as it is; deterministic, so
  * filters over it still move through projections. Comparisons with a
  * `Param` are not translated into data-source filters: use it only
  * where a pushed literal would prune nothing. Built from a Scala value
  * by [[Param.apply]]; needs no session extension. */
case class Param(value: Any, dataType: DataType) extends LeafExpression {

  require(value != null, "a Param carries a value")

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ev.copy(isNull = FalseLiteral,
      code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;")
  }

  override def toString: String = s"param(${Literal(value, dataType)})"
  override def sql: String = s"param(${Literal(value, dataType).sql})"
}

object Param {

  /** `v` (any value `lit` accepts: a number, a string, a
    * `java.sql.Timestamp`, ...) as a [[Param]] column. */
  def apply(v: Any): Column = {
    val l = Literal(v)
    GraftColumnBridge.toColumn(Param(l.value, l.dataType))
  }

  /** `c IN (ids)` as an `InSet` over a `HashSet` whatever its size. For
    * a bigint column the generated code then tests membership in the
    * set object from the references array, where an `In` writes one
    * comparison per id into the source; and the set's class, which the
    * source names, is the same for one id as for thousands. The scan
    * still receives it as a data-source `In`, so parquet row groups are
    * still skipped by the ids. */
  def inSet(c: Column, ids: Iterable[Long]): Column =
    GraftColumnBridge.toColumn(InSet(GraftColumnBridge.toExpression(c), HashSet.from[Any](ids)))
}
