package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}

/** The value a driver-built table holds for a `bigint` key (NULL for a
  * key it does not hold), the table shipped to the executors as a Spark
  * broadcast variable. This is a lookup join against a config-sized table
  * the driver already holds that launches no Spark job: a
  * `BroadcastExchange` collects its child through a job even when that
  * child is a local relation. `table`'s values are Catalyst values of
  * `dataType`.
  */
case class BroadcastLookup(child: Expression, table: Broadcast[Map[Long, Any]],
    dataType: DataType) extends UnaryExpression with ImplicitCastInputTypes
    with CodegenFallback {

  override def nullable: Boolean = true
  override def prettyName: String = "graft_broadcast_lookup"
  override def inputTypes = Seq(LongType)
  override def flatArguments: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(key: Any): Any =
    table.value.getOrElse(key.asInstanceOf[Long], null)

  override protected def withNewChildInternal(c: Expression): BroadcastLookup =
    copy(child = c)
}
