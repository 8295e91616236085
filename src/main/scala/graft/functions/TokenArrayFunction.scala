package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{ArrayType, StringType}

/** A native over one token array: analysis rejects any child that is
  * not array<string>, naming the function as `functionName`, the name
  * it is registered under in [[graft.FunctionTable]]. Serializable
  * itself, so tasks deserialize the name with the rest of the node. */
abstract class TokenArrayFunction(functionName: String)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$functionName expects array<string>, got ${other.simpleString}")
    }
}
