package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, Rand, Uuid}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.LogCapture.logged

/** The ksql compat pack leaves Spark's builtins alone: on a session
  * built with [[graft.GraftExtensions]], `spark.sql` resolves `random`,
  * `uuid` and `array_join` to Spark's own functions. The ksql dialect
  * ([[graft.GraftSql.sql]]) reaches their `ksql_` twins instead, which
  * `KsqlCompatExtSpec` covers. */
class SparkBuiltinsSpec extends AnyFunSuite with SharedSpark {

  test("spark.sql keeps Spark's random, uuid and array_join on an extension session") {
    def draw(): Row = spark.sql(
      "SELECT random(42), uuid(), array_join(array('a', 'b'), '-')")
      .collect().head
    val a = draw()
    // a seeded random is deterministic: the same draw twice, and the
    // same as rand(42)
    assert(a.getDouble(0) == draw().getDouble(0))
    assert(a.getDouble(0) == spark.sql("SELECT rand(42)").collect().head.getDouble(0))
    assert(a.getDouble(0) >= 0.0 && a.getDouble(0) < 1.0)
    assert(a.getString(1).matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"), a)
    assert(a.getString(2) == "a-b")
    val registry = spark.sessionState.functionRegistry
    Seq("random" -> classOf[Rand], "uuid" -> classOf[Uuid],
        "array_join" -> classOf[ArrayJoin]).foreach { case (name, cls) =>
      assert(registry.lookupFunction(FunctionIdentifier(name))
        .map(_.getClassName).contains(cls.getName), name)
    }
  }

  test("building an extension session replaces no builtin") {
    val replaced = logged { spark.newSession().sessionState; () }
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced)
  }
}
