package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.LogCapture.logged

/** Every [[FunctionTable]] entry resolves with no manual registration
  * on a session built with [[GraftExtensions]], and after
  * `GraftSql.registerFunctions` (the function step of `GraftSql.init`)
  * on a session built without it. */
class GraftExtensionsSpec extends AnyFunSuite with SharedSpark {

  /** Table names the session's registry does not bind to the entry's
    * class (a builtin of the same name does not count). */
  private def unbound(s: SparkSession): Seq[String] = {
    val registry = s.sessionState.functionRegistry
    FunctionTable.entries.collect {
      case (id, info, _)
          if !registry.lookupFunction(id).exists(_.getClassName == info.getClassName) =>
        id.funcName
    }
  }

  test("cosine_sim resolves in SQL via spark.sql.extensions") {
    // the shared context loads the extension by class name from the conf
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") ==
      classOf[GraftExtensions].getName)
    val got = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c"""
        .stripMargin).collect()(0).getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("shingle_hash_seq resolves in SQL, keeps positions, honors the width arg") {
    val row = spark.sql(
      """SELECT shingle_hash_seq(array('a','b','a','b','a','b'), 4) AS s,
        |       hashed_shingles(array('a','b','a','b','a','b'), 4) AS h"""
        .stripMargin).collect()(0)
    val seq = row.getSeq[String](0)
    val set = row.getSeq[String](1)
    assert(seq.length == 3)      // one per position, duplicates kept
    assert(seq.distinct == set)  // same hashing as the set native
    assert(seq(0) == seq(2) && seq(0) != seq(1))
  }

  test("every table entry resolves on an extension session with no registerFunctions call") {
    assert(unbound(spark).isEmpty)
    val h = spark.sql("SELECT histogram(v) AS h FROM VALUES ('a'), ('a'), ('b') AS t(v)")
      .collect().head.getMap[String, Long](0)
    assert(h == Map("a" -> 2L, "b" -> 1L))
  }

  test("every table entry resolves on an extension-less session after GraftSql.registerFunctions") {
    val bare = BareSession(spark)
    // the premise: a bare session lacks the engine's names
    assert(unbound(bare).contains("cosine_sim"))
    assert(unbound(bare).contains("latest_by_offset"))
    val replaced = "replaced a previously registered function"
    val first = logged(GraftSql.registerFunctions(bare)).filter(_.contains(replaced))
    assert(unbound(bare).isEmpty)
    // no table entry takes a Spark builtin's name, so the first call
    // replaces nothing; a repeat call re-registers nothing
    assert(first.isEmpty, first)
    assert(logged(GraftSql.registerFunctions(bare))
      .filter(_.contains(replaced)).isEmpty)
  }
}
