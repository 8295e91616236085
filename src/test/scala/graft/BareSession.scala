package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}

/** A session on the running context of `spark` built with NO session
  * extension: the state a deployment without `spark.sql.extensions`
  * starts from. `newSession` would inherit the parent's extensions and
  * the public constructors apply the context's `spark.sql.extensions`,
  * so this calls the primary constructor (class-private in Scala,
  * public in bytecode) with an empty `SparkSessionExtensions`. */
object BareSession {
  def apply(spark: SparkSession): SparkSession =
    classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(spark.sparkContext, None, None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
}
