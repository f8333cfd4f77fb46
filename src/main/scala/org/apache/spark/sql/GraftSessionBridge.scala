package org.apache.spark.sql

/** Session calls a store-owned writer session needs; `cloneSession`,
  * `sessionState` and `Dataset.ofRows` are private[sql] in Spark 4 (the
  * same shim pattern as [[GraftColumnBridge]]).
  */
object GraftSessionBridge {

  /** A session that shares `spark`'s context, cache manager and
    * catalog, starting from a copy of its conf, listeners and
    * registered functions. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Make `to`'s SQL conf equal `from`'s, except for `keep`, which
    * stays as `to` has it. Setting is unchecked, like a clone's copy. */
  def syncConf(from: SparkSession, to: SparkSession, keep: String): Unit = {
    val src = from.asInstanceOf[classic.SparkSession].sessionState.conf
    val dst = to.asInstanceOf[classic.SparkSession].sessionState.conf
    val want = src.getAllConfs - keep
    (dst.getAllConfs.keySet - keep -- want.keySet).foreach(dst.unsetConf)
    want.foreach { case (k, v) => if (dst.getConfString(k, null) != v) dst.setConfString(k, v) }
  }

  /** `df`'s analyzed plan as a DataFrame of `session`: planned and run
    * there, with cached fragments served from the shared cache manager. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** `schema` with every field and nested element nullable, as a file
    * source path read types a file's columns. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
