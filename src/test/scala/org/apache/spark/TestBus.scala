package org.apache.spark

/** The listener bus and RDD operation scopes are package-private; a spec
  * that counts jobs must see every queued event before and after the
  * batch it measures, and one that audits a stage reads its RDDs' scopes. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operation scope an RDD was created in (for a SQL plan's RDDs,
    * the physical operator's name, e.g. `WholeStageCodegen (1)`). */
  def scopeName(info: org.apache.spark.storage.RDDInfo): Option[String] =
    info.scope.map(_.name)
}
