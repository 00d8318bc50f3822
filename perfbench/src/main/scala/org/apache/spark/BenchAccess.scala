package org.apache.spark

/** The non-public hooks the harness needs: the local-property key job tags
  * travel under, and a wait until the listener bus has delivered every
  * event, so a traced run reads complete spans.
  */
object BenchAccess {
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
