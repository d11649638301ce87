package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps private:
  * block until every event posted so far has reached every listener, so
  * a spec can count the jobs or query executions an action ran once it
  * returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
