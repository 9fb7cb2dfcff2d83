package org.apache.spark

/** Test access to a running context's live `SparkConf` (`private[spark]`).
  * Settings read once per job, such as `spark.driver.maxResultSize`, take
  * effect for the jobs started inside `body`.
  */
object GraftTestConf {
  def withConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
