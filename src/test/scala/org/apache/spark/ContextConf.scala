package org.apache.spark

/** Runs `body` with `key` removed from the live conf of `sc` and puts it
  * back after, so a session first built inside `body` gets that key only
  * from its own builder (reaching the live conf needs the `private[spark]`
  * accessor, hence this package).
  */
object ContextConf {
  def without[T](sc: SparkContext, key: String)(body: => T): T = {
    val saved = sc.conf.getOption(key)
    sc.conf.remove(key)
    try body finally saved.foreach(sc.conf.set(key, _))
  }
}
