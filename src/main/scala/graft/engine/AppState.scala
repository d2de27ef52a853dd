package graft.engine

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one store for state that lives as long as a Spark application:
  * trained models, landed fixtures, corpus statistics and the broadcasts
  * of built-in lookup tables.
  *
  * Lifetime rule: an entry is built on its first [[memo]] call within an
  * application and served to every later call with the same `name` and
  * `dir` in that application, whichever session of it asks. When the
  * application ends, all of its entries are dropped, so a JVM that runs
  * many contexts in turn (the test suite, the Shell, one context per
  * benchmark trainer) keeps no stopped application's models or broadcast
  * handles. Entries are keyed by the application id rather than by the
  * session or context object, which the store must not pin.
  *
  * Builds may nest (a fixture build that asks for a model) and take no
  * lock: two threads that miss at once may both build, and the first
  * stored value wins. A build that throws stores nothing, so the next
  * call builds again.
  */
object AppState {

  private val apps = TrieMap.empty[String, TrieMap[(String, String), Any]]

  /** The value stored under (`name`, `dir`) for `spark`'s application,
    * built by `build` if there is none yet.
    */
  def memo[T](spark: SparkSession, name: String, dir: String = "")
      (build: => T): T = {
    val sc = spark.sparkContext
    memoIn(sc.applicationId, sc.addSparkListener, name, dir)(build)
  }

  /** [[memo]] for the application `app`; `listen` registers the listener
    * that drops `app`'s entries when it ends, once, with `app`'s first
    * entry.
    */
  private[graft] def memoIn[T](app: String, listen: SparkListener => Unit,
      name: String, dir: String)(build: => T): T =
    apps.getOrElse(app, register(app, listen))
      .getOrElseUpdate((name, dir), build).asInstanceOf[T]

  private def register(app: String, listen: SparkListener => Unit) = {
    val fresh = TrieMap.empty[(String, String), Any]
    apps.putIfAbsent(app, fresh).getOrElse {
      listen(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          apps.remove(app)
      })
      fresh
    }
  }
}
