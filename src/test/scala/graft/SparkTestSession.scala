package graft

import org.apache.spark.sql.SparkSession
import graft.engine.GraftSession

/** One shared local SparkSession for the whole forked test JVM — Spark
  * session startup is ~5s, so per-suite sessions would dominate test time.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[8]", "graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The jobs `body` starts, counted by [[graft.tools.QueryProfile]]. */
  def jobsOf(body: => Any): Int =
    graft.tools.QueryProfile.of(spark)(())(_ => body)._2.jobs

  /** Runs `body` with session conf `key` set to `value`, then restores it. */
  def withSessionConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
