package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** Tolerant readers for engine settings: a malformed value falls back to
  * the default instead of throwing from an optimizer rule or an operator.
  *
  *  - [[get]] reads a `spark.graft.*` key from the session conf. A value
  *    its parser rejects gives the default and one WARN per distinct
  *    (key, value) that names both.
  *  - [[overrides]] reads a `SPARK_GRAFT_CONF`-style list
  *    (`k1=v1,k2=v2`). A comma inside `[...]` belongs to its value, as
  *    in `spark.master=local-cluster[2,2,2048]`. An entry without `=` is
  *    skipped with a WARN.
  *  - [[positiveInt]] reads a count from an environment variable. A
  *    value that is not a positive integer gives the default, with the
  *    same one WARN.
  */
object ConfValue extends Logging {

  private val warned = ConcurrentHashMap.newKeySet[(String, String)]()

  def get[T](spark: SparkSession, key: String, default: T)
      (parse: String => T): T =
    spark.conf.getOption(key).fold(default)(raw =>
      try parse(raw)
      catch { case _: IllegalArgumentException =>
        if (warned.add(key -> raw))
          logWarning(s"malformed $key=\"$raw\"; using the default $default")
        default
      })

  def positiveInt(name: String, raw: Option[String], default: => Int): Int =
    raw.fold(default)(v => v.toIntOption.filter(_ > 0).getOrElse {
      if (warned.add(name -> v))
        logWarning(s"malformed $name=\"$v\"; using the default $default")
      default
    })

  def overrides(spec: String): Seq[(String, String)] =
    spec.split(",(?![^\\[]*\\])").toSeq.filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ =>
          logWarning(s"skipping conf override \"$kv\": expected key=value")
          None
      }
    }
}
