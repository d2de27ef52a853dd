package graft

/** Local smoke runner: prints the flagship `SparkEntry.entry` result and its
  * executed plan. Mirrors the driver's t1 smoke (rows > 0 at sf0.001).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = engine.GraftSession.forMain("graft-smoke")
    val df = SparkEntry.entry(spark)
    df.show(20, false)
    println("ENTRY_ROWS=" + df.count())
    df.explain("formatted")
    spark.stop()
  }
}
