package graft.tools

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.engine.GraftSession

/** Dev experiment: run the pipeline suite against a fixture whose
  * documents/embeddings/events tables are EMPTY (schema preserved) and
  * report which operators throw — the p49 empty-build-side class. */
object EmptySweep {
  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.001"
    val dst = "/tmp/graft-empty-fixture"
    val spark = GraftSession.forMain("graft-emptysweep")
    spark.sparkContext.setLogLevel("ERROR")
    val d = new File(dst); org.apache.commons.io.FileUtils.deleteDirectory(d); d.mkdirs()
    val emptied = Set("documents", "embeddings", "events")
    new File(src).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val name = f.getName.stripSuffix(".parquet")
      val target = new File(d, f.getName)
      if (emptied(name))
        graft.engine.Tables.writeSingleParquet(
          spark.read.parquet(f.getAbsolutePath).limit(0), target)
      else Files.copy(f.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("p") ||
        Seq("q53", "q67", "q68", "q70", "q74", "q81", "q82", "q95").exists(n.startsWith))
    var bad = 0
    names.foreach { n =>
      try {
        val c = graft.SparkEntry.queries(n)(spark, dst).count()
        println(s"[empty] OK    $n ($c rows)")
      } catch { case e: Throwable =>
        bad += 1
        println(s"[empty] FAIL  $n: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(140))
      }
    }
    println(s"[empty] ${names.size} run, $bad failed")
    spark.stop()
  }
}
