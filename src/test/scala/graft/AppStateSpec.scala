package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.AppState

/** [[AppState]]'s contract: one build per (application, name, dir), no
  * stored value for a failed build, nested builds, and an end-of-
  * application hook that drops that application's entries only.
  */
class AppStateSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A name no other spec or query uses, so each case starts empty. */
  private val ids = new AtomicInteger
  private def fresh(): String = s"AppStateSpec-${ids.incrementAndGet()}"

  /** `memo` that counts the builds it runs in `builds`. */
  private def counted(builds: AtomicInteger, name: String, dir: String = "")
      : Int = AppState.memo(spark, name, dir) { builds.incrementAndGet() }

  test("a second call reads the stored value back without rebuilding") {
    val builds = new AtomicInteger
    val name = fresh()
    assert(counted(builds, name) == 1)
    assert(counted(builds, name) == 1)
    assert(builds.get == 1)
  }

  test("two dirs keep separate values") {
    val builds = new AtomicInteger
    val name = fresh()
    assert(counted(builds, name, "a") == 1)
    assert(counted(builds, name, "b") == 2)
    assert(counted(builds, name, "a") == 1)
    assert(counted(builds, name, "b") == 2)
    assert(builds.get == 2)
  }

  test("a throwing build rethrows, stores nothing, and the next call " +
    "rebuilds") {
    val name = fresh()
    val e = intercept[IllegalStateException] {
      AppState.memo[Int](spark, name)(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    val builds = new AtomicInteger
    assert(counted(builds, name) == 1)
    assert(counted(builds, name) == 1)
    assert(builds.get == 1)
  }

  test("a memo call nested inside a build is stored and served too") {
    val outer = fresh()
    val inner = fresh()
    val builds = new AtomicInteger
    def nested = AppState.memo(spark, outer) {
      builds.incrementAndGet()
      counted(builds, inner) * 10
    }
    assert(nested == 20)
    assert(nested == 20)
    assert(counted(builds, inner) == 2)
    assert(builds.get == 2)
  }

  test("the end-of-application hook drops its own application's entries " +
    "only") {
    val name = fresh()
    val other = s"synthetic-app-$name"
    val listeners = ArrayBuffer.empty[SparkListener]
    def otherMemo(builds: AtomicInteger) =
      AppState.memoIn(other, listeners += _, name, "") {
        builds.incrementAndGet()
      }

    val sharedBuilds = new AtomicInteger
    val otherBuilds = new AtomicInteger
    assert(counted(sharedBuilds, name) == 1)
    assert(otherMemo(otherBuilds) == 1)
    assert(otherMemo(otherBuilds) == 1)
    assert(listeners.size == 1, "one listener per application, not per entry")

    listeners.head.onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(otherMemo(otherBuilds) == 2,
      "the ended application's entry was still served")
    assert(counted(sharedBuilds, name) == 1,
      "the live application's entry was dropped")
    assert(sharedBuilds.get == 1)
    assert(listeners.size == 2,
      "a restarted entry set registers its own listener")
    listeners.last.onApplicationEnd(SparkListenerApplicationEnd(0L))
  }
}
