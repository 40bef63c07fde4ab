package graft

import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The [[Staged]] contract: one build per dataset key, failures never
  * memoized, the key follows the dataset's files, builds run outside any
  * shared lock, and only builds are charged to `stagingNanos`. No
  * SparkSession: the builds here are plain closures.
  */
class StagedSpec extends AnyFunSuite {

  private def tempDataset(): java.nio.file.Path = {
    val d = Files.createTempDirectory("staged_spec")
    d.toFile.deleteOnExit()
    Files.write(d.resolve("t.parquet"), Array[Byte](1, 2, 3)).toFile.deleteOnExit()
    d
  }

  test("concurrent callers of one key run the build once and share its result") {
    val stage = new Staged[String]
    val d = tempDataset().toString
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val results = Future.sequence((1 to 8).map { _ =>
        Future {
          start.await()
          stage(d) { Thread.sleep(200); s"built-${builds.incrementAndGet()}" }
        }
      })
      start.countDown()
      assert(Await.result(results, 30.seconds).toSet === Set("built-1"))
      assert(builds.get === 1)
    } finally pool.shutdownNow(): Unit
  }

  test("a build that throws rethrows to its caller and the next call builds again") {
    val stage = new Staged[Int]
    val d = tempDataset().toString
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      stage(d) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(stage(d) { builds.incrementAndGet() } === 2)
    assert(stage(d) { builds.incrementAndGet() } === 2, "a success is memoized")
    assert(builds.get === 2)
  }

  test("a failed dir build leaves its subdir behind and the retry gets a new one") {
    val stage = new Staged.Dir("graft_staged_spec")
    val d = tempDataset().toString
    var first = ""
    intercept[RuntimeException] {
      stage(d) { dd => first = dd; throw new RuntimeException("half-written") }
    }
    val second = stage(d) { dd => Files.createDirectories(java.nio.file.Paths.get(dd)): Unit }
    assert(first.nonEmpty && second != first)
    assert(stage(d)(_ => fail("a hit must not build")) === second)
  }

  test("changing a file's size under the same dir path re-stages") {
    val stage = new Staged[Int]
    val dir = tempDataset()
    val d = dir.toString
    val builds = new AtomicInteger(0)
    assert(stage(d) { builds.incrementAndGet() } === 1)
    assert(stage(d) { builds.incrementAndGet() } === 1)
    Files.write(dir.resolve("t.parquet"), Array[Byte](9), StandardOpenOption.APPEND)
    assert(stage(d) { builds.incrementAndGet() } === 2)
    assert(stage(d) { builds.incrementAndGet() } === 2)
  }

  test("a build that waits on another key's build on another thread completes") {
    val stage = new Staged[String]
    // two keys whose hashes land in the same bin of a 16-bin hash map, so
    // a build run under a shared map bin lock would deadlock here
    def bin(k: String): Int = { val h = k.hashCode; (h ^ (h >>> 16)) & 15 }
    val a = "/no/such/staged/a"
    val b = Iterator.from(0).map(i => s"/no/such/staged/b$i")
      .find(k => bin(Staged.dsKey(k)) == bin(Staged.dsKey(a))).get
    val pool = Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val outer = Future {
        stage(a) {
          val inner = Future(stage(b)("b"))
          "a+" + Await.result(inner, 20.seconds)
        }
      }
      assert(Await.result(outer, 30.seconds) === "a+b")
      assert(stage(b)(fail("b is staged")) === "b")
    } finally pool.shutdownNow(): Unit
  }

  test("stagingNanos grows on a build and not on a hit") {
    val stage = new Staged[Int]
    val d = tempDataset().toString
    val before = SparkEntry.stagingNanos.get()
    stage(d) { Thread.sleep(20); 1 }
    val afterBuild = SparkEntry.stagingNanos.get()
    assert(afterBuild - before >= TimeUnit.MILLISECONDS.toNanos(20))
    assert(stage(d) { Thread.sleep(20); 2 } === 1)
    assert(SparkEntry.stagingNanos.get() === afterBuild)
  }
}
