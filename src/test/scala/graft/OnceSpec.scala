package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The build-once memo behind SparkEntry's side tables — no Spark. */
class OnceSpec extends AnyFunSuite {

  test("8 threads asking for the same key build once and share the value") {
    val once = new SparkEntry.Once[String, Int]
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          once("dir") { Thread.sleep(50); builds.incrementAndGet() }
        }
      }))
      start.countDown()
      assert(results.map(_.get(10, TimeUnit.SECONDS)).toSet == Set(1))
      assert(builds.get() == 1)
    } finally pool.shutdownNow()
  }

  test("a build that calls another table's build does not throw") {
    val inner = new SparkEntry.Once[String, Int]
    val outer = new SparkEntry.Once[String, Int]
    assert(outer("dir")(inner("dir")(20) + 1) == 21)
    assert(inner("dir")(0) == 20)
  }

  test("a build that throws memoizes nothing; the next call retries") {
    val once = new SparkEntry.Once[String, Int]
    val e = intercept[IllegalStateException](
      once("dir")(throw new IllegalStateException("build failed")))
    assert(e.getMessage == "build failed")
    var rebuilt = false
    assert(once("dir") { rebuilt = true; 7 } == 7)
    assert(rebuilt)
    assert(once("dir")(8) == 7)
  }
}
