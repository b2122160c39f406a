package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{ExecutionContext, Future, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The measurement mains' load driver — no Spark. */
class DriveSpec extends AnyFunSuite {

  test("pct equals the (n - 1)*p index expression at every p and scale") {
    val rnd = new scala.util.Random(5)
    val xs = Array.fill(997)(rnd.nextDouble() * 250).sorted
    for (p <- Seq(0.5, 0.95, 0.99); scale <- Seq(10.0, 100.0, 1000.0)) {
      val legacy = math.rint(xs(((xs.length - 1) * p).toInt) * scale) / scale
      assert(Drive.pct(xs, p, scale) == legacy, s"p=$p scale=$scale")
    }
  }

  test("closed(c, m) returns c*m latencies and runs every (client, i) once") {
    val seen = new ConcurrentHashMap[(Int, Int), AtomicInteger]()
    val (secs, lats) = Drive.closed(4, 25) { (c, i) =>
      seen.computeIfAbsent((c, i), _ => new AtomicInteger()).incrementAndGet()
    }
    assert(secs > 0)
    assert(lats.length == 100)
    assert(lats.sameElements(lats.sorted))
    val want = for (c <- 0 until 4; j <- 0 until 25) yield (c, c * 25 + j)
    assert(seen.keySet.asScala.toSet == want.toSet)
    assert(seen.values.asScala.forall(_.get == 1))
  }

  test("closed rethrows a client's failure") {
    intercept[java.util.concurrent.ExecutionException] {
      Drive.closed(2, 3)((c, _) => if (c == 1) sys.error("boom"))
    }
  }

  test("paced times every request from its scheduled arrival") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val trace = new Array[Double](40)
    val async = Drive.paced(400, 40, trace = trace)(_ =>
      Future(Thread.sleep(5)))
    val blocking = Drive.pacedBlocking(400, 40, workers = 4)(_ =>
      Thread.sleep(5))
    for (lats <- Seq(async, blocking)) {
      assert(lats.length == 40)
      assert(lats.forall(_ >= 5.0), lats.take(3).mkString(","))
    }
    assert(trace.forall(_ >= 5.0))
  }

  test("paced throws within its timeout when a request never completes") {
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      Drive.paced(100, 5, timeout = 300.millis)(i =>
        if (i == 3) Promise[Unit]().future else Future.unit)
    }
    assert(e.getMessage.contains("1 of 5"))
    assert((System.nanoTime() - t0) / 1e9 < 5)
  }

  test("paced throws when a request failed") {
    intercept[IllegalStateException] {
      Drive.pacedBlocking(100, 5, workers = 2)(i => if (i == 2) sys.error("boom"))
    }
  }

  test("stop: a child that traps TERM exits within the grace period, one " +
      "that ignores it is killed after it; neither leaves an orphan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_drive_stop")
    def path(name: String) = dir.resolve(name)
    def sh(script: String): Process =
      new ProcessBuilder("sh", "-c", script).redirectErrorStream(true)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    def awaitFile(name: String): Unit = {
      val t0 = System.nanoTime()
      while (!java.nio.file.Files.exists(path(name))) {
        assert(System.nanoTime() - t0 < 30e9, s"$name never written")
        Thread.sleep(10)
      }
    }
    val grace = 3.seconds
    try {
      // traps TERM: kills its background sleep, writes the marker, exits
      val polite = sh(s"""trap 'kill $$pid; echo bye > ${path("marker")}; exit 0' TERM
        |sleep 60 & pid=$$!
        |echo $$pid > ${path("polite.ready")}
        |wait $$pid""".stripMargin)
      awaitFile("polite.ready")
      val politeKids = polite.descendants().iterator().asScala.toList
      assert(politeKids.nonEmpty, "the background sleep must be running")
      val t0 = System.nanoTime()
      Drive.stop(polite, grace)
      assert((System.nanoTime() - t0).nanos < grace, "TERM handler must beat the grace period")
      assert(!polite.isAlive && polite.exitValue() == 0)
      assert(new String(java.nio.file.Files.readAllBytes(path("marker"))).trim == "bye")
      // ignores TERM, and the sleep it execs inherits the ignored signal
      val stubborn = sh(s"""trap '' TERM
        |echo up > ${path("stubborn.ready")}
        |exec sleep 60""".stripMargin)
      awaitFile("stubborn.ready")
      Thread.sleep(200) // let the exec land
      val stubbornKids = stubborn.descendants().iterator().asScala.toList
      val t1 = System.nanoTime()
      Drive.stop(stubborn, grace)
      assert((System.nanoTime() - t1).nanos >= grace, "TERM must have been ignored")
      assert(!stubborn.isAlive)
      // no orphan: every process either child started is gone
      val t2 = System.nanoTime()
      while ((politeKids ++ stubbornKids).exists(_.isAlive) && System.nanoTime() - t2 < 5e9)
        Thread.sleep(10)
      assert(!(politeKids ++ stubbornKids).exists(_.isAlive), "orphaned process left behind")
    } finally Drive.deleteTree(dir.toString)
  }

  test("whenUp retries an IOException and returns the first success") {
    val calls = new AtomicInteger(0)
    val got = Drive.whenUp {
      if (calls.incrementAndGet() < 3) throw new java.io.IOException("down")
      "up"
    }
    assert(got == "up" && calls.get == 3)
    intercept[IllegalStateException](Drive.whenUp(throw new IllegalStateException))
  }
}
