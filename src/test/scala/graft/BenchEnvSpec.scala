package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The bench entry points' shared plumbing: the one count-valued env
  * parser behind SPARK_GRAFT_CPUS and SPARK_GRAFT_STAGE_COPIES, and the
  * replica build's task pool.
  */
class BenchEnvSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: a trimmed positive integer, else a loud error " +
    "naming it; unset means this machine's processors") {
    assert(Bench.cpus(Map("SPARK_GRAFT_CPUS" -> " 8\n")) === 8)
    assert(Bench.cpus(Map.empty[String, String]) ===
      Runtime.getRuntime.availableProcessors)
    Seq("0", "-4", "", "eight", "4.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Bench.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_STAGE_COPIES: a trimmed non-negative integer, 100 " +
    "when unset, and the base dir (copies 0 or 1) reported as 0") {
    def copies(v: String) = StageProbe.stageCopies(
      Map("SPARK_GRAFT_STAGE_COPIES" -> v))
    assert(StageProbe.stageCopies(Map.empty[String, String]) === 100)
    assert(copies(" 10 ") === 10)
    assert(copies("0") === 0)
    assert(copies("1") === 0)
    Seq("-1", "", "ten").foreach { bad =>
      val e = intercept[IllegalArgumentException](copies(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_STAGE_COPIES"), e.getMessage)
    }
  }

  test("ScaleReplica.runAll: a failing task surfaces its own exception " +
    "and no sibling is still running when it returns") {
    final class BuildFailed extends RuntimeException("table build failed")
    val thrown = new BuildFailed
    val siblingStarted = new CountDownLatch(1)
    val siblingRunning = new AtomicBoolean(false)
    val sibling: () => Unit = () => {
      siblingRunning.set(true)
      siblingStarted.countDown()
      try Thread.sleep(60000)
      finally siblingRunning.set(false)
    }
    val failing: () => Unit = () => {
      siblingStarted.await(10, TimeUnit.SECONDS)
      throw thrown
    }
    val t0 = System.nanoTime()
    val e = intercept[BuildFailed](
      ScaleReplica.runAll(Seq(sibling, failing), threads = 2))
    assert(e eq thrown)
    assert(!siblingRunning.get, "the sibling must be stopped, not orphaned")
    assert((System.nanoTime() - t0) / 1e9 < 30,
      "the failure must not wait out the sibling")
    // and the happy path runs every task
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    ScaleReplica.runAll(Seq.fill(5)(() => { ran.incrementAndGet(); () }),
      threads = 2)
    assert(ran.get === 5)
  }
}
