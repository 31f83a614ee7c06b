package graft.exec

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** [[Overlap.all]]'s contract: input-order results, join-all failure
  * (the first error surfaces only after every started leg settled,
  * later ones suppressed, queued legs skipped), the caller's CURRENT
  * local properties on every leg, starvation-free nesting, and the
  * `maxInFlight` bound. */
class OverlapSpec extends SparkSpec {

  test("results come back in input order; one thunk runs inline") {
    assert(Overlap.all(spark)((1 to 5).map(i => () => {
      Thread.sleep(10L * (5 - i)); i * i
    })) == Seq(1, 4, 9, 16, 25))
    val caller = Thread.currentThread()
    assert(Overlap.all(spark)(Seq(() => Thread.currentThread())) ==
      Seq(caller))
    assert(Overlap.all(spark)(Seq.empty[() => Int]).isEmpty)
    intercept[IllegalArgumentException](
      Overlap.all(spark)(Seq(() => 1, () => 2), maxInFlight = 0))
  }

  test("a fast failure surfaces only after the slow sibling finished; " +
      "queued legs never start") {
    val slowDone = new AtomicBoolean(false)
    val queuedRan = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Overlap.all(spark)(Seq(
      () => { Thread.sleep(50); throw new IllegalStateException("fast") },
      () => { Thread.sleep(800); slowDone.set(true) },
      () => queuedRan.set(true)), maxInFlight = 2))
    assert(e.getMessage == "fast")
    assert(slowDone.get, "the error surfaced while a leg still ran")
    assert(!queuedRan.get, "a leg started after the first failure")
  }

  test("a second failure is attached as suppressed") {
    val e = intercept[IllegalStateException](Overlap.all(spark)(Seq(
      () => { Thread.sleep(50); throw new IllegalStateException("first") },
      () => { Thread.sleep(400); throw new IllegalArgumentException("second") },
      () => 3)))
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("second"))
  }

  test("legs run under the caller's current job description, not the " +
      "one present when the pool threads were created") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    val legs = Seq.fill(2)(() => spark.range(10).count())
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("first")
      Overlap.all(spark)(legs) // creates (or reuses) pool threads
      sc.setJobDescription("second")
      Overlap.all(spark)(legs)
      sc.setJobDescription("done")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains("done") && System.nanoTime() < deadline)
        Thread.sleep(20)
      // events arrive in order: the first call's jobs, then the second's
      val legJobs = seen.asScala.toSeq.takeWhile(_ != "done")
      assert(legJobs.headOption.contains("first") &&
        legJobs.dropWhile(_ == "first").nonEmpty &&
        legJobs.dropWhile(_ == "first").forall(_ == "second"),
        s"leg job descriptions: $legJobs")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }

  test("three levels of nested fan-out complete") {
    val got = Overlap.all(spark)((0 until 2).map(a => () =>
      Overlap.all(spark)((0 until 2).map(b => () =>
        Overlap.all(spark)((0 until 2).map(c => () =>
          spark.range(a * 4 + b * 2 + c + 1).count()))))))
    assert(got.flatten.flatten == (1L to 8L))
  }

  test("at most maxInFlight legs run at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val got = Overlap.all(spark)((0 until 6).map(i => () => {
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => a max b)
      Thread.sleep(100)
      running.decrementAndGet()
      i
    }), maxInFlight = 2)
    assert(got == (0 until 6))
    assert(peak.get == 2, s"peak concurrency ${peak.get}")
  }
}
