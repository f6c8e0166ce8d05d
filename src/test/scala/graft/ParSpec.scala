package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The bounded driver-side parallel map: order, concurrency cap,
  * failure propagation and Spark job-group inheritance.
  */
class ParSpec extends SparkSpec {

  test("Par.map returns results in input order") {
    val xs = (1 to 20).toVector
    // later inputs finish first
    val out = Par.map(xs) { x => Thread.sleep((20 - x) * 2L); x * x }
    assert(out == xs.map(x => x * x))
  }

  test("Par.map runs at most 8 bodies at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Par.map(1 to 32) { _ =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, (a, b) => math.max(a, b))
      Thread.sleep(20)
      running.decrementAndGet()
    }
    assert(peak.get() <= 8)
    assert(peak.get() > 1)
  }

  test("Par.map of empty input is empty") {
    assert(Par.map(Seq.empty[Int])(_ + 1).isEmpty)
  }

  test("Par.map rethrows a body's exception to the caller") {
    val e = intercept[IllegalStateException] {
      Par.map(1 to 5) { x =>
        if (x == 3) throw new IllegalStateException("body 3 failed")
        x
      }
    }
    assert(e.getMessage == "body 3 failed")
  }

  test("Spark jobs started inside a body carry the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-par-spec", "ParSpec")
      val counts = try Par.map(1 to 3)(i => spark.range(i * 10L).count())
                   finally sc.clearJobGroup()
      assert(counts == Seq(10L, 20L, 30L))
      // listener events arrive asynchronously
      eventually(timeout(30.seconds), interval(50.millis)) {
        assert(groups.asScala.count(_ == "graft-par-spec") >= 3)
      }
    } finally sc.removeSparkListener(listener)
  }
}
