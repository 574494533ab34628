package graft.pipeline

import graft.SparkSpec

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Success

/** Bounded-concurrency semantics of the extract fan-out analog. */
class AsyncMapSpec extends SparkSpec {
  import spark.implicits._

  test("all inputs processed; failures dropped like reference O5") {
    val ds = spark.range(0, 1000).as[Long]
    val out = AsyncMap.mapConcurrentGlobal(ds, 64) { i =>
      if (i % 100 == 7) throw new RuntimeException("boom") else i * 2
    }.collect()
    assert(out.length == 990)
    assert(out.map(_ / 2).toSet == (0L until 1000L).filterNot(_ % 100 == 7).toSet)
  }

  test("in-flight concurrency never exceeds the bound") {
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val it = AsyncMap.concurrentIterator((1 to 200).iterator, 8) { i =>
      val cur = inFlight.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, cur))
      Thread.sleep(5)
      inFlight.decrementAndGet()
      i
    }
    val results = it.toList
    assert(results.size == 200 && results.forall(_.isSuccess))
    assert(maxSeen.get() <= 8, s"saw ${maxSeen.get()} concurrent calls")
    assert(maxSeen.get() >= 4, "window never actually filled")
  }

  test("sliding window: wall-clock ~ ceil(n/k)*latency, not n*latency") {
    val t0 = System.nanoTime()
    val it = AsyncMap.concurrentIterator((1 to 100).iterator, 50) { i =>
      Thread.sleep(60); i
    }
    assert(it.count(_.isSuccess) == 100)
    val ms = (System.nanoTime() - t0) / 1000000
    // 2 full windows of 60 ms; serial would be 6000 ms
    assert(ms < 1500, s"took $ms ms — concurrency not effective")
  }

  test("results preserve completion semantics and wrap errors as Failure") {
    val out = AsyncMap.concurrentIterator(Seq(1, 2, 3).iterator, 2) { i =>
      if (i == 2) throw new IllegalStateException("x") else i
    }.toList
    assert(out.count(_.isSuccess) == 2)
    assert(out.collect { case Success(v) => v }.toSet == Set(1, 3))
  }

  test("per-partition budget splits a global semaphore like the reference") {
    // the split the Global variants run: read inside each task
    val tasks = spark.range(0, 100, 1, 8).rdd
    assert(tasks.map(_ => AsyncMap.taskBudget(1000)).collect().toSet == Set(125))
    assert(tasks.map(_ => AsyncMap.taskBudget(4)).collect().toSet == Set(1))
  }

  test("quarantine variant keeps failures as error rows (O5 upgrade)") {
    val ds = spark.range(0, 100).as[Long]
    val out = AsyncMap.mapConcurrentGlobalQuarantine(ds, 16,
      describe = e => s"${e.getClass.getSimpleName}: ${e.getMessage}") { i =>
      if (i % 10 == 3) throw new RuntimeException(s"bad-$i") else i * 2
    }.collect()
    val ok = out.collect { case (Some(v), None) => v }
    val bad = out.collect { case (None, Some(e)) => e }
    assert(ok.length == 90 && bad.length == 10)
    assert(bad.forall(_.startsWith("RuntimeException: bad-")))
  }

  test("a source-iterator failure fails the consumer, not silent truncation") {
    val poison: Iterator[Int] = new Iterator[Int] {
      private var i = 0
      override def hasNext: Boolean = true
      override def next(): Int = {
        i += 1
        if (i > 20) throw new java.io.IOException("scan failed") else i
      }
    }
    val ex = intercept[java.io.IOException] {
      AsyncMap.concurrentIterator(poison, 4)(x => x * 2).toList
    }
    assert(ex.getMessage == "scan failed")
  }
}
