package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder}

import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import scala.util.{Failure, Success, Try}

/** Per-partition bounded-concurrency map — the Spark-idiomatic analog of
  * the reference's semaphore-capped 1,000-goroutine extract fan-out
  * (/root/reference/etl/main.go:65-66,120-123).
  *
  * Spark's task scheduler bounds *task* parallelism at executor-cores, but
  * an I/O-bound per-row call (the reference's 6 s device API) needs far
  * more in-flight requests than cores. This operator keeps the dataflow a
  * Dataset transform (so it composes with the rest of the plan and scales
  * across executors) while running up to `maxInFlight` concurrent calls
  * inside each partition on a dedicated daemon pool — a sliding window,
  * not waves: a new call starts the moment one finishes, and memory is
  * bounded at O(maxInFlight) rows.
  *
  * Failed rows are dropped (the reference drops them too, O5 at
  * main.go:134-138); drive [[concurrentIterator]] directly to keep the
  * failures for a quarantine channel.
  */
object AsyncMap {

  /** Core: pull from `it`, keep up to `maxInFlight` calls of `f` running,
    * emit results as they complete. Pure iterator logic — unit-testable
    * without a SparkSession.
    *
    * Refill is *worker-driven*, not consumer-driven: each worker pulls its
    * next input the moment its previous call finishes, so a slow consumer
    * (e.g. the sink doing a 2 s batched POST) does not stall extraction —
    * the same producer/consumer overlap the reference gets from its
    * bounded channels (main.go:177-182). The result queue is bounded at
    * 4x the window for the same backpressure: when the consumer falls far
    * behind, workers block on put() instead of buffering unboundedly. */
  def concurrentIterator[T, U](it: Iterator[T], maxInFlight: Int)(f: T => U): Iterator[Try[U]] = {
    if (!it.hasNext) return Iterator.empty
    val k = math.max(1, maxInFlight)
    val pool = Executors.newFixedThreadPool(
      k, (r: Runnable) => { val t = new Thread(r, "graft-async-map"); t.setDaemon(true); t })
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))

    val queue = new LinkedBlockingQueue[AnyRef](k * 4)
    val sentinel = new Object
    val active = new java.util.concurrent.atomic.AtomicInteger(k)
    // An exception from the SOURCE iterator (scan error, upstream exec
    // failure) is not a per-row failure of f: it must fail the task, not
    // silently truncate the partition. Captured here, rethrown by the
    // consumer once the workers drain.
    val sourceError = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val source = it
    def nextInput(): Option[T] = source.synchronized {
      try { if (source.hasNext) Some(source.next()) else None }
      catch { case t: Throwable => sourceError.compareAndSet(null, t); None }
    }
    (1 to k).foreach { _ =>
      pool.execute { () =>
        try {
          var in = nextInput()
          while (in.isDefined) {
            queue.put(Try(f(in.get)).asInstanceOf[AnyRef])
            in = nextInput()
          }
        } finally if (active.decrementAndGet() == 0) queue.put(sentinel)
      }
    }

    new Iterator[Try[U]] {
      private var buf: AnyRef = _
      private var finished = false
      override def hasNext: Boolean = {
        if (finished) return false
        if (buf != null) return true
        buf = queue.poll(1, TimeUnit.HOURS)
        if (buf == null) {
          // a stalled f (no internal timeout) must fail the task loudly,
          // not truncate the partition
          pool.shutdownNow()
          throw new IllegalStateException(
            "async-map: no result within 1 hour — a call is stalled; add a timeout inside f")
        }
        if (buf eq sentinel) {
          finished = true; buf = null; pool.shutdown()
          val err = sourceError.get()
          if (err != null) throw err
          false
        } else true
      }
      override def next(): Try[U] = {
        if (!hasNext) throw new NoSuchElementException
        val r = buf.asInstanceOf[Try[U]]
        buf = null
        r
      }
    }
  }

  /** Dataset transform keeping successful results (reference O5 drop
    * semantics for failures). */
  def mapConcurrent[T, U: Encoder](ds: Dataset[T], maxInFlight: Int)(f: T => U): Dataset[U] =
    ds.mapPartitions { it =>
      concurrentIterator(it, maxInFlight)(f).collect { case Success(u) => u }
    }(implicitly[Encoder[U]])

  /** Like mapConcurrent, but with a cluster-global in-flight budget split
    * evenly across the stage's partitions (the reference's single-process
    * semaphore generalized, main.go:65-66). The split happens inside each
    * task via TaskContext.numPartitions — computing it driver-side from
    * `ds.rdd` would force early materialization of the upstream plan
    * under AQE. */
  def mapConcurrentGlobal[T, U: Encoder](ds: Dataset[T], globalBudget: Int)(f: T => U): Dataset[U] =
    ds.mapPartitions { it =>
      concurrentIterator(it, taskBudget(globalBudget))(f).collect { case Success(u) => u }
    }(implicitly[Encoder[U]])

  /** Default quarantine-cause formatting. */
  def describeFailure(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Quarantine variant (SURVEY.md O5 upgrade): failures are kept as
    * (None, Some(error)) rows instead of dropped, so a pipeline can route
    * them to a dead-letter/quarantine frame. Caller provides the tuple
    * encoder (via `import spark.implicits._`); `describe` controls the
    * cause string (callers whose f throws pre-classified messages pass
    * `_.getMessage`). */
  // the one Success/Failure -> quarantine-row mapping, shared by both
  // quarantine variants so the row shape cannot diverge
  private def quarantineIterator[T, U](
      it: Iterator[T], budget: Int, describe: Throwable => String)(
      f: T => U): Iterator[(Option[U], Option[String])] =
    concurrentIterator(it, budget)(f).map {
      case Success(u) => (Some(u), None)
      case scala.util.Failure(e) => (None, Some(describe(e)))
    }

  def mapConcurrentQuarantine[T, U](
      ds: Dataset[T], maxInFlight: Int,
      describe: Throwable => String = describeFailure)(f: T => U)(
      implicit enc: Encoder[(Option[U], Option[String])]): Dataset[(Option[U], Option[String])] =
    ds.mapPartitions(it => quarantineIterator(it, maxInFlight, describe)(f))(enc)

  /** Quarantine variant with the cluster-global in-flight budget of
    * [[mapConcurrentGlobal]] — one budget-split implementation for both
    * the drop and quarantine paths. */
  def mapConcurrentGlobalQuarantine[T, U](
      ds: Dataset[T], globalBudget: Int,
      describe: Throwable => String = describeFailure)(f: T => U)(
      implicit enc: Encoder[(Option[U], Option[String])]): Dataset[(Option[U], Option[String])] =
    ds.mapPartitions(it => quarantineIterator(it, taskBudget(globalBudget), describe)(f))(enc)

  /** Per-task share of a cluster-global in-flight budget (ceil split over
    * the stage's partitions, from inside the task — see
    * [[mapConcurrentGlobal]] for why not driver-side). */
  private[pipeline] def taskBudget(globalBudget: Int): Int = {
    val p = Option(TaskContext.get()).map(c => math.max(1, c.numPartitions())).getOrElse(1)
    math.max(1, (globalBudget + p - 1) / p)
  }
}
