package graft

/** The bench cold-state contract (r14 verdict item 1): warming every
  * persisted store at the timed SF must leave the stores HOT — a
  * second warmAll pass records zero builds — and the StoreEvents
  * ledger must see exactly the builds a cold family runs, so Bench's
  * in-shot miss snapshot can attribute residual build work. */
class StoreWarmupSpec extends SparkSpec {

  test("warmAll covers every store family and a re-run is all hits") {
    val first = StoreWarmup.warmAll(spark, sf0001)
    assert(first.map(_._1).sorted == Seq("bt_pairs", "fuzzy_clusters",
      "fuzzy_clusters_clean", "ivf", "kmv"),
      "warmer registry drifted from the five persisted store families")
    // First pass may hit or build depending on prior suite/session
    // state; the CONTRACT is that after it, everything is warm.
    val second = StoreWarmup.warmAll(spark, sf0001)
    assert(second.forall(_._3 == 0),
      s"second warmAll still built: ${second.filter(_._3 > 0).map(_._1)}")
  }

  test("StoreEvents windows deltas monotonically") {
    val c0 = functions.StoreEvents.count
    assert(functions.StoreEvents.since(c0).isEmpty)
    // A warm re-run records nothing inside the window.
    StoreWarmup.warmAll(spark, sf0001)
    StoreWarmup.warmAll(spark, sf0001)
    assert(functions.StoreEvents.since(c0).isEmpty,
      "warm store accesses must not record build events")
    assert(functions.StoreEvents.count == c0)
  }

  test("a store-backed query runs entirely warm after warmAll") {
    StoreWarmup.warmAll(spark, sf0001)
    val c0 = functions.StoreEvents.count
    // q237 is the r14 incident query: its Store access hides
    // behind LazyStage (execution-time), exactly the shape the sf0.001
    // construction warmup could never reach.
    val df = SparkEntry.queries("q237_bradley_terry")(spark, sf0001)
    assert(df.count() > 0)
    assert(functions.StoreEvents.count == c0,
      "q237 executed against a warm store but still built")
  }
}
