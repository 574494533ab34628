package graft.streaming

/** The twin harness itself: `withCheckOff` scopes Spark's stateful
  * correctness check to its body, and the disorder gate holds each
  * event-time twin to the batch answer when its rows arrive in three
  * permuted batches, each row late by at most half the watermark delay. */
class StreamTwinsSpec extends TwinSpec {

  private val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"

  /** withCheckOff turns the check off inside and restores `prior` after
    * a body that returns and after one that throws. */
  private def restores(prior: Option[String]): Unit = {
    val outer = spark.conf.getAll.get(key)
    prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try {
      assert(StreamTwins.withCheckOff(spark)(spark.conf.get(key)) == "false")
      assert(spark.conf.getAll.get(key) == prior)
      intercept[IllegalStateException] {
        StreamTwins.withCheckOff(spark)(throw new IllegalStateException("body fails"))
      }
      assert(spark.conf.getAll.get(key) == prior)
    } finally outer.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("withCheckOff restores a prior value, also when the body throws") {
    restores(Some("true"))
  }

  test("withCheckOff leaves an unset key unset, also when the body throws") {
    restores(None)
  }

  test("arrive moves each row within half the delay before a cut into the next batch") {
    val min = 60000L
    val rows = (0L until 9L).map(_ * min) // minutes 0..8; cuts at 3 and 6
    assert(StreamTwins.arrive(rows, 4 * min, 2, None)(identity) ==
      Seq(rows.take(4), rows.drop(4)))
    // delay 4 min: rows at or after (cut - 2 min) move to the next batch
    val batches = StreamTwins.arrive(rows, 4 * min, 2, Some(7L))(identity)
    assert(batches.map(_.sorted) ==
      Seq(Seq(0L), Seq(1L, 2L, 3L), Seq(4L, 5L, 6L, 7L, 8L)).map(_.map(_ * min)))
    assert(batches.exists(b => b != b.sorted), "each batch is permuted")
  }

  private val eventTime = Seq("scd2", "attribution", "feature_snapshot",
    "sessionization", "rate_limit", "drift_cusum")

  test("the disorder gate covers every event-time twin") {
    assert(StreamTwins.all.filter(_.reorders).map(_.name).toSet == eventTime.toSet)
  }

  for (name <- eventTime)
    test(s"disorder within half the watermark delay: $name == batch, nothing dropped") {
      assertTwin(name, disorder = Some(7L))
    }
}
