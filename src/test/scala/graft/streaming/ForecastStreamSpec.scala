package graft.streaming

/** ForecastStream, the q220 twin: the streamed month grid, read back
  * through the Holt fold, equals batch q220's backtest rows. */
class ForecastStreamSpec extends TwinSpec {

  test("streamed month grid + read-back == batch q220 rows") {
    assertTwin("holt_forecast")
  }
}
