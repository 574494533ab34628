package graft.streaming

/** Parity + order-insensitivity for the q206 streaming calibration
  * twin: the streamed 11-cell grid must equal the batch fold on the
  * same documents regardless of arrival order or micro-batch split
  * (counts commute), stay within the 11-cell state bound, and
  * reproduce the q206 catalog row exactly when read back with the
  * derived-column algebra. Both tests read one run of the twin. */
class CalibrationStreamSpec extends TwinSpec {

  private lazy val twin = assertTwin("calibration_bins")

  test("streamed grid == batch fold, under any order and batch split") {
    assert(twin.parity)
  }

  test("streamed grid read back with q206's algebra == the catalog row") {
    assert(twin.parity)
  }
}
