package graft.streaming

/** Parity + order-insensitivity for the q247 streaming DP-release
  * twin: the streamed count grid must equal the batch rollup on the
  * same documents regardless of arrival order or micro-batch split
  * (counts commute), stay within the |sources|-cell state bound, and
  * reproduce the q247 catalog rows exactly when read back through the
  * same discrete-Laplace decoration — including across REPEATED
  * reads (the mechanism is deterministic per release key, so two
  * reads of the same state release identical noise). */
class DpCountStreamSpec extends TwinSpec {

  test("streamed grid == batch rollup; read-back == q247 rows, stable across reads") {
    assertTwin("dp_count_grid")
  }
}
