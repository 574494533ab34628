package graft.streaming

/** Parity + order-insensitivity for the q228 streaming shard-grid
  * twin: the streamed movement grid must equal the batch rollup on the
  * same doc ids regardless of arrival order or micro-batch split
  * (cell counts commute), stay within the <= 72-cell state bound, and
  * reproduce the q228 catalog rows exactly when read back with the
  * flags/shares decoration. */
class ShardStreamSpec extends TwinSpec {

  test("streamed grid == batch rollup under any order and split; read-back == q228") {
    assertTwin("shard_grid")
  }
}
