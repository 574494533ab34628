package graft.streaming

/** Parity + order-insensitivity for the q235 streaming agreement twin:
  * the streamed contingency grid must equal the batch rollup on the
  * same documents regardless of arrival order or micro-batch split
  * (cell counts commute), stay within the <= 9-cell state bound, and
  * reproduce the q235 catalog rows exactly when read back with the
  * marginals/kappa decoration. */
class AgreementStreamSpec extends TwinSpec {

  test("streamed grid == batch rollup under any order and split; read-back == q235") {
    assertTwin("agreement_grid")
  }
}
