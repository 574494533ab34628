package graft.streaming

/** Parity + order-insensitivity for the q185 streaming CMS twin: the
  * streamed cell grid must equal the batch fold on the same keys
  * REGARDLESS of arrival order or micro-batch split (CMS increments
  * commute), stay within the d*w state bound, and reproduce the batch
  * catalog row's estimates when read back with q185's min rule. Both
  * tests read one run of the twin.
  */
class SketchStreamSpec extends TwinSpec {

  private lazy val twin = assertTwin("cms_cells")

  test("streamed grid == batch fold, under any order and batch split") {
    assert(twin.parity)
  }

  test("streamed grid read back with q185's min rule == the catalog row") {
    assert(twin.parity)
  }
}
