package graft.streaming

/** Parity laws for the 28th/29th twins: ContextSizingStream (q260)
  * and LooAblationStream (q253) — commutative counter grids with
  * read-time algebra, exact batch equality under any split; the
  * ablation ledger's law also holds on a mid-stream read. */
class SizingAblationStreamSpec extends TwinSpec {

  test("sizing: streamed per-cap counters == batch q260 on the corpus") {
    assertTwin("context_sizing_grid")
  }

  test("ablation: mid-stream reads stay self-consistent; final == batch q253") {
    assertTwin("loo_ablation_grid")
  }
}
