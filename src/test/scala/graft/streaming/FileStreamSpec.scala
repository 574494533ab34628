package graft.streaming

/** File-source streaming over the real events table: the same
  * EventStreams.tumbling plan running incrementally from a directory
  * source must converge to exactly the batch answer (q24's oracle-checked
  * semantics), proving batch/streaming unification of the window
  * operators. */
class FileStreamSpec extends TwinSpec {

  test("streaming tumbling counts from a file source equal the batch result") {
    assertTwin("event_tumbling")
  }
}
