package graft.streaming

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of INCREMENTAL dedup (batch q75) — the ingest-time form
  * of "tier each arriving doc against the standing corpus". Where the
  * other three streaming dedup twins keep evolving state about what the
  * STREAM has seen, this one carries no corpus state at all: the corpus
  * is a STATIC, pre-published index and every arrival probes it with
  * stream-static equi-joins — the Structured Streaming shape for
  * "stream vs reference data". Composition mirrors batch q75 stage for
  * stage:
  *
  *   batch q75                          this stream
  *   -------------------------------    --------------------------------
  *   corpus md5 hash index              same frame, built once
  *                                      ([[indexCorpus]]), joined
  *                                      stream-static per micro-batch
  *   asymmetric LSH band probe          same band index, stream-static
  *                                      equi-join on (band, bucket)
  *   exact-Jaccard confirm (j>=0.5)     identical — the corpus SHINGLE
  *                                      index is static too, so the
  *                                      confirm is the true Jaccard,
  *                                      not a sketch approximation
  *   row_number election                one event-time aggregation:
  *   (max jac, ties min corpus id)      max over an encoded
  *                                      (priority, jac, -cand_id)
  *                                      struct — exact beats near beats
  *                                      the keep sentinel, then max jac,
  *                                      then min corpus id; bit-equal to
  *                                      the batch election
  *
  * STATE BOUND: the only stateful operator is the election aggregate —
  * one row per IN-FLIGHT arrival (keyed by its event time + doc id),
  * evicted as the watermark passes. The corpus index adds ZERO state:
  * static frames are re-read/broadcast per micro-batch, exactly how a
  * production job consumes a published index.
  *
  * DOCUMENTED DIVERGENCES from batch q75 (inherent to the mode):
  *
  *   - DELAYED EMISSION: append mode emits an arrival's verdict only
  *     after the watermark passes its event time (the election must be
  *     sure no more candidate rows for that arrival can appear).
  *   - INDEX STALENESS: verdicts are relative to the corpus AS OF index
  *     build — docs ingested since do not match until the index is
  *     republished (q47's Store staleness contract, same trade).
  *   - IN-DELTA DUPS: two near-identical arrivals both get 'keep' if
  *     neither matches the corpus — identical to batch q75's contract
  *     (in-batch dedup is the exact/fuzzy twins' job).
  */
object IncrementalDedupStream {

  /** The published corpus asset — the SAME index definition batch q75
    * builds ([[graft.operators.DedupQueries.CorpusDedupIndex]]): hash
    * index (hh, exact_id), LSH band index (band, bucket, cand_id) and
    * shingle index (cand_id, sh_c). One definition, two consumers. */
  type CorpusIndex = graft.operators.DedupQueries.CorpusDedupIndex

  /** See [[graft.operators.DedupQueries.indexCorpus]]. */
  def indexCorpus(corpus: DataFrame): CorpusIndex =
    graft.operators.DedupQueries.indexCorpus(corpus)

  // election encoding: priority 2 = exact hash hit, 1 = confirmed fuzzy
  // candidate, 0 = the per-arrival keep sentinel. The max of
  // (prio, jac, -cand_id) structs is then exactly batch q75's
  // CASE-precedence + (max jac, min cand_id) election.
  private val PrioExact = 2
  private val PrioNear = 1
  private val PrioKeep = 0

  /** Verdict stream over arrivals (doc_id, ts, text): one output row per
    * arrival — (doc_id, ts, verdict, matched_id, match_jac), the batch
    * q75 schema plus event time — emitted in append mode once the
    * watermark passes the arrival's event time.
    */
  def verdicts(arrivals: DataFrame, index: CorpusIndex,
      watermark: String = "10 minutes", threshold: Double = 0.5): DataFrame = {
    val in = arrivals.withWatermark("ts", watermark)

    // leg 1: exact tier — stream-static inner join against the hash index
    val exact = in
      .select(col("doc_id"), col("ts"), md5(col("text").cast("binary")).as("hh"))
      .join(index.hashIndex, Seq("hh"))
      .select(col("doc_id"), col("ts"), lit(PrioExact).as("prio"),
        lit(1.0).as("jac"), (-col("exact_id")).as("neg_cand"))

    // leg 2: fuzzy tier — band probe + true-Jaccard confirm, both
    // stream-static equi-joins (the arrival's own shingles ride along)
    val probes = in
      .select(col("doc_id"), col("ts"),
        TextFunctions.shinglesOfText(col("text"), 3).as("sh_i"))
      .where(size(col("sh_i")) > 0)
      .select(col("doc_id"), col("ts"), col("sh_i"),
        explode(HashFunctions.bandHashes(
          HashFunctions.minhashSignature(col("sh_i"), 16), 8, 2)).as("bh"))
      .select(col("doc_id"), col("ts"), col("sh_i"),
        col("bh.band").as("band"), col("bh.bucket").as("bucket"))
    val near = probes
      .join(index.bandIndex, Seq("band", "bucket"))
      // NO .distinct() here, deliberately: on a stream it would be a
      // second STATEFUL operator (unbounded dedup state). A candidate
      // surfacing via several bands just confirms its Jaccard once per
      // collision (bounded by the 8 bands) and the max-struct election
      // is idempotent to the duplicates.
      .select(col("doc_id"), col("ts"), col("sh_i"), col("cand_id"))
      .join(index.shingleIndex, Seq("cand_id"))
      .select(col("doc_id"), col("ts"),
        TextFunctions.jaccard(col("sh_i"), col("sh_c")).as("jac"), col("cand_id"))
      .where(col("jac") >= threshold)
      .select(col("doc_id"), col("ts"), lit(PrioNear).as("prio"),
        col("jac"), (-col("cand_id")).as("neg_cand"))

    // leg 3: the keep sentinel — every arrival emits even with no match
    val sentinel = in.select(col("doc_id"), col("ts"), lit(PrioKeep).as("prio"),
      lit(-1.0).as("jac"), lit(0L).as("neg_cand"))

    exact.unionByName(near).unionByName(sentinel)
      .groupBy(col("ts"), col("doc_id"))
      .agg(max(struct(col("prio"), col("jac"), col("neg_cand"))).as("best"))
      .select(col("doc_id"), col("ts"),
        when(col("best.prio") === PrioExact, lit("exact_dup"))
          .when(col("best.prio") === PrioNear, lit("near_dup"))
          .otherwise(lit("keep")).as("verdict"),
        when(col("best.prio") =!= PrioKeep, -col("best.neg_cand")).as("matched_id"),
        when(col("best.prio") =!= PrioKeep, col("best.jac")).as("match_jac"))
  }
}
