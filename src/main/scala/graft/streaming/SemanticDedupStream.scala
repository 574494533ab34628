package graft.streaming

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of q72's SemDeDup (the third member of the streaming
  * dedup family: exact-hash `DedupClusterStream`, LSH-fuzzy
  * `FuzzyDedupStream`, and now semantic): every arriving embedding is
  * assigned its cluster by the SAME one-pass NearestCells projection the
  * batch operator uses — against a FIXED trained centroid table, which
  * is how a production ingest path runs (train offline on a corpus
  * sample via AnnIndex, stream against the published index; q47's
  * Store staleness contract governs when to retrain) — and is
  * dropped iff some already-kept vector of the same cluster within the
  * watermark horizon has cosine >= tau to it.
  *
  * STATE BOUND (the part that matters at 100 TB/day): dropped
  * near-duplicates NEVER enter state — each cluster retains only its
  * KEPT (canonical) unit vectors within the horizon, so state size is
  * O(distinct semantic items per horizon), not O(arrivals), and a
  * duplicate-heavy stream (the case dedup exists for) keeps state
  * SMALL. Entries age out individually against the watermark inside
  * the group function; the group's event-time timeout is set at (last
  * surviving sighting + horizon), so an idle cluster's whole state row
  * is evicted exactly when its newest canonical would have aged out
  * anyway.
  *
  * In-batch determinism: rows sort by (ts, vec_id) before the election,
  * so the earliest arrival founds and later near-dups drop — the same
  * greedy earliest-wins election as the batch operator, with event time
  * standing in for vec_id order.
  */
object SemanticDedupStream {

  final case class VecIn(vec_id: Long, ts: java.sql.Timestamp,
      v: Seq[Double], cluster: Int)
  final case class VerdictOut(vec_id: Long, cluster: Int, kept: Boolean,
      canonical_id: Long)
  /** One kept vector: unit-normalized (cosine = plain dot thereafter),
    * with its last sighting for individual aging. */
  final case class CanonEntry(vecId: Long, unit: Seq[Double], lastSeenMs: Long)
  final case class ClusterState(entries: List[CanonEntry])

  /** Assign keep/drop verdicts over a streaming (vec_id, ts, v) frame.
    * `centroids` is the trained (or seed) cell table, identical in role
    * to the batch operator's; `horizon` bounds both late data and state
    * retention. */
  def assign(vecs: DataFrame, centroids: Array[Array[Double]], tau: Double,
      horizon: java.time.Duration = java.time.Duration.ofHours(1)): Dataset[VerdictOut] = {
    import vecs.sparkSession.implicits._
    val horizonMs = horizon.toMillis
    vecs
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("vec_id").cast("long").as("vec_id"), col("ts"),
        col("v").cast("array<double>").as("v"),
        element_at(
          VectorFunctions.nearestCells(col("v"), centroids, nProbe = 1), 1)
          .as("cluster"))
      .as[VecIn]
      .groupByKey(_.cluster)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        assignGroup(tau, horizonMs))
  }

  private def assignGroup(tau: Double, horizonMs: Long)(
      cluster: Int, rows: Iterator[VecIn],
      state: GroupState[ClusterState]): Iterator[VerdictOut] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // age out individual canonicals the watermark has passed — the
      // group-level timeout only fires when the WHOLE cluster idles
      val wm = state.getCurrentWatermarkMs()
      var entries = state.getOption.map(_.entries).getOrElse(Nil)
        .filter(_.lastSeenMs + horizonMs > wm)
      val batch = rows.toArray.sortBy(r => (r.ts.getTime, r.vec_id))
      val out = batch.map { r =>
        val arr = r.v.toArray
        var ss = 0.0
        var i = 0
        while (i < arr.length) { ss += arr(i) * arr(i); i += 1 }
        val nrm = math.sqrt(ss)
        if (nrm == 0.0) {
          // a zero vector has no defined cosine: keep it, store nothing
          VerdictOut(r.vec_id, cluster, kept = true, canonical_id = r.vec_id)
        } else {
          val unit = arr.map(_ / nrm)
          // best surviving canonical at cosine >= tau: max cos, ties to
          // the lowest id — the batch operator's deterministic election
          var best: CanonEntry = null
          var bestCos = 0.0
          entries.foreach { e =>
            var d = 0.0
            var j = 0
            val eu = e.unit
            while (j < unit.length) { d += unit(j) * eu(j); j += 1 }
            if (d >= tau && (best == null || d > bestCos ||
                (d == bestCos && e.vecId < best.vecId))) {
              best = e; bestCos = d
            }
          }
          if (best != null) {
            // a near-dup sighting extends its canonical's retention, the
            // same way a hash copy extends DedupClusterStream's cluster
            val matched = best
            entries = entries.map(e =>
              if (e eq matched)
                e.copy(lastSeenMs = math.max(e.lastSeenMs, r.ts.getTime))
              else e)
            VerdictOut(r.vec_id, cluster, kept = false, canonical_id = matched.vecId)
          } else {
            entries = CanonEntry(r.vec_id, unit.toSeq, r.ts.getTime) :: entries
            VerdictOut(r.vec_id, cluster, kept = true, canonical_id = r.vec_id)
          }
        }
      }
      if (entries.isEmpty) state.remove()
      else {
        state.update(ClusterState(entries))
        val lastSeen = entries.map(_.lastSeenMs).max
        state.setTimeoutTimestamp(lastSeen, s"$horizonMs milliseconds")
      }
      out.iterator
    }
  }
}
