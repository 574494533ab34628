package graft

import org.apache.spark.sql.SparkSession

/** Warms every cross-session [[graft.functions.Store]] kind at a given
  * data directory, so a bench or service session pays the one-off
  * build costs OFF the clock and
  * reports them as their own figures (VERDICT r14 item 1: the driver's
  * BENCH_r14 shot paid q237's 28.5 s cold pair-matrix build inside the
  * timed window because the warmup pass only ran at sf0.001).
  *
  * Each warmer is a thin call into the SAME store-keyed code path its
  * catalog queries read — `AgreementQueries.btPairsStored`,
  * `DedupQueries.fuzzyFullClusters`, `PipelineQueries.warmCleanClusters`,
  * `WarehouseQueries.warmKmvPartials`, `SimilarityQueries
  * .ivfCentroidsStored` — never a re-statement of the keying, so the
  * warmer and the consumers cannot drift apart. A warm store makes
  * every warmer a fingerprint scan + validated load (sub-second); a
  * cold store runs the real build, and the caller sees the split via
  * the returned seconds and the [[graft.functions.StoreEvents]] build
  * count.
  *
  * This is also the honest deployment shape: a cluster populates its
  * derived stores once per data snapshot (a scheduled build job), and
  * query sessions only ever load — the bench now measures exactly that
  * steady state while still surfacing the build cost it excluded.
  */
object StoreWarmup {

  /** (label, forcing action) — one warmer per store consumer family. The
    * label is the kind its builds record in StoreEvents, except
    * `fuzzy_clusters_clean`: q70's cleaned-subset clustering is an entry
    * of the `fuzzy_clusters` kind, so its builds record under that kind,
    * and it is a hit whenever q55's gates keep every document. */
  def warmers: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "bt_pairs" -> ((s, d) => { operators.AgreementQueries.btPairsStored(s, d); () }),
    "fuzzy_clusters" -> ((s, d) => {
      operators.DedupQueries.fuzzyFullClusters(Tables.documents(s, d)); ()
    }),
    "fuzzy_clusters_clean" -> ((s, d) =>
      operators.PipelineQueries.warmCleanClusters(s, d)),
    "kmv" -> ((s, d) => operators.WarehouseQueries.warmKmvPartials(s, d)),
    "ivf" -> ((s, d) => { operators.SimilarityQueries.ivfCentroidsStored(s, d); () })
  )

  /** Run every warmer against `dir`. Returns (label, wall seconds,
    * store builds recorded) per family — builds == 0 means the store
    * was already warm and the seconds are the fingerprint+load cost.
    * A failing warmer is reported (stderr) and skipped, never fatal:
    * the corresponding query then simply pays its own build, visibly,
    * through the in-shot miss split. */
  def warmAll(s: SparkSession, dir: String): Seq[(String, Double, Int)] =
    warmers.map { case (name, fn) =>
      val e0 = functions.StoreEvents.count
      val t0 = System.nanoTime()
      try fn(s, dir)
      catch {
        case e: Throwable => System.err.println(
          s"[store-warm] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (name, (System.nanoTime() - t0) / 1e9,
        (functions.StoreEvents.count - e0).toInt)
    }
}
