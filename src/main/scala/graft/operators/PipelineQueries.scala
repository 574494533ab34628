package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.{chunkTokens, tokens}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The flagship end-to-end pretraining-data pipeline: every stage is an
  * individually oracle-verified catalog operator, composed here into the
  * single pass a training-data team actually runs —
  *
  *   corpus clean (q55: exact dedup + language/quality/length gates)
  *     -> fuzzy dedup, keep canonical (q66: LSH candidates -> exact
  *        confirm -> connected components -> min-id election)
  *     -> token chunking (q68: 32-token training windows)
  *     -> sequence packing (q69: distributed prefix sum -> absolute
  *        offsets + 256-token context-window ids + boundary flags)
  *
  * Output: one row per packed training chunk. The 100 TB shape is the
  * conjunction of the stages' shapes, none of which degrades when
  * chained: one hash aggregate + semi join (clean), band-bucket
  * equi-join + O(log diameter) propagation (dedup), in-row chunking
  * (chunk), shard-parallel prefix windows with only the one-row-per-
  * 1,000-docs shard table through a global window (pack). Since r13
  * the dedup stage's cluster assignment rides the Store (keyed by
  * the cleaned subset's content fingerprint), so repeated runs — and
  * every session after the first — pay one fingerprint scan + a
  * parquet load instead of re-running the LSH fixpoint.
  */
object PipelineQueries {

  private val packSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chunk_idx",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_chunk_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("start_offset",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seq_idx",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("crosses_boundary",
      org.apache.spark.sql.types.BooleanType)))

  /** The composed pipeline over an arbitrary documents frame (doc_id,
    * lang, text). RUNS SPARK JOBS NOW (the dedup stage's propagation
    * fixpoint) — the catalog entry defers it via LazyStage, same as
    * q65/q66. */
  /** Stage-1 cleaned subset (q55 gates, unsorted form; the semi join
    * needs no order) — factored so [[warmCleanClusters]] keys the q70
    * Store entry with the IDENTICAL cleaned frame. */
  private def cleanedDocs(docs: DataFrame): DataFrame =
    docs.join(
      TextQueries.corpusCleanGates(docs).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Warm q70's cleaned-subset Store entry (fuzzy clustering over
    * the gated corpus) without running the chunk/pack stages — the
    * [[graft.StoreWarmup]] hook, sharing [[cleanedDocs]] with
    * [[pretrainPack]] so the content fingerprint cannot drift. */
  private[graft] def warmCleanClusters(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    DedupQueries.fuzzyFullClusters(cleanedDocs(Tables.documents(s, d)),
      "fuzzy_clusters_clean")
    ()
  }

  private[graft] def pretrainPack(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage 1 — q55 gates
    val clean = cleanedDocs(docs)
    // stage 2 — q66 full-corpus fuzzy clustering over the CLEANED set;
    // keep one canonical doc per near-dup cluster
    val canonicalIds = DedupQueries.fuzzyFullClusters(clean, "fuzzy_clusters_clean")
      .where(col("is_canonical")).select("doc_id")
    val kept = clean.join(canonicalIds, Seq("doc_id"), "left_semi")
    // stage 3 — q68 chunking: doc-local, stays inside the row
    val chunks = kept
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"),
        posexplode(chunkTokens(col("text"), 32)).as(Seq("ci", "chunk_text")))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        least(lit(32L), col("n") - col("ci").cast("long") * 32)
          .as("n_chunk_tokens"),
        expr("doc_id DIV 1000").as("shard"))
      // the chunk stream feeds the in-shard cumulative window, the
      // shard-total rollup and its broadcast prefix job — each of
      // which would otherwise re-derive the ENTIRE upstream pipeline
      // (clean gates + fuzzy clustering + chunking) per consumer
      // (the q95/q234 r16 pattern)
      .localCheckpoint()
    // stage 4 — q69 packing over the CHUNK stream (chunks, not docs, are
    // the training samples): same distributed prefix sum, same scale
    // contract (see TextQueries q69 / PlanChecksSpec)
    val wIn = Window.partitionBy("shard").orderBy("doc_id", "chunk_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = chunks.withColumn("cum_in", sum("n_chunk_tokens").over(wIn))
    val shardTot = chunks.groupBy("shard").agg(sum("n_chunk_tokens").as("tot"))
    val wSh = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = shardTot
      .withColumn("prefix", coalesce(sum("tot").over(wSh), lit(0L)))
      .select("shard", "prefix")
    withCum.join(broadcast(prefixes), "shard")
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        expr("prefix + cum_in - n_chunk_tokens").as("start_offset"),
        expr("(prefix + cum_in - n_chunk_tokens) DIV 256").as("seq_idx"),
        // chunks are never empty (the clean gate keeps n_tokens >= 5),
        // so no zero-width guard is needed on the boundary flag
        (expr("(prefix + cum_in - n_chunk_tokens) DIV 256") =!=
          expr("(prefix + cum_in - 1) DIV 256")).as("crosses_boundary"))
      .orderBy("doc_id", "chunk_idx")
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q70
    "q70_pretrain_pipeline" -> QueryDef.sql(
      "FLAGSHIP composition — the whole pretraining-data pipeline as one " +
      "operator: q55 corpus clean -> q66 fuzzy dedup keeping canonicals " +
      "-> q68 32-token chunking -> q69 sequence packing into 256-token " +
      "context windows, emitting one row per packed training chunk with " +
      "absolute offset, window id and boundary flag. Every stage is " +
      "individually hash-green; this entry proves they compose without " +
      "semantic or scale regressions. The DuckDB oracle replays the " +
      "identical chain (recursive CTE for the clustering fixpoint, " +
      "window algebra for the pack) — bit-exact integer arithmetic end " +
      "to end.",
      s"""WITH RECURSIVE
        |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t0 AS (SELECT d.doc_id, d.text, ${DedupQueries.sqlToks} AS w
        |       FROM documents d JOIN canon USING (doc_id)),
        |f AS (SELECT doc_id, w, len(w)::BIGINT AS n_tokens,
        |  (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)::DOUBLE)
        |    * (0.5 + len(list_filter(w, t -> t IN ('the','and','of','to','a')))::DOUBLE / len(w)::DOUBLE)
        |    AS quality,
        |  len(list_filter(w, t -> t IN ('the','and','of','to','a')))::BIGINT AS en_hits,
        |  len(list_filter(w, t -> t IN ('el','la','de','los','y')))::BIGINT AS es_hits,
        |  len(list_filter(w, t -> t IN ('der','die','und','das','ist')))::BIGINT AS de_hits,
        |  len(list_filter(w, t -> t IN ('le','les','et','des','un')))::BIGINT AS fr_hits
        |FROM t0),
        |clean AS (SELECT doc_id, w, n_tokens FROM f
        |  WHERE en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits
        |    AND quality >= 0.4 AND n_tokens >= 5),
        |s AS (SELECT doc_id, ${DedupQueries.sqlShingles} AS sh FROM clean),
        |x AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |cp AS (SELECT a.doc_id AS a, b.doc_id AS b
        |       FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |p AS (SELECT cp.a, cp.b
        |      FROM cp JOIN s sa ON sa.doc_id = cp.a
        |              JOIN s sb ON sb.doc_id = cp.b
        |      WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        |          / len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE >= 0.5),
        |edges AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM clean
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |cc AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
        |       FROM reach GROUP BY a),
        |keep AS (SELECT c.doc_id, c.n_tokens FROM clean c
        |         JOIN cc ON c.doc_id = cc.doc_id
        |         WHERE cc.doc_id = cc.cluster_id),
        |ch AS (SELECT doc_id, n_tokens, doc_id // 1000 AS shard,
        |        unnest(generate_series(0, (n_tokens+31)//32 - 1)) AS chunk_idx
        |       FROM keep),
        |c2 AS (SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, shard,
        |        (least((chunk_idx+1)*32, n_tokens) - chunk_idx*32)::BIGINT AS n_chunk_tokens
        |       FROM ch),
        |c3 AS (SELECT doc_id, chunk_idx, shard, n_chunk_tokens,
        |        sum(n_chunk_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
        |       FROM c2),
        |st AS (SELECT shard, sum(n_chunk_tokens) AS tot FROM c2 GROUP BY shard),
        |pp AS (SELECT shard, coalesce(sum(tot) OVER (ORDER BY shard
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |      FROM st)
        |SELECT c3.doc_id, c3.chunk_idx, c3.n_chunk_tokens,
        |  (pp.prefix + c3.cum_in - c3.n_chunk_tokens)::BIGINT AS start_offset,
        |  ((pp.prefix + c3.cum_in - c3.n_chunk_tokens) // 256)::BIGINT AS seq_idx,
        |  ((pp.prefix + c3.cum_in - c3.n_chunk_tokens) // 256
        |     != (pp.prefix + c3.cum_in - 1) // 256) AS crosses_boundary
        |FROM c3 JOIN pp USING (shard)
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      graft.plans.LazyStage.defer(s, packSchema) { () =>
        pretrainPack(Tables.documents(s, d))
      }
    }
  )
}
