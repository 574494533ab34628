package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the documents table — the core
  * training-data-pipeline capability, each at a different cost/recall
  * point:
  *
  *   - exact (content-hash groupBy): one shuffle on the hash, the 100 TB
  *     workhorse;
  *   - n-gram Jaccard pairs: exact pairwise similarity on a bounded
  *     candidate slice (oracle-verified ground truth for the sketches);
  *   - MinHash + LSH banding: the scalable fuzzy path — candidates come
  *     from an equi-join on band buckets, never a cross join;
  *   - SimHash: 64-bit near-dup signature, hamming-bucketable.
  */
object DedupQueries {

  private[operators] val sqlToks =
    // [\s\x0B]+ — RE2 \s + vertical tab = Java \s exactly (see the
    // TextQueries.sqlToks note); keeps the oracle tokenizer byte-identical
    // to the native WhitespaceTokens/WordShingles side on any input
    """list_filter(string_split_regex(lower(trim(text)), '[\s\x0B]+'), t -> t != '')"""
  private[operators] val sqlShingles =
    """CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(generate_series(1, len(w)-2),
      |       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |  ELSE []::VARCHAR[] END""".stripMargin

  private def shingled(s: org.apache.spark.sql.SparkSession, d: String, cap: Option[Int]): DataFrame = {
    val base = Tables.documents(s, d)
    val capped = cap.map(c => base.where(col("doc_id") < c)).getOrElse(base)
    capped.select(col("doc_id"),
      TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
  }

  /** q258's per-source decontamination budget sheet (q64's flag,
    * costed). Shared with the catalog entry and DedupSpec. */
  def decontaminationImpact(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
        TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
    val bench = base.where(col("doc_id") < 5)
      .select(explode(col("sh")).as("g")).distinct()
    val bad = base.where(col("doc_id") >= 5)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(bench), "g")
      .select("doc_id").distinct()
      .withColumn("is_bad", lit(1L))
    base.where(col("doc_id") >= 5)
      .join(bad, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("is_bad").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_removed"),
        sum("n_tok").cast("long").as("tokens_total"),
        sum(when(col("is_bad").isNotNull, col("n_tok")).otherwise(0L))
          .cast("long").as("tokens_removed"),
        sum(when(col("is_bad").isNull, col("n_tok")).otherwise(0L))
          .cast("long").as("kept_tok"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("tokens_total"), col("tokens_removed"),
        (col("kept_tok").cast("double")
          / col("tokens_total").cast("double")).as("kept_token_share"))
      .orderBy("source")
  }

  /** q36's signature-vs-ground-truth audit over shared-shingle-blocked
    * pairs: per tier (exact / near / far by md5 + exact Jaccard) the
    * engine-independent pair count and intersection/union sums, plus
    * the verdict the SimHash signature must earn — exact pairs at
    * hamming 0 and strict mean-hamming separation near < far as an
    * exact integer cross-product. Shared by the catalog entry and
    * DedupSpec's corpus anchor. */
  def simhashAudit(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    val s0 = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h"),
      HashFunctions.simhash64(TextFunctions.tokens(col("text"))).as("sig"),
      TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
    val sz = s0.where(size(col("sh")) > 0)
      .select(col("doc_id"), col("h"), col("sig"),
        size(col("sh")).cast("long").as("n"))
    val x = s0.select(col("doc_id"), explode(col("sh")).as("g"))
    val ints = x.as("a").join(x.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).cast("long").as("i"))
    val p = ints
      .join(sz.select(col("doc_id").as("da"), col("h").as("ha"),
        col("sig").as("siga"), col("n").as("na")), "da")
      .join(sz.select(col("doc_id").as("db"), col("h").as("hb"),
        col("sig").as("sigb"), col("n").as("nb")), "db")
      .withColumn("jac", col("i").cast("double")
        / (col("na") + col("nb") - col("i")).cast("double"))
      .withColumn("tier",
        when(col("ha") === col("hb"), "exact")
          .when(col("jac") >= 0.8, "near")
          .when(col("jac") < 0.1, "far"))
      .where(col("tier").isNotNull)
      .withColumn("ham", expr("bit_count(siga ^ sigb)").cast("long"))
    // ONE pass over the blocked pairs folds every per-tier quantity;
    // the collect is bounded by construction at <= 3 rows (one per
    // tier), and the verdicts are exact integer driver arithmetic on
    // those three rows — the heavy shingle join never runs twice.
    val agg = p.groupBy("tier").agg(
      count(lit(1)).cast("long").as("n_pairs"),
      sum("i").cast("long").as("s_i"),
      sum(col("na") + col("nb") - col("i")).cast("long").as("s_u"),
      sum("ham").cast("long").as("s_ham"),
      max("ham").cast("long").as("m_ham"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val (nNear, hamNear) =
      agg.get("near").map(t => (t._1, t._4)).getOrElse((0L, 0L))
    val (nFar, hamFar) =
      agg.get("far").map(t => (t._1, t._4)).getOrElse((0L, 0L))
    val exactOk = agg.get("exact").forall(_._5 == 0L)
    val sepOk = nNear == 0L || nFar == 0L ||
      hamNear * nFar < hamFar * nNear
    Seq("exact", "near", "far").map { t =>
      val (n, si, su) = agg.get(t).map(x => (x._1, x._2, x._3))
        .getOrElse((0L, 0L, 0L))
      (t, n, si, su, if (t == "exact") exactOk else sepOk)
    }.toDF("tier", "n_pairs", "sum_shingle_inter", "sum_shingle_union",
      "sim_audit").orderBy("tier")
  }

  /** q65's symmetric similarity-edge set (pairs sharing >= 3 3-gram
    * shingles on the bounded slice, both directions). Shared with
    * PlanChecksSpec so the no-cartesian guard inspects the plan that
    * actually BUILDS the edges — the clustering loop localCheckpoints,
    * which truncates lineage, so the final result's plan no longer
    * contains this join. */
  private[operators] def clusterEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val sh = shingled(s, d, Some(300))
      .select(col("doc_id"), explode(col("sh")).as("g"))
    val e0 = sh.alias("a").join(sh.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 3)
      .select("a", "b")
    e0.union(e0.select(col("b").as("a"), col("a").as("b")))
  }

  /** MinHash(16) + LSH(8 bands x 2 rows) candidate pairs over an
    * arbitrary documents frame, confirmed by exact shingle Jaccard at
    * `threshold` — the one fuzzy-pair plan behind q35 (threshold 0.3,
    * ordered listing) and q66's full-corpus clustering (threshold 0.5,
    * edge feed). Candidates come ONLY from the band-bucket equi-join —
    * no cross join anywhere — which is the property that makes the plan
    * a 100 TB shape: cost tracks bucket collisions, not corpus^2.
    *
    * Shingle-less docs (< 3 tokens) are dropped before banding: they
    * would all share the degenerate all-null signature — one giant
    * bucket per band, a quadratic candidate blowup — and cannot be
    * near-dups by shingle Jaccard anyway.
    *
    * Output: (doc_a, doc_b, jac) with doc_a < doc_b, one row per
    * confirmed pair (candidates are distinct'd before the confirm).
    */
  private[graft] def lshConfirmedPairs(docs: DataFrame,
      threshold: Double): DataFrame = {
    val sh = docs.select(col("doc_id"),
      TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
    val sig = sh.where(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"),
        HashFunctions.minhashSignature(col("sh"), 16).as("sig"))
    val bands = sig.select(col("doc_id"),
      explode(HashFunctions.bandHashes(col("sig"), 8, 2)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.bucket").as("bucket"))
    val cand = bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** q66's oracle-parity PREMISE, made checkable: the corpus has no doc
    * pair with exact shingle Jaccard in [0.1, 0.8) — every true near-dup
    * sits at j >= 0.8 where the 8x2 banding miss probability is <=
    * 2.8e-4, so LSH recall is exactly 1.0 and the sketch-built edge set
    * equals the oracle's exact one. Returns the violating pairs (empty
    * on every shipped corpus); Verify runs it so a future corpus change
    * fails with an actionable message instead of a bare q66 hash
    * mismatch. Blocking on shared shingles is exactness-preserving:
    * j > 0 requires a shared shingle. */
  private[graft] def recallPremiseGapPairs(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val cand = ex.alias("a").join(ex.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= 0.1 && col("jac") < 0.8)
  }

  /** Connected components over a similarity graph — the EXPLICIT staged
    * operator behind q65: min-label propagation with pointer jumping to
    * the unique fixpoint (each node ends up labeled with the min doc_id
    * of its component). RUNS SPARK JOBS NOW, like index training: call it
    * as a deliberate stage (q65's catalog entry defers it via LazyStage
    * so catalog/plan construction stays free and the cost lands on the
    * materializing action).
    *
    * Shape per round: one equi-join (edges x labels) + one min-aggregate,
    * then a pointer jump (label(v) := label(label(v))) so rounds are
    * O(log diameter), not O(diameter). The convergence check is an
    * aggregate (count of changed labels), never a data collect.
    *
    * localCheckpoint per round truncates the otherwise exponentially
    * growing self-join lineage AND materializes each round once.
    * Checkpoint hygiene (ADVICE r3): blocks are freed via the SPECIFIC
    * frame's checkpoint RDD (RddBridge — never the global persistent-RDD
    * registry, which would claim RDDs other jobs on a shared session
    * persisted concurrently), and every round's blocks including the
    * initial labels are freed as soon as the next checkpoint
    * materializes. On return only the FINAL label table's blocks are
    * alive — they back the returned frame.
    *
    * @param nodes one row per vertex, column `doc_id`
    * @param edges directed edge list (`a`, `b`) — pass both directions
    *              for an undirected graph
    * @return (doc_id, cluster_id) — cluster_id = min doc_id reachable
    */
  def clusterAssignments(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.RddBridge
    val cachedEdges = edges.cache()
    // in-flight checkpoint frames, freed on ANY exit except success-return
    // of `labels` itself: a propagation failure (non-convergence, a Spark
    // job error mid-round) must not strand truncated-lineage blocks in
    // the shared session for its lifetime
    var labels: DataFrame = null
    var stepped: DataFrame = null
    var succeeded = false
    try {
      labels = nodes.select(col("doc_id"),
        col("doc_id").as("cluster_id")).localCheckpoint()
      var it = 0
      var changed = 1L
      while (changed > 0 && it < 25) {
        val neighborMin = cachedEdges
          .join(labels.select(col("doc_id").as("b"), col("cluster_id").as("nl")), "b")
          .groupBy(col("a").as("doc_id")).agg(min("nl").as("nmin"))
        stepped = labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
              .as("cluster_id"))
          .localCheckpoint()
        // label(v) is always a node id, so the self-join hits;
        // left+coalesce is belt and braces
        val next = stepped.alias("x").join(
            stepped.select(col("doc_id").as("mid"), col("cluster_id").as("jl")).alias("m"),
            col("x.cluster_id") === col("m.mid"), "left")
          .select(col("x.doc_id").as("doc_id"),
            coalesce(col("jl"), col("x.cluster_id")).as("cluster_id"))
        changed = next.alias("n")
          .join(labels.alias("o"), "doc_id")
          .where(col("n.cluster_id") =!= col("o.cluster_id"))
          .count()
        val newLabels = next.localCheckpoint()
        // newLabels is materialized: the previous labels (incl. the
        // initial table on round 1) and this round's stepped are dead
        bridge.freeCheckpoint(labels)
        bridge.freeCheckpoint(stepped)
        labels = newLabels
        stepped = null
        it += 1
      }
      require(changed == 0, s"label propagation did not converge in $it rounds")
      succeeded = true
      labels
    } finally {
      cachedEdges.unpersist()
      if (!succeeded) {
        if (stepped != null) bridge.freeCheckpoint(stepped)
        if (labels != null) bridge.freeCheckpoint(labels)
      }
    }
  }

  /** Output schema shared by the clustering catalog entries (q65, q66) —
    * LazyStage needs it up front, before the deferred loop runs. */
  private val clusterSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("is_canonical",
      org.apache.spark.sql.types.BooleanType),
    org.apache.spark.sql.types.StructField("cluster_size",
      org.apache.spark.sql.types.LongType)))

  /** [[clusterAssignments]] + canonical election: cluster_id = min doc_id
    * of the component, the canonical doc is the one equal to its own
    * cluster_id, cluster_size counted per component. Shared tail of the
    * q65 (bounded ground-truth edges) and q66 (full-corpus LSH edges)
    * catalog entries. */
  private[operators] def clustersOf(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val labels = clusterAssignments(nodes, edges)
    val cs = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels
      .join(cs, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The composed full-corpus fuzzy-dedup operator behind q66: LSH
    * candidate pairs confirmed at j >= 0.5 become the similarity edges,
    * connected components labeled, canonical (min doc_id) elected per
    * cluster. Takes the documents frame directly so a scale probe over
    * a replicated corpus (BASELINE.md's probe sections) measures the
    * exact catalog plan. NOTE: runs Spark jobs (the
    * propagation fixpoint, or one fingerprint scan on a store hit) —
    * catalog entries defer it via LazyStage.
    *
    * The cluster assignment rides [[graft.functions.Store]]
    * (r12 verdict item 4 — the q237 pattern): q66/q141/q143 share one
    * build per (doc_id, text) content fingerprint instead of each
    * re-running the LSH fixpoint, q70's cleaned-subset clustering gets
    * its own `kind`, and later sessions load warm. The assignment is a
    * pure deterministic function of the input (min-doc_id labels), so
    * a cache hit is value-identical; bump the version when the
    * signature/banding/threshold algebra changes (the fingerprint
    * cannot see code). */
  private[graft] def fuzzyFullClusters(docs: DataFrame,
      kind: String = "fuzzy_clusters"): DataFrame =
    graft.functions.Store.loadOrBuild(docs.sparkSession, kind, 1,
      graft.functions.Store.fingerprint(docs.select(col("doc_id"), col("text"))))(
      Seq("doc_id", "cluster_id", "is_canonical", "cluster_size"))(
      fuzzyClusterFixpoint(docs))

  /** The unstored build behind [[fuzzyFullClusters]]: the cross-check
    * gate and build-cost tests measure the real fixpoint, never a warm
    * store hit. */
  private[graft] def fuzzyClusterFixpoint(docs: DataFrame): DataFrame = {
    val e0 = lshConfirmedPairs(docs, 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    clustersOf(docs.select("doc_id"), edges)
  }

  /** Asymmetric LSH candidate pairs: incoming docs probed against a
    * corpus side, confirmed by exact shingle Jaccard at `threshold` —
    * the delta-ingest shape behind q75. Same MinHash(16) + 8x2 banding
    * as [[lshConfirmedPairs]], but the band-bucket equi-join crosses the
    * two frames instead of self-joining one, so cost tracks
    * |delta| x collision rate — the corpus is only touched through its
    * (precomputable) signature index plus the shingle lookup for
    * confirmed candidates, never corpus x corpus.
    *
    * Output: (doc_id, cand_id, jac) — one row per confirmed
    * (incoming, corpus) pair.
    */
  private[operators] def lshCrossPairs(corpus: DataFrame, incoming: DataFrame,
      threshold: Double): DataFrame =
    probeCandidates(indexCorpus(corpus), incoming, threshold)

  /** The probe half of the asymmetric shape: incoming docs against a
    * [[CorpusDedupIndex]] — band-bucket equi-join for candidates, then
    * the exact-Jaccard confirm against the index's shingle frame.
    * Shingle-less incoming docs are dropped before banding for the same
    * reason as lshConfirmedPairs (degenerate all-null signature bucket).
    * Output: (doc_id, cand_id, jac), one row per confirmed pair. */
  private[graft] def probeCandidates(index: CorpusDedupIndex,
      incoming: DataFrame, threshold: Double): DataFrame = {
    val incSh = incoming.select(col("doc_id"),
      TextFunctions.shinglesOfText(col("text"), 3).as("sh_i"))
      .where(size(col("sh_i")) > 0)
    val incBands = incSh
      .select(col("doc_id"),
        explode(HashFunctions.bandHashes(
          HashFunctions.minhashSignature(col("sh_i"), 16), 8, 2)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.bucket").as("bucket"))
    val cand = incBands
      .join(index.bandIndex, Seq("band", "bucket"))
      .select(col("doc_id"), col("cand_id"))
      .distinct()
    cand
      .join(incSh, "doc_id")
      .join(index.shingleIndex, Seq("cand_id"))
      .select(col("doc_id"), col("cand_id"),
        TextFunctions.jaccard(col("sh_i"), col("sh_c")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** The standing-corpus asset q75 probes — at 100 TB these three frames
    * are what an ingest pipeline builds once per corpus snapshot and
    * probes with every delta:
    *
    *   - hashIndex    (hh, exact_id): md5 -> canonical (min) doc id
    *   - bandIndex    (band, bucket, cand_id): LSH 8x2 over MinHash(16)
    *   - shingleIndex (cand_id, sh_c): 3-gram shingle sets for the
    *                  exact-Jaccard confirm
    */
  final case class CorpusDedupIndex(hashIndex: DataFrame, bandIndex: DataFrame,
      shingleIndex: DataFrame)

  /** Build [[CorpusDedupIndex]] from a static corpus frame (doc_id,
    * text). Shingle-less corpus docs are excluded from the band index
    * (their degenerate all-null signature would form one giant bucket per
    * band) but present in the hash index (a byte-exact dup of a 2-token
    * doc is still exact). Shared by batch q75 and the streaming twin
    * ([[graft.streaming.IncrementalDedupStream]]), so both probe the
    * SAME index definition. */
  def indexCorpus(corpus: DataFrame): CorpusDedupIndex = {
    val hashIndex = corpus
      .groupBy(md5(col("text").cast("binary")).as("hh"))
      .agg(min("doc_id").as("exact_id"))
    val sh = corpus.select(col("doc_id").as("cand_id"),
      TextFunctions.shinglesOfText(col("text"), 3).as("sh_c"))
      .where(size(col("sh_c")) > 0)
    val bandIndex = sh
      .select(col("cand_id"),
        explode(HashFunctions.bandHashes(
          HashFunctions.minhashSignature(col("sh_c"), 16), 8, 2)).as("bh"))
      .select(col("bh.band").as("band"), col("bh.bucket").as("bucket"), col("cand_id"))
    CorpusDedupIndex(hashIndex, bandIndex, sh)
  }

  /** The incremental (delta-vs-corpus) dedup operator behind q75: tier
    * every incoming doc against the standing corpus —
    *
    *   - `exact_dup`  when its md5 content hash matches a corpus doc
    *                  (matched_id = the corpus canonical, min doc_id
    *                  with that hash; match_jac = 1.0);
    *   - `near_dup`   when exact shingle Jaccard >= 0.5 with some corpus
    *                  doc (matched_id = best match — max jac, ties to
    *                  the smallest corpus doc_id; match_jac = that jac);
    *   - `keep`       otherwise (matched_id / match_jac NULL).
    *
    * Exact beats near when both hold. In-delta duplicates are NOT
    * collapsed here — each incoming doc is judged against the corpus
    * independently; dedup WITHIN a batch is q33/q66's job.
    *
    * Takes the two frames directly so tests can exercise all three
    * tiers on synthetic splits; the catalog entry applies the
    * deterministic doc_id %% 10 >= 8 delta split. */
  private[graft] def incrementalDedup(corpus: DataFrame, incoming: DataFrame): DataFrame =
    incrementalDedupIndexed(indexCorpus(corpus), incoming)

  /** [[incrementalDedup]] against an already-built index — the
    * production daily shape, where the corpus cost was paid once per
    * snapshot and each delta pays only the probe. */
  private[graft] def incrementalDedupIndexed(index: CorpusDedupIndex,
      incoming: DataFrame): DataFrame = {
    val exact = incoming
      .select(col("doc_id"), md5(col("text").cast("binary")).as("hh"))
      .join(index.hashIndex, Seq("hh"), "left")
      .select(col("doc_id"), col("exact_id"))
    val best = probeCandidates(index, incoming, 0.5)
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("jac").desc, col("cand_id"))))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cand_id"), col("jac"))
    exact.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, lit("exact_dup"))
          .when(col("cand_id").isNotNull, lit("near_dup"))
          .otherwise(lit("keep")).as("verdict"),
        when(col("exact_id").isNotNull, col("exact_id"))
          .otherwise(col("cand_id")).as("matched_id"),
        when(col("exact_id").isNotNull, lit(1.0))
          .otherwise(col("jac")).as("match_jac"))
      .orderBy("doc_id")
  }

  /** q91: EXACT set-similarity self-join at Jaccard >= tau=0.5 via
    * AllPairs prefix filtering (Bayardo/Ma/Srikant, WWW'07 — public
    * algorithm): each doc's shingle set is globally ordered
    * rarest-first (df asc, shingle asc); any pair with jac >= 0.5 must
    * share a token within each side's first |s| - ceil(0.5*|s|) + 1
    * tokens, so candidates come from an equi-join on PREFIX tokens
    * only, plus the length filter 2*min(|a|,|b|) >= max(|a|,|b|).
    * Recall is exactly 1.0 BY THEOREM — the exact complement to the
    * probabilistic LSH path (q35/q66), at the cost of one extra
    * corpus-wide shuffle to rank tokens by frequency. ceil is done in
    * integer arithmetic ((sz+1) div 2) so both engines agree exactly.
    * Shape at 100 TB: explode->df-count (one shuffle), rank-join on
    * token (second), per-doc re-agg (third, combinable), then the
    * candidate equi-join touches only prefix tokens — rare by
    * construction, so bucket fan-out stays near |near-dup pairs|, and
    * no cartesian/all-pairs product exists anywhere in the plan. */
  private[operators] def prefixFilterPairs(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
        TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("tok"))
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = ex.join(dfreq, "tok")
      .groupBy("doc_id")
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("tok")))),
        x => x.getField("tok")).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("sz"))
    val pref = ordered
      .withColumn("p", col("sz") - ((col("sz") + 1) / 2).cast("int") + 1)
      .select(col("doc_id"), col("sz"),
        explode(slice(col("shs"), lit(1), col("p"))).as("tok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") * 2 >= col("a.sz") && col("a.sz") * 2 >= col("b.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = ordered.select(col("doc_id"), col("shs"), col("sz"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sh_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sh_b"),
        col("sz").as("sz_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter_n"),
        col("sz_a").cast("long").as("sz_a"),
        col("sz_b").cast("long").as("sz_b"),
        TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** q91's candidate stage swapped for the q35/q66 LSH band-bucket path:
    * same output contract as [[prefixFilterPairs]] (doc_a, doc_b, inter_n,
    * sz_a, sz_b, jac at `tau`), but candidates come from MinHash(16) +
    * LSH(8x2) bucket collisions instead of AllPairs prefix tokens.
    *
    * DIVERGENCE NOTE (the documented trade): prefix filtering is recall
    * 1.0 BY THEOREM; LSH banding is recall 1.0 only in probability —
    * a qualifying pair at jac = tau = 0.5 escapes all 8 bands with
    * P ~ (1 - tau^2)^8 ~ 9%, falling to <= 2.8e-4 by jac >= 0.8. Use
    * this variant when the corpus (like the shipped one — see
    * recallPremiseGapPairs) has no mass in the marginal band, or when
    * approximate recall is an accepted cost: it drops the two
    * token-frequency shuffles (df count + rank join) the exact path
    * pays to order tokens rarest-first, so the candidate stage is one
    * signature pass + one band equi-join — the cheaper 100 TB shape.
    */
  private[operators] def setsimJoinLsh(docs: DataFrame,
      tau: Double): DataFrame = {
    val sh = docs.select(col("doc_id"),
        TextFunctions.shinglesOfText(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val sig = sh.select(col("doc_id"),
      HashFunctions.minhashSignature(col("sh"), 16).as("sig"))
    val bands = sig.select(col("doc_id"),
      explode(HashFunctions.bandHashes(col("sig"), 8, 2)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"),
        col("bh.bucket").as("bucket"))
    val cand = bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("inter_n"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"),
        TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= tau)
      .orderBy("doc_a", "doc_b")
  }

  /** The q137 content-defined chunker over an arbitrary (doc_id, text)
    * frame: gear g = 7*len + ascii(first char) per token (the q32
    * contribution), trigram hash (g2*31^2 + g1*31 + g) mod 1e9+7, a
    * boundary STARTS a new chunk where that hash % 16 == 0, and each
    * chunk carries the q32 rolling fingerprint of its tokens. Returns
    * (doc_id, chunk_idx, n_tokens, chunk_hash). */
  private[operators] def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1000000007L
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val t = docs
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("gear",
        (lit(7L) * length(col("tok")) + ascii(col("tok"))) % M)
    val tri = t
      .withColumn("g1", lag("gear", 1).over(wDoc))
      .withColumn("g2", lag("gear", 2).over(wDoc))
      .withColumn("bnd",
        when(col("g2").isNotNull &&
          pmod(col("g2") * 961 + col("g1") * 31 + col("gear"), lit(M))
            % 16 === 0, 1L).otherwise(0L))
      .withColumn("chunk_idx", sum("bnd").over(wDoc))
    tri.groupBy("doc_id", "chunk_idx")
      .agg(count(lit(1)).as("n_tokens"),
        TextFunctions.fingerprint(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The q138 chunk-level dedup over [[cdcChunks]] output: pairs sharing
    * >= minShared distinct chunk fingerprints, with containment. */
  private[operators] def cdcDedup(docs: DataFrame, minShared: Long): DataFrame = {
    val dc = cdcChunks(docs).select("doc_id", "chunk_hash").distinct()
    val nc = dc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = dc.alias("a").join(dc.alias("b"),
        col("a.chunk_hash") === col("b.chunk_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    pairs
      .join(nc.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(nc.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        (col("shared").cast("double")
          / least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q33
    "q33_dedup_exact" -> QueryDef.sql(
      "Exact dedup by content hash: md5 groupBy keeping the lowest doc_id " +
      "as canonical. One hash-partitioned shuffle; at 100 TB this is a " +
      "single exchange on a 16-byte key.",
      """SELECT md5(text) AS content_hash,
        |  min(doc_id)::BIGINT AS canonical_id,
        |  count(*)::BIGINT AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },

    // ---------------------------------------------------------------- q34
    "q34_dedup_jaccard_pairs" -> QueryDef.sql(
      "Exact 3-gram-shingle Jaccard near-dup pairs (j >= 0.05) on the " +
      "doc_id<300 slice. Pairwise-exact ground truth for the sketch " +
      "operators; the unbounded-scale variant is q35 (LSH candidates).",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents WHERE doc_id < 300),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.sh, b.sh))::DOUBLE
        |    / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jac
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |    / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val a = shingled(s, d, Some(300)).select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = shingled(s, d, Some(300)).select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          TextFunctions.jaccard(col("sh_a"), col("sh_b")).as("jac"))
        .where(col("jac") >= 0.05)
        .orderBy("doc_a", "doc_b")
    },

    // ---------------------------------------------------------------- q35
    "q35_dedup_minhash_lsh" -> QueryDef.sql(
      "MinHash(16) + LSH(8 bands x 2 rows) fuzzy dedup over the FULL " +
      "corpus: candidates via equi-join on band buckets (no cross " +
      "join anywhere — this is the shape that survives 100 TB), then " +
      "exact Jaccard confirmation at j >= 0.3. ORACLE-CHECKED since " +
      "r12 (was rows-only): the confirmed-pair set is reproducible " +
      "without the engine hashes because (a) confirmation is exact " +
      "Jaccard, so any spurious band collision dies at the j >= 0.3 " +
      "gate (the corpus' only pairs above 0.1 sit at >= 0.8 — the " +
      "q66 premise the Verify probe guards), and (b) 8x2-banding " +
      "recall on >= 0.8 pairs is exactly 1.0 on this corpus (same " +
      "premise, same guard) — so LSH-confirmed == the exact " +
      "shared-shingle-blocked pair set at the gate, and the DuckDB " +
      "oracle computes THAT set directly (the q34 algebra, corpus-" +
      "wide with shingle blocking). A banding/hashing regression " +
      "that loses a true pair (or a premise break from a corpus " +
      "change) hash-fails the row set; the probe message names the " +
      "cause. jac is one IEEE division of exact ints (the q75 " +
      "argument).",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        |sz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM s
        |       WHERE len(sh) > 0),
        |x AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |ints AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    count(*)::BIGINT AS i
        |  FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  i::DOUBLE / (sa.n + sb.n - i)::DOUBLE AS jac
        |FROM ints JOIN sz sa ON da = sa.doc_id
        |JOIN sz sb ON db = sb.doc_id
        |WHERE i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      lshConfirmedPairs(Tables.documents(s, d), 0.3)
        .orderBy("doc_a", "doc_b")
    },

    // ---------------------------------------------------------------- q91
    "q91_setsim_join_exact" -> QueryDef.sql(
      "EXACT full-corpus set-similarity self-join at Jaccard >= 0.5 " +
      "via AllPairs prefix filtering — recall 1.0 by theorem (any " +
      "qualifying pair shares a rarest-first prefix token), so unlike " +
      "the LSH path (q35/q66) the result needs no probabilistic " +
      "premise, yet the plan still contains NO all-pairs product: " +
      "candidates are an equi-join on prefix tokens + the 2*min>=max " +
      "length filter, then exact intersection sizes confirm. The " +
      "oracle is blocked the same exact way q66's is (round-10: the " +
      "earlier all-pairs form was intractable at the ~sf1 gate): " +
      "jac >= 0.5 implies a shared shingle, so a shingle equi-join + " +
      "per-pair count is EXACT, never a nested-loop product; jac is " +
      "inter/(sz_a+sz_b-inter) — one IEEE division of the same exact " +
      "ints both engines hold, bit-identical to the engine's " +
      "inter/union.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        |sz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM s
        |       WHERE len(sh) > 0),
        |x AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*)::BIGINT AS inter_n
        |  FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, p.inter_n,
        |  sa.n AS sz_a, sb.n AS sz_b,
        |  p.inter_n::DOUBLE / (sa.n + sb.n - p.inter_n)::DOUBLE AS jac
        |FROM pair p
        |JOIN sz sa ON p.doc_a = sa.doc_id
        |JOIN sz sb ON p.doc_b = sb.doc_id
        |WHERE p.inter_n::DOUBLE / (sa.n + sb.n - p.inter_n)::DOUBLE >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      prefixFilterPairs(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q64
    "q64_benchmark_contamination" -> QueryDef.sql(
      "Benchmark contamination detection: flag corpus documents sharing " +
      "any 3-gram shingle with a benchmark set (docs 0-4 stand in for an " +
      "eval suite) and count the overlapping shingles — the " +
      "decontamination pass every LLM training corpus runs against its " +
      "eval benchmarks before training. Shape at 100 TB: the benchmark " +
      "shingle set is small BY NATURE (eval suites are thousands of " +
      "documents, not billions) -> it broadcasts; the corpus shingle " +
      "explode streams through a broadcast hash join + one aggregation, " +
      "no corpus-side shuffle before the per-doc count. Per-doc shingles " +
      "are already distinct (WordShingles), so (doc_id, shingle) rows " +
      "are unique and a plain count is the distinct overlap count.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, unnest($sqlShingles) AS sh FROM t),
        |bench AS (SELECT DISTINCT sh FROM s WHERE doc_id < 5)
        |SELECT s.doc_id, count(*)::BIGINT AS n_contaminated_shingles
        |FROM s JOIN bench USING (sh)
        |WHERE s.doc_id >= 5
        |GROUP BY s.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sh = shingled(s, d, None)
        .select(col("doc_id"), explode(col("sh")).as("sh"))
      val bench = sh.where(col("doc_id") < 5).select("sh").distinct()
      sh.where(col("doc_id") >= 5)
        .join(broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_contaminated_shingles"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q258
    "q258_decontamination_impact" -> QueryDef.sql(
      "Decontamination impact report — what q64's flag COSTS each " +
      "source when acted on (the budget sheet a curator signs before " +
      "dropping contaminated docs): per source, exact doc and token " +
      "totals over the corpus side (doc_id >= 5), the contaminated " +
      "subset (>= 1 shared 3-gram shingle with the doc 0-4 benchmark " +
      "set, exactly q64's rule), and the kept-token share as one " +
      "IEEE division. Exact integers elsewhere -> hash-exact. Shape " +
      "at 100 TB: the benchmark shingle set broadcasts (eval suites " +
      "are small by nature); ONE corpus scan feeds both the per-doc " +
      "flag (broadcast semi-join on the exploded shingles) and the " +
      "token counts; the rollup is source-bounded.",
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w
        |  FROM documents),
        |s AS (SELECT doc_id, source, len(w)::BIGINT AS n_tok,
        |    $sqlShingles AS sh FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS g FROM s
        |  WHERE doc_id < 5),
        |bad AS (SELECT DISTINCT x.doc_id
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM s
        |        WHERE doc_id >= 5) x
        |  JOIN bench ON x.g = bench.g)
        |SELECT s.source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_removed,
        |  sum(s.n_tok)::BIGINT AS tokens_total,
        |  sum(CASE WHEN bad.doc_id IS NOT NULL THEN s.n_tok ELSE 0
        |    END)::BIGINT AS tokens_removed,
        |  sum(CASE WHEN bad.doc_id IS NULL THEN s.n_tok ELSE 0
        |    END)::DOUBLE / sum(s.n_tok)::DOUBLE AS kept_token_share
        |FROM s LEFT JOIN bad ON s.doc_id = bad.doc_id
        |WHERE s.doc_id >= 5
        |GROUP BY 1 ORDER BY s.source""".stripMargin) { (s, d) =>
      decontaminationImpact(s, d)
    },

    // ---------------------------------------------------------------- q65
    "q65_dedup_clusters" -> QueryDef.sql(
      "Near-dup CLUSTER formation + canonical election — the step after " +
      "pair/bucket detection (q33-q36) that an actual dedup pipeline " +
      "needs: connected components over the similarity graph, one " +
      "canonical doc (min doc_id) kept per cluster. Edges: pairs sharing " +
      ">= 3 3-gram shingles on the doc_id<300 ground-truth slice (same " +
      "bounded-slice posture as q34; the FULL-corpus composition with " +
      "q35's LSH band-bucket edges ships as q66). Spark side: iterative " +
      "min-label propagation to fixpoint — " +
      "each round is one equi-join (edges x labels) + one min-aggregate, " +
      "the Pregel pattern in plain DataFrames, rounds bounded by the " +
      "cluster diameter; the unique fixpoint (min doc_id per component) " +
      "is deterministic, so DuckDB's recursive-CTE transitive closure " +
      "reaches bit-identical labels.",
      s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlToks AS w
        |           FROM documents WHERE doc_id < 300),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        |x AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
        |       FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2 HAVING count(*) >= 3),
        |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |cc AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
        |       FROM reach GROUP BY a),
        |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
        |       FROM cc GROUP BY cluster_id)
        |SELECT cc.doc_id, cc.cluster_id,
        |  (cc.doc_id = cc.cluster_id) AS is_canonical, cs.cluster_size
        |FROM cc JOIN cs USING (cluster_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // The propagation loop ([[clusterAssignments]]) must run Spark jobs
      // to reach its fixpoint — staged via LazyStage so building this
      // DataFrame costs nothing (round 3 ran the loop at catalog-build
      // time: 1.68 s of build_sec) and the loop executes exactly once, on
      // whatever action deliberately materializes the result.
      graft.plans.LazyStage.defer(s, clusterSchema) { () =>
        clustersOf(shingled(s, d, Some(300)).select("doc_id"),
          clusterEdges(s, d))
      }
    },

    // ---------------------------------------------------------------- q66
    "q66_dedup_fuzzy_full" -> QueryDef.sql(
      "THE composed full-corpus fuzzy-dedup operator — the 100 TB " +
      "headline: MinHash+LSH band-bucket candidates over the ENTIRE " +
      "documents table (q35's equi-join shape, never a cross join), " +
      "exact-Jaccard confirmation at 0.5, then connected-component " +
      "cluster formation + canonical election (q65's O(log diameter) " +
      "min-label propagation). Every doc gets a cluster_id; docs " +
      "without a near-dup are singletons. The DuckDB oracle mirrors it " +
      "with exact edges + a recursive CTE (blocked on shared shingles — " +
      "an exactness-preserving prefilter, since j >= 0.5 implies an " +
      "intersection; 3.4 s instead of 29 s of all-pairs) — valid because on " +
      "this corpus every true near-dup pair sits at j >= 0.8 (measured: " +
      "no pair in [0.1, 0.8) at sf0.01), where the 8x2 banding miss " +
      "probability is <= (1-0.8^2)^8 = 2.8e-4 per pair, so LSH recall " +
      "is exactly 1.0 and the engine's sketch-built edge set equals the " +
      "oracle's exact one; DedupSpec asserts that set equality " +
      "explicitly at sf0.001.",
      s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
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
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |cc AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
        |       FROM reach GROUP BY a),
        |cs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
        |       FROM cc GROUP BY cluster_id)
        |SELECT cc.doc_id, cc.cluster_id,
        |  (cc.doc_id = cc.cluster_id) AS is_canonical, cs.cluster_size
        |FROM cc JOIN cs USING (cluster_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.plans.LazyStage.defer(s, clusterSchema) { () =>
        fuzzyFullClusters(Tables.documents(s, d))
      }
    },

    // ---------------------------------------------------------------- q36
    "q36_dedup_simhash" -> QueryDef.sql(
      "SimHash near-dup signature AUDITED against exact shingle " +
      "Jaccard (the q46/q85 conversion pattern — r11 item 7: the raw " +
      "64-bit signature is engine-internal hashing no portable SQL " +
      "can reproduce, so the catalog row emits the engine-" +
      "INDEPENDENT audit instead and the signature keeps its " +
      "DedupSpec/SketchesSpec anchors): shared-shingle-blocked doc " +
      "pairs (the q75/q91 equi-join shape, never corpus-quadratic) " +
      "tiered by ground truth — exact (md5-equal text), near (exact " +
      "3-gram Jaccard >= 0.8), far (< 0.1); per tier the exact " +
      "integer pair count and shingle intersection/union sums, plus " +
      "the oracle-PINNED verdict the signature must earn: exact " +
      "pairs have hamming identically 0 (same tokens -> same " +
      "signature, bit for bit) and near pairs beat far pairs on MEAN " +
      "hamming via the exact integer cross-product ham_near*n_far < " +
      "ham_far*n_near — no float ever decides the verdict, and a " +
      "signature regression (hash family, weighting, bit order) " +
      "hash-fails the row. Jac tier cuts are one IEEE division of " +
      "exact ints on both engines (the q75 argument). Shape at " +
      "100 TB: the SIGNATURE is one scan; the audit certifies it on " +
      "the blocked pair set (sampled blocks at corpus scale) exactly " +
      "like q46 certifies HLL against the exact count.",
      s"""WITH t AS (SELECT doc_id, md5(text) AS h, $sqlToks AS w
        |  FROM documents),
        |s AS (SELECT doc_id, h, $sqlShingles AS sh FROM t),
        |sz AS (SELECT doc_id, h, len(sh)::BIGINT AS n FROM s
        |       WHERE len(sh) > 0),
        |x AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |ints AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    count(*)::BIGINT AS i
        |  FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (SELECT i, sa.n AS na, sb.n AS nb,
        |    CASE WHEN sa.h = sb.h THEN 'exact'
        |         WHEN i::DOUBLE / (sa.n + sb.n - i)::DOUBLE >= 0.8
        |           THEN 'near'
        |         WHEN i::DOUBLE / (sa.n + sb.n - i)::DOUBLE < 0.1
        |           THEN 'far' END AS tier
        |  FROM ints JOIN sz sa ON da = sa.doc_id
        |  JOIN sz sb ON db = sb.doc_id),
        |agg AS (SELECT tier, count(*)::BIGINT AS n_pairs,
        |    sum(i)::BIGINT AS s_i, sum(na + nb - i)::BIGINT AS s_u
        |  FROM p WHERE tier IS NOT NULL GROUP BY 1),
        |spine AS (SELECT unnest(['exact', 'near', 'far']) AS tier)
        |SELECT sp.tier, coalesce(a.n_pairs, 0)::BIGINT AS n_pairs,
        |  coalesce(a.s_i, 0)::BIGINT AS sum_shingle_inter,
        |  coalesce(a.s_u, 0)::BIGINT AS sum_shingle_union,
        |  true AS sim_audit
        |FROM spine sp LEFT JOIN agg a ON sp.tier = a.tier
        |ORDER BY sp.tier""".stripMargin) { (s, d) =>
      simhashAudit(s, Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q75
    "q75_incremental_dedup" -> QueryDef.sql(
      "Incremental (delta-vs-corpus) dedup — the shape a 100 TB corpus " +
      "actually runs daily: you never re-cluster the world, you tier " +
      "each INCOMING doc (deterministic delta split doc_id % 10 >= 8) " +
      "against the STANDING corpus as exact_dup (md5 hash hit, matched " +
      "to the corpus canonical), near_dup (shingle Jaccard >= 0.5, " +
      "matched to the best corpus doc — max jac, ties to smallest id), " +
      "or keep. Scale shape: the exact tier is one equi-join on a " +
      "16-byte key against the corpus hash index; the fuzzy tier " +
      "probes the corpus LSH band index with an asymmetric equi-join " +
      "whose cost tracks |delta| x collision rate, never corpus^2 — " +
      "both indexes are precomputable assets that persist between " +
      "ingests (recomputed inline here; the plan shape is identical). " +
      "Oracle parity on the fuzzy tier holds for the same reason as " +
      "q66: no corpus pair sits in the [0.1, 0.8) Jaccard gap (the " +
      "Verify premise probe guards this), so 8x2-banding recall is " +
      "exactly 1.0 and the sketch-probed match set equals the oracle's " +
      "exact shared-shingle-blocked one; jac doubles are one IEEE " +
      "division of exact ints on both engines.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |sgl AS (SELECT doc_id, $sqlShingles AS sh FROM t),
        |corsz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM sgl
        |          WHERE doc_id % 10 < 8 AND len(sh) > 0),
        |incsz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM sgl
        |          WHERE doc_id % 10 >= 8 AND len(sh) > 0),
        |xc AS (SELECT doc_id, unnest(sh) AS g FROM sgl
        |       WHERE doc_id % 10 < 8),
        |xi AS (SELECT doc_id, unnest(sh) AS g FROM sgl
        |       WHERE doc_id % 10 >= 8),
        |ints AS (SELECT i.doc_id, c.doc_id AS cand_id,
        |    count(*)::BIGINT AS inter_n
        |  FROM xi i JOIN xc c ON i.g = c.g GROUP BY 1, 2),
        |corh AS (SELECT md5(text) AS hh, min(doc_id)::BIGINT AS exact_id
        |         FROM documents WHERE doc_id % 10 < 8 GROUP BY md5(text)),
        |ex AS (SELECT d.doc_id, corh.exact_id
        |       FROM documents d LEFT JOIN corh ON md5(d.text) = corh.hh
        |       WHERE d.doc_id % 10 >= 8),
        |pairs AS (SELECT n.doc_id, n.cand_id,
        |    n.inter_n::DOUBLE / (si.n + sc.n - n.inter_n)::DOUBLE AS jac
        |  FROM ints n
        |  JOIN incsz si ON n.doc_id = si.doc_id
        |  JOIN corsz sc ON n.cand_id = sc.doc_id
        |  WHERE n.inter_n::DOUBLE
        |      / (si.n + sc.n - n.inter_n)::DOUBLE >= 0.5),
        |best AS (SELECT doc_id, cand_id, jac,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY jac DESC, cand_id) AS rn
        |  FROM pairs)
        |SELECT ex.doc_id,
        |  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact_dup'
        |       WHEN b.cand_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'keep' END AS verdict,
        |  (CASE WHEN ex.exact_id IS NOT NULL THEN ex.exact_id
        |        ELSE b.cand_id END)::BIGINT AS matched_id,
        |  (CASE WHEN ex.exact_id IS NOT NULL THEN 1.0
        |        ELSE b.jac END)::DOUBLE AS match_jac
        |FROM ex LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON ex.doc_id = b.doc_id
        |ORDER BY ex.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      incrementalDedup(
        docs.where(col("doc_id") % 10 < 8),
        docs.where(col("doc_id") % 10 >= 8))
    },

    // --------------------------------------------------------------- q100
    "q100_editdist_join" -> QueryDef.sql(
      "Edit-distance similarity self-join over the distinct part-name " +
      "vocabulary (pairs with levenshtein <= 2) via FastSS deletion " +
      "neighborhoods — the typo/variant-mining operator: any two " +
      "strings within edit distance k share a member of their " +
      "k-deletion neighborhoods (FastSS guarantee), so candidates are " +
      "an EQUI-JOIN on deletion variants — never an all-pairs " +
      "levenshtein — and the exact distance is computed only on " +
      "candidates, then filtered to 1..2 (distance is an int -> " +
      "hash-exact; both engines implement classic unit-cost " +
      "Wagner-Fischer). Shape at 100 TB: the input is the DISTINCT " +
      "name vocabulary (dimension-sized by nature); variants per name " +
      "are O(len^2) ~ 50 short strings; the variant join is " +
      "hash-partitioned with AQE handling hot variants; the confirm " +
      "set is candidate pairs only. This is q93's sketch-prune/" +
      "exact-confirm pattern with the deletion neighborhood as the " +
      "(recall-1.0) sketch.",
      """WITH names AS (SELECT DISTINCT p_name AS t FROM part),
        |v1 AS (
        |  SELECT t, t AS v FROM names
        |  UNION ALL
        |  SELECT t, substr(t, 1, i - 1) || substr(t, i + 1) AS v
        |  FROM names, unnest(generate_series(1, len(t))) AS g(i)),
        |v2 AS (
        |  SELECT t, v FROM v1
        |  UNION ALL
        |  SELECT t, substr(v, 1, i - 1) || substr(v, i + 1) AS v2v
        |  FROM (SELECT t, v FROM v1 WHERE v <> t) d,
        |    unnest(generate_series(1, len(d.v))) AS g(i)),
        |vars AS (SELECT DISTINCT t, v FROM v2),
        |cand AS (SELECT DISTINCT a.t AS name_a, b.t AS name_b
        |  FROM vars a JOIN vars b ON a.v = b.v AND a.t < b.t)
        |SELECT name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
        |FROM cand
        |WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 2
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      editDistanceJoin(
        Tables.part(s, d).select(col("p_name").as("t")).distinct(), maxDist = 2)
    },

    // --------------------------------------------------------------- q137
    "q137_cdc_chunks" -> QueryDef.sql(
      "Content-defined chunking (the FastCDC/storage-dedup family, " +
      "gear-hash form) over the token stream: gear g = 7*len + " +
      "ascii(first char) per token (the q32 contribution), a chunk " +
      "boundary wherever the trigram hash (g2*961 + g1*31 + g) mod " +
      "1e9+7 lands on a %16 == 0 value, and each chunk carries the " +
      "q32 rolling fingerprint of its tokens. Because boundaries " +
      "depend only on LOCAL content, an insertion early in a document " +
      "shifts chunk positions but not the chunks themselves — the " +
      "shift-resistance exact whole-doc hashing (q33) lacks, and the " +
      "building block q138 dedups on. All arithmetic is exact int64 " +
      "mod 1e9+7 -> hash-exact. Shape at 100 TB: explode -> two lags " +
      "+ one running sum, ALL in one doc-partitioned window pass " +
      "(bounded by doc length, the q69 partitioning rule) -> one " +
      "(doc, chunk) aggregate; no joins.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |e0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> {'pos': i, 'tok': w[i]})) AS u FROM t),
        |e AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM e0),
        |ge AS (SELECT doc_id, pos, tok,
        |    (7 * length(tok)::BIGINT + ascii(tok)::BIGINT) % 1000000007
        |      AS gear
        |  FROM e),
        |tri AS (SELECT doc_id, pos, tok, gear,
        |    lag(gear, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1,
        |    lag(gear, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2
        |  FROM ge),
        |b AS (SELECT doc_id, pos, tok,
        |    CASE WHEN g2 IS NOT NULL
        |      AND (g2 * 961 + g1 * 31 + gear) % 1000000007 % 16 = 0
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM tri),
        |ch AS (SELECT doc_id, pos, tok,
        |    sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos)::BIGINT
        |      AS chunk_idx
        |  FROM b)
        |SELECT doc_id, chunk_idx, count(*)::BIGINT AS n_tokens,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(list(tok ORDER BY pos),
        |      t -> 7 * length(t)::BIGINT + ascii(t)::BIGINT)),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS chunk_hash
        |FROM ch
        |GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      cdcChunks(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q138
    "q138_cdc_dedup" -> QueryDef.sql(
      "Chunk-level near-dup detection on q137's content-defined " +
      "chunks: document pairs sharing >= 2 distinct chunk fingerprints, " +
      "with each side's chunk count and the containment ratio " +
      "shared / min(chunks) — the storage-dedup complement to shingle " +
      "Jaccard (q34): shift-resistant, and sized by CHUNKS (~tokens/16) " +
      "rather than every token trigram. Counts are exact integers, ONE " +
      "single-shape division -> hash-exact. Shape at 100 TB: the " +
      "candidate join is an equi-join on chunk_hash (the q34/q64 " +
      "blocking rule — cost tracks shared-chunk pairs, never " +
      "corpus^2), per-doc chunk counts ride back as equi-joins on the " +
      "chunk table, no cartesian anywhere.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |e0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
        |    i -> {'pos': i, 'tok': w[i]})) AS u FROM t),
        |e AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM e0),
        |ge AS (SELECT doc_id, pos, tok,
        |    (7 * length(tok)::BIGINT + ascii(tok)::BIGINT) % 1000000007
        |      AS gear
        |  FROM e),
        |tri AS (SELECT doc_id, pos, tok, gear,
        |    lag(gear, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS g1,
        |    lag(gear, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS g2
        |  FROM ge),
        |b AS (SELECT doc_id, pos, tok,
        |    CASE WHEN g2 IS NOT NULL
        |      AND (g2 * 961 + g1 * 31 + gear) % 1000000007 % 16 = 0
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM tri),
        |ch AS (SELECT doc_id, pos, tok,
        |    sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos)::BIGINT
        |      AS chunk_idx
        |  FROM b),
        |chunks AS (SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(list(tok ORDER BY pos),
        |        t -> 7 * length(t)::BIGINT + ascii(t)::BIGINT)),
        |      (h, c) -> (h * 31 + c) % 1000000007) AS chunk_hash
        |  FROM ch GROUP BY doc_id, chunk_idx),
        |dc AS (SELECT DISTINCT doc_id, chunk_hash FROM chunks),
        |nc AS (SELECT doc_id, count(*)::BIGINT AS n FROM dc GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*)::BIGINT AS shared
        |  FROM dc a JOIN dc b ON a.chunk_hash = b.chunk_hash
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, shared, na.n AS n_a, nb.n AS n_b,
        |  (shared::DOUBLE / least(na.n, nb.n)::DOUBLE) AS containment
        |FROM pairs
        |JOIN nc na ON doc_a = na.doc_id
        |JOIN nc nb ON doc_b = nb.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      cdcDedup(Tables.documents(s, d), minShared = 2L)
    },

    // --------------------------------------------------------------- q141
    "q141_leakage_safe_split" -> QueryDef.sql(
      "Leakage-safe train/val/test split — q62's deterministic 80/10/10 " +
      "assignment keyed by q66's near-dup CLUSTER id instead of the doc " +
      "id: every member of a near-dup cluster lands on the SAME side, " +
      "closing the eval-contamination hole a per-doc split leaves open " +
      "(a test doc's near-duplicate in train is leakage that q64-style " +
      "decontamination would have to catch after the fact; splitting by " +
      "cluster prevents it by construction). Same multiplicative-hash " +
      "split stream as q62 (salt 0) applied to the canonical id, so " +
      "singleton docs get exactly their q62 assignment. Shape at " +
      "100 TB: q66's LSH + O(log diameter) clustering (the headline " +
      "composed operator) + one hash expression — the split itself " +
      "adds ZERO shuffles. PREMISE NOTE (round-9, advisor ask): the " +
      "no-leakage guarantee is as strong as q66's edge recall. Engine " +
      "clusters come from MinHash(16)+LSH(8x2) candidates; the oracle " +
      "derives exact shared-shingle edges — they agree because the " +
      "shipped corpus has no pair mass in the marginal Jaccard band " +
      "(recallPremiseGapPairs empty, probed by Verify). On an " +
      "arbitrary corpus a pair in that band can escape all 8 bands, " +
      "silently splitting a true near-dup pair across train/test: " +
      "under LSH the leakage-safety is PROBABILISTIC (miss <= " +
      "(1-j^2)^8 per pair), not by construction — swap in q91's " +
      "prefix-filter candidates (recall 1.0 by theorem) when the " +
      "premise cannot be measured.",
      s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
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
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |cc AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
        |       FROM reach GROUP BY a),
        |sp AS (SELECT doc_id, cluster_id,
        |  ${graft.functions.DeterministicHash.knuth32Sql("cluster_id", graft.functions.DeterministicHash.splitSalt)}
        |    % 100 AS hh
        |  FROM cc)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN hh < 80 THEN 'train'
        |       WHEN hh < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM sp
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.plans.LazyStage.defer(s, leakSafeSchema) { () =>
        val h = graft.functions.DeterministicHash.knuth32(col("cluster_id"), graft.functions.DeterministicHash.splitSalt)
        fuzzyFullClusters(Tables.documents(s, d))
          .select(col("doc_id"), col("cluster_id"),
            when(h % 100 < 80, "train").when(h % 100 < 90, "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      }
    },

    // --------------------------------------------------------------- q143
    "q143_dedup_savings" -> QueryDef.sql(
      "Per-source dedup-savings report — the corpus-card number every " +
      "dataset release quotes: raw token volume vs the volume left " +
      "after keeping ONE canonical per q66 near-dup cluster, and the " +
      "savings fraction dedup buys each source. A cluster's canonical " +
      "is its min doc_id (q66's election), so the kept set is " +
      "deterministic and cross-source clusters attribute their one " +
      "kept copy to the CANONICAL's source — exactly how a real " +
      "release accounts provenance. Integer counts + one division -> " +
      "hash-exact. Shape at 100 TB: q66's composed clustering + one " +
      "token-count join + one source-level aggregate. Edge semantics " +
      "(round-9, advisor asks): savings_frac is NULL for a source with " +
      "zero raw tokens (nullif-guarded division, both engines), and " +
      "CAN legitimately reach 1.0 when every cluster canonical a " +
      "source's docs elect lives in ANOTHER source — cross-source " +
      "attribution is a feature, not a bug. PREMISE NOTE (shared with " +
      "q141): cluster structure comes from q66's MinHash(16)+LSH(8x2) " +
      "candidates while the oracle derives exact shared-shingle edges, " +
      "so cross-engine equality rests on the measured corpus premise " +
      "(recallPremiseGapPairs empty — no pair mass in the marginal " +
      "Jaccard band); on an arbitrary corpus the savings accounting " +
      "is probabilistic under LSH recall, not exact by construction.",
      s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
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
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |),
        |cc AS (SELECT a AS doc_id, min(b)::BIGINT AS cluster_id
        |       FROM reach GROUP BY a),
        |tok AS (SELECT doc_id, source, len($sqlToks)::BIGINT AS n
        |        FROM documents),
        |j AS (SELECT tok.source, tok.n,
        |        (cc.doc_id = cc.cluster_id) AS is_canonical
        |      FROM cc JOIN tok ON cc.doc_id = tok.doc_id)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n)::BIGINT AS raw_tokens,
        |  sum(CASE WHEN is_canonical THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN is_canonical THEN n ELSE 0 END)::BIGINT
        |    AS kept_tokens,
        |  (1.0 - sum(CASE WHEN is_canonical THEN n ELSE 0 END)::DOUBLE
        |     / nullif(sum(n), 0)::DOUBLE) AS savings_frac
        |FROM j
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      graft.plans.LazyStage.defer(s, savingsSchema) { () =>
        dedupSavingsEntry(s, d)
      }
    },

    // --------------------------------------------------------------- q157
    "q157_span_dedup" -> QueryDef.sql(
      "Repeated-SPAN detection — the substring-level dedup pass of " +
      "Lee et al. 2022 (Deduplicating Training Data Makes Language " +
      "Models Better), which q33's whole-document hash cannot see: " +
      "every 8-token span occurring in >= 2 DISTINCT documents emits " +
      "with its document frequency and earliest carrier (boilerplate " +
      "headers, license blocks, templated passages). Spans are " +
      "distinct per document (WordShingles), so count(*) per span IS " +
      "the document frequency — one exchange, no pair join. The " +
      "emitted key is md5 of the span's UTF-8 bytes (bounded width, " +
      "collation-free ordering; both engines hash identical bytes). " +
      "Shape at 100 TB: exactly q33's — ONE map-side-combinable " +
      "aggregate keyed by the span (hash it to 16 bytes in the map " +
      "phase); the doc-frequency filter drops the singleton long " +
      "tail before anything is collected, and span REMOVAL is a " +
      "left-semi join of this table back against the exploded corpus.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 8
        |    THEN list_distinct(list_transform(
        |         generate_series(1, len(w)-7),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |              w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
        |              w[i+6] || ' ' || w[i+7]))
        |    ELSE []::VARCHAR[] END) AS g FROM t),
        |df AS (SELECT g, count(*)::BIGINT AS n_docs,
        |         min(doc_id)::BIGINT AS first_doc
        |       FROM s GROUP BY g)
        |SELECT md5(g) AS span_hash, n_docs, first_doc
        |FROM df WHERE n_docs >= 2
        |ORDER BY span_hash""".stripMargin) { (s, d) =>
      spanDedup(Tables.documents(s, d), 8)
    },

    // --------------------------------------------------------------- q166
    "q166_span_provenance" -> QueryDef.sql(
      "Duplication provenance matrix — WHICH SOURCES duplicate each " +
      "other, the attribution pass a curation pipeline runs after " +
      "q157 finds repeated spans (two scrapes of the same site show " +
      "up as a hot cross-source cell; templated boilerplate within " +
      "one crawl as a hot diagonal): per (source_a, source_b), the " +
      "number of cross-document pairs sharing an 8-token span, and " +
      "the number of distinct spans involved. The pair counts are " +
      "CLOSED-FORM from per-(span, source) carrier counts — " +
      "c*(c-1)/2 within a source, c_a*c_b across — so NO document " +
      "pair join ever runs: the only join is the per-span self-join " +
      "of the (span, source) count frame, keyed by span with at most " +
      "|sources| rows per key (bounded fan-out by construction). " +
      "ALL-INTEGER -> hash-exact. Shape at 100 TB: q157's single " +
      "span exchange, one (span, source) aggregate on top, one " +
      "bounded-key join, and a sources^2-sized output — the pair " +
      "EXPLOSION a naive dup-pair provenance join would pay is " +
      "factored away arithmetically.",
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, source, unnest(CASE WHEN len(w) >= 8
        |    THEN list_distinct(list_transform(
        |         generate_series(1, len(w)-7),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |              w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
        |              w[i+6] || ' ' || w[i+7]))
        |    ELSE []::VARCHAR[] END) AS g FROM t),
        |c AS (SELECT g, source, count(*)::BIGINT AS c FROM s GROUP BY 1, 2),
        |w2 AS (SELECT source AS source_a, source AS source_b,
        |    sum(c * (c - 1) // 2)::BIGINT AS n_pairs,
        |    count(*)::BIGINT AS n_spans
        |  FROM c WHERE c >= 2 GROUP BY 1, 2),
        |x AS (SELECT a.source AS source_a, b.source AS source_b,
        |    sum(a.c * b.c)::BIGINT AS n_pairs, count(*)::BIGINT AS n_spans
        |  FROM c a JOIN c b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_pairs, n_spans
        |FROM (SELECT * FROM w2 UNION ALL SELECT * FROM x)
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      spanProvenance(Tables.documents(s, d), 8)
    }
  )

  /** The q166 duplication-provenance matrix over an arbitrary
    * (doc_id, source, text) frame: cross-document span-sharing pairs
    * attributed to source pairs via CLOSED-FORM counts from the
    * per-(span, source) carrier aggregate — no document pair join.
    * Shared by the catalog entry and DedupSpec. */
  private[operators] def spanProvenance(docs: DataFrame, n: Int): DataFrame = {
    val sp = docs
      .select(col("doc_id"), col("source"),
        explode(TextFunctions.shinglesOfText(col("text"), n)).as("g"))
    val c = sp.groupBy("g", "source").agg(count(lit(1)).as("c"))
    val within = c.where(col("c") >= 2)
      .groupBy(col("source").as("source_a"))
      .agg(sum(expr("c * (c - 1) DIV 2")).cast("long").as("n_pairs"),
        count(lit(1)).as("n_spans"))
      .select(col("source_a"), col("source_a").as("source_b"),
        col("n_pairs"), col("n_spans"))
    val cross = c.as("a")
      .join(c.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(sum(col("a.c") * col("b.c")).cast("long").as("n_pairs"),
        count(lit(1)).as("n_spans"))
    within.unionByName(cross
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          col("n_spans")))
      .orderBy("source_a", "source_b")
  }

  /** The q157 repeated-span table over an arbitrary documents frame:
    * every n-token span carried by >= 2 distinct documents, with its
    * document frequency and earliest carrier. Spans are per-document
    * DISTINCT (WordShingles), so one count per span IS the document
    * frequency — a single map-side-combinable exchange, no pair join. */
  private[operators] def spanDedup(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"),
        explode(TextFunctions.shinglesOfText(col("text"), n)).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .where(col("n_docs") >= 2)
      .select(md5(col("g").cast("binary")).as("span_hash"),
        col("n_docs"), col("first_doc"))
      .orderBy("span_hash")

  private val savingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("raw_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_kept",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("kept_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("savings_frac",
      org.apache.spark.sql.types.DoubleType)))

  /** The q143 per-source dedup-savings report: raw vs canonical-only
    * token counts over [[fuzzyFullClusters]]. */
  private def dedupSavingsEntry(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val tok = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n"))
    fuzzyFullClusters(Tables.documents(s, d))
      .select("doc_id", "is_canonical")
      .join(tok, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").cast("long").as("raw_tokens"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).cast("long")
          .as("n_kept"),
        sum(when(col("is_canonical"), col("n")).otherwise(0L)).cast("long")
          .as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("n_kept"), col("kept_tokens"),
        // nullif guard (round-9 advisor ask): a source of only
        // empty-token docs has raw_tokens = 0 — savings is undefined
        // there, NULL on both engines, never a NaN/divide artifact
        (lit(1.0) - col("kept_tokens").cast("double")
          / nullif(col("raw_tokens"), lit(0L)).cast("double"))
          .as("savings_frac"))
      .orderBy("source")
  }

  private val leakSafeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("split",
      org.apache.spark.sql.types.StringType, nullable = false)))

  /** The q100 FastSS edit-distance join over an arbitrary single-column
    * string frame `t` — shared by the catalog entry and
    * SkylineTriangleSpec. Emits (name_a, name_b, dist) with
    * 1 <= dist <= maxDist (maxDist <= 2: the deletion neighborhood is
    * generated to depth 2). */
  def editDistanceJoin(names: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, "deletion depth generated to 2")
    // 1-deletion variants: one substring splice per position, written as
    // a SQL transform() so the whole neighborhood stays inside codegen
    val v1 = names.select(col("t"), explode(concat(array(col("t")),
      expr("transform(sequence(1, length(t)), i -> " +
        "concat(substring(t, 1, i - 1), substring(t, i + 1, length(t))))")))
      .as("v"))
    val v2 = v1.where(col("v") =!= col("t"))
      .select(col("t"), explode(
        expr("transform(sequence(1, length(v)), i -> " +
          "concat(substring(v, 1, i - 1), substring(v, i + 1, length(v))))"))
        .as("v"))
    val vars = (if (maxDist >= 2) v1.unionByName(v2) else v1).distinct()
    val cand = vars.select(col("t").as("name_a"), col("v"))
      .join(vars.select(col("t").as("name_b"), col("v")), "v")
      .where(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
    cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("dist").between(1, maxDist))
      .orderBy("name_a", "name_b")
  }
}
