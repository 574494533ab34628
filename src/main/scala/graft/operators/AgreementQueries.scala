package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Agreement / preference statistics for labeling and RLHF-style data
  * pipelines: chance-corrected inter-annotator agreement (Cohen's
  * kappa), the paired-classifier McNemar test, Bradley-Terry preference
  * strengths from pairwise duels, and Hamilton largest-remainder
  * apportionment of a sampling budget. Every query follows the
  * catalog's exactness discipline: integer contingency/duel counts,
  * integer cross-multiplication for every ratio election, and at most
  * single-shape IEEE divisions in emitted double columns — hash-exact
  * against DuckDB with no tolerance.
  */
object AgreementQueries {

  /** Strength scale for Bradley-Terry fixed-point iterates (p0 = 1.0
    * in units of 1e-9) and the extra precision scale applied to the
    * per-pair denominator terms. Products stay under int64 at the
    * shipped SFs; past ~9e3 duels per pair the numerators lift to
    * decimal(38,0) (the q169 128-bit rule) — the Spark side already
    * computes them there.
    */
  private val S = 1000000000L
  private val P = 1000000L

  // ------------------------------------------------------------------
  // q235 Cohen's kappa: shared grid + read-back (batch and streaming)
  // ------------------------------------------------------------------

  /** Tercile labels from the two independent "annotators": document
    * char length (the table's n_chars) vs whitespace-token count.
    * Thresholds are fixed corpus terciles so the 3x3 table is
    * non-degenerate (measured: 12/500 off-diagonal at sf0.01). Pure
    * per-row expressions — usable verbatim on a stream. */
  def annotatorLabels(docs: DataFrame): DataFrame =
    docs.select(
      when(col("n_chars").cast("long") < 220L, 0L)
        .when(col("n_chars").cast("long") < 385L, 1L)
        .otherwise(2L).as("a"),
      when(size(tokens(col("text"))).cast("long") < 40L, 0L)
        .when(size(tokens(col("text"))).cast("long") < 70L, 1L)
        .otherwise(2L).as("b"))

  /** The contingency grid — one commutative count per (a, b) cell, so
    * the streaming twin maintains it in Complete mode with <= 9 cells
    * of state. */
  def agreementGrid(labeled: DataFrame): DataFrame =
    labeled.groupBy("a", "b").agg(count(lit(1)).cast("long").as("n_cell"))

  /** Kappa decoration over stored cells: marginals, the exact integer
    * kappa_num = n*agree - sum_k(row_k*col_k) over kappa_den = n^2 -
    * sum_k(row_k*col_k), and the two single-shape IEEE divisions
    * (observed agreement po, kappa). Pure algebra over the grid —
    * batch query and streaming read-back share this code path. */
  def agreementReadBack(cells: DataFrame): DataFrame = {
    val ra = cells.groupBy("a").agg(sum("n_cell").cast("long").as("row_n"))
    val cb = cells.groupBy("b").agg(sum("n_cell").cast("long").as("col_n"))
    val tot = broadcast(cells.agg(
      sum("n_cell").cast("long").as("n"),
      sum(when(col("a") === col("b"), col("n_cell")).otherwise(0L))
        .cast("long").as("agree")))
    val pe = broadcast(
      ra.join(cb, col("a") === col("b"))
        .agg(sum(col("row_n") * col("col_n")).cast("long").as("pe_num")))
    cells.join(ra, "a").join(cb, "b").crossJoin(tot).crossJoin(pe)
      .select(col("a").as("a_label"), col("b").as("b_label"),
        col("n_cell"), col("row_n"), col("col_n"), col("n"), col("agree"),
        (col("n") * col("agree") - col("pe_num")).cast("long")
          .as("kappa_num"),
        (col("n") * col("n") - col("pe_num")).cast("long").as("kappa_den"),
        (col("agree").cast("double") / col("n").cast("double")).as("po"),
        ((col("n") * col("agree") - col("pe_num")).cast("double")
          / (col("n") * col("n") - col("pe_num")).cast("double"))
          .as("kappa"))
      .orderBy("a_label", "b_label")
  }

  /** q235 as one composition — shared with the streaming twin. */
  def cohensKappa(docs: DataFrame): DataFrame =
    agreementReadBack(agreementGrid(annotatorLabels(docs)))

  // ------------------------------------------------------------------
  // q236 McNemar paired test
  // ------------------------------------------------------------------

  /** Paired comparison of two "is this a long document" classifiers
    * against the char-length truth: A reads token count, B a noisy
    * character-level proxy (count of 'e'). Emits the 2x2 correctness
    * grid, the discordant counts and the exact-integer-numerator
    * McNemar statistic. */
  def mcnemar(docs: DataFrame): DataFrame = {
    val lab = docs.select(
      (col("n_chars").cast("long") >= 385L).as("tr"),
      (size(tokens(col("text"))).cast("long") >= 70L).as("ca"),
      ((length(col("text"))
        - length(expr("replace(text, 'e', '')"))).cast("long") >= 30L)
        .as("cb"))
    val g = lab.agg(
      count(lit(1)).cast("long").as("n"),
      sum(when(col("ca") === col("tr"), 1L).otherwise(0L)).cast("long")
        .as("a_correct"),
      sum(when(col("cb") === col("tr"), 1L).otherwise(0L)).cast("long")
        .as("b_correct"),
      sum(when(col("ca") === col("tr") && col("cb") =!= col("tr"), 1L)
        .otherwise(0L)).cast("long").as("b_disc"),
      sum(when(col("ca") =!= col("tr") && col("cb") === col("tr"), 1L)
        .otherwise(0L)).cast("long").as("c_disc"))
    g.select(col("n"), col("a_correct"), col("b_correct"),
        col("b_disc"), col("c_disc"),
        when(col("b_disc") + col("c_disc") === 0L, lit(0.0))
          .otherwise(((col("b_disc") - col("c_disc"))
            * (col("b_disc") - col("c_disc"))).cast("double")
            / (col("b_disc") + col("c_disc")).cast("double"))
          .as("mcnemar_stat"))
      .withColumn("reject_05",
        when(col("mcnemar_stat") > 3.841, 1L).otherwise(0L))
  }

  // ------------------------------------------------------------------
  // q237 Bradley-Terry preference strengths
  // ------------------------------------------------------------------

  /** Bradley-Terry strengths from within-order quantity duels, `iters`
    * exact integer MM fixed-point iterations, top `k` by strength.
    *
    * Duels: within each order, part i beats part j iff its summed
    * integer quantity is strictly larger (ties contribute nothing) —
    * basket-bounded pair generation, never corpus-quadratic. Laplace
    * +1 smoothing per orientation of every dueling pair keeps the
    * comparison graph MM-safe (every item has >= 1 win and loss).
    *
    * MM update, all integer: with strengths in units of 1/S and term
    * precision P, d_i = sum_pairs floor(n_uv*S*P / (p_u + p_v)) and
    * p_i' = max(1, floor(w_i*S*P / d_i)) — identical floor algebra on
    * both engines, so 5 iterations are hash-exact with NO float
    * anywhere (the q95 exact-int discipline). The strength frame is
    * referenced ONCE per iteration (pair-grouped endpoint sum), so
    * lineage stays linear (the q165 doubled-lineage lesson). */
  /** q237's Laplace-smoothed duel-pair matrix (u < v, per-orientation
    * smoothed wins): the ONE expensive pass (per-order duel self-join
    * + pair aggregate). The catalog entry persists this frame via
    * SharedFrames — Catalyst's ReuseExchange dedups identical subtrees
    * within one query, but the MM iterations' growing lineage defeated
    * it here (measured 69 s steady at sf0.1 with the lazy plan vs
    * ~3 s persisted: the duel build re-executed per iteration), and
    * the materialize-once answer is also the honest cluster shape —
    * the pair matrix is the orders-of-magnitude-smaller projection
    * every iteration reads. */
  def btPairs(lineitem: DataFrame): DataFrame =
    duels(lineitem)
      .groupBy(least(col("w"), col("l")).as("u"),
        greatest(col("w"), col("l")).as("v"))
      .agg((sum(when(col("w") < col("l"), 1L).otherwise(0L)) + 1L)
        .cast("long").as("w_uv"),
        (sum(when(col("w") > col("l"), 1L).otherwise(0L)) + 1L)
        .cast("long").as("w_vu"))

  /** The ONE persisted + session-shared smoothed duel-pair matrix:
    * [[graft.functions.Store]] keys it by the content fingerprint of
    * the (orderkey, partkey, quantity) stream it is a pure function of
    * (cross-session — only the first session per data snapshot pays
    * the ~6.5 s duel build at sf0.1), and SharedFrames keeps the loaded frame hot
    * within the session for every consumer iteration. Single
    * definition shared by q237 (Bradley-Terry), q251 (Copeland), and
    * [[graft.StoreWarmup]] — the bench warms EXACTLY the store entry
    * the queries read, so the keying can never drift between the
    * warmer and the consumers (VERDICT r14 item 1). */
  def btPairsStored(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.plans.SharedFrames(s, d, "bt_pairs") {
      graft.functions.Store.loadOrBuild(s, "bt_pairs", 1,
        graft.functions.Store.fingerprint(Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_partkey"), col("l_quantity"))))(
        Seq("u", "v", "w_uv", "w_vu")) {
        btPairs(Tables.lineitem(s, d))
      }
    }

  /** The (w, l) duel stream under btPairs: per-order quantity
    * comparisons, basket-bounded. Shared with the CopelandStream twin
    * (which replays exactly these rows). */
  def duels(lineitem: DataFrame): DataFrame = {
    val op = lineitem
      .groupBy(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .agg(sum(col("l_quantity").cast("long")).cast("long").as("q"))
    op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.q") > col("y.q"))
      .select(col("x.p").as("w"), col("y.p").as("l"))
  }

  /** The MM fixed point over a prepared pair matrix. Iteration shape:
    * each step's strength frame is MATERIALIZED (localCheckpoint) —
    * the |items|-row frame, bounded by the item domain — before being
    * broadcast to both endpoints of the edge join. The lineage break
    * is load-bearing, measured not guessed: a lazy p_k is referenced
    * twice by p_{k+1}, and since two differently-aliased broadcasts
    * never unify under ReuseExchange, the lazy chain re-executed the
    * whole prefix per reference — 2^iters materializations, 151 s at
    * sf0.1 for 5 iterations vs ~2 s checkpointed. The checkpoint jobs
    * run eagerly, so the CATALOG entry wraps this in LazyStage.defer
    * (the q65 iterative-fixpoint pattern) to keep plan construction
    * free; only the deliberate action pays. */
  def bradleyTerryFromPairs(pr: DataFrame, iters: Int, k: Int)
      : DataFrame = {
    val edges = pr.select(col("u").as("i"), col("v").as("j"),
        (col("w_uv") + col("w_vu")).cast("long").as("n"))
      .unionByName(pr.select(col("v").as("i"), col("u").as("j"),
        (col("w_uv") + col("w_vu")).cast("long").as("n")))
    val wins = pr.select(col("u").as("i"), col("w_uv").as("w"))
      .unionByName(pr.select(col("v").as("i"), col("w_vu").as("w")))
      .groupBy("i").agg(sum("w").cast("long").as("w"))
      .localCheckpoint()
    var p = wins.select(col("i"), lit(S).as("p")).localCheckpoint()
    (1 to iters).foreach { _ =>
      val d = edges
        .join(broadcast(p.select(col("i").as("ia"), col("p").as("pa"))),
          col("i") === col("ia"))
        .join(broadcast(p.select(col("i").as("ib"), col("p").as("pb"))),
          col("j") === col("ib"))
        .groupBy("i")
        .agg(sum(expr(s"(cast(n as decimal(38,0)) * ${S * P}L)"
          + " div (pa + pb)")).cast("long").as("d"))
      p = wins.join(d, "i")
        .select(col("i"),
          greatest(lit(1L),
            expr(s"(cast(w as decimal(38,0)) * ${S * P}L) div d"))
            .cast("long").as("p"))
        .localCheckpoint()
    }
    import org.apache.spark.sql.expressions.Window
    p.join(wins, "i")
      .orderBy(col("p").desc, col("i")).limit(k)
      .select(
        row_number().over(Window.orderBy(col("p").desc, col("i")))
          .cast("long").as("rank"),
        col("i").as("partkey"), col("w").as("wins_sm"),
        col("p").as("strength"))
      .orderBy("rank")
  }

  def bradleyTerry(lineitem: DataFrame, iters: Int, k: Int): DataFrame =
    bradleyTerryFromPairs(btPairs(lineitem), iters, k)

  /** q237's output schema (for the LazyStage deferral). */
  val btSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("partkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("wins_sm",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("strength",
        org.apache.spark.sql.types.LongType)))

  // ------------------------------------------------------------------
  // q238 Hamilton largest-remainder apportionment
  // ------------------------------------------------------------------

  /** Hamilton (largest-remainder) apportionment of a sampling budget
    * across source domains proportional to token mass: quota_i =
    * floor(B*t_i/T), leftover seats to the largest exact remainders
    * (B*t_i mod T, ties by source) — the proportional-fair companion
    * to q229's max-min waterfill. B = (3T) div 7 (data-derived so the
    * row is meaningful at any SF; never divides evenly). All exact
    * integers; B*t_i lifts to decimal(38,0) past ~1e5 budget x 1e13
    * tokens, same algebra. */
  def apportion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").cast("long").as("tok"))
    val tot = broadcast(d.agg(sum("tok").cast("long").as("t"),
      expr("(3 * sum(tok)) div 7").cast("long").as("b")))
    val q = d.crossJoin(tot).select(col("source"), col("tok"),
      col("t"), col("b"),
      expr("(b * tok) div t").cast("long").as("quota"),
      expr("(b * tok) % t").cast("long").as("remainder_num"))
    val lv = broadcast(q.agg((max("b") - sum("quota")).cast("long")
      .as("leftover")))
    q.crossJoin(lv)
      .select(col("source"), col("tok").as("avail_tokens"), col("quota"),
        col("remainder_num"), col("leftover"), col("b").as("budget"),
        row_number().over(
          Window.orderBy(col("remainder_num").desc, col("source")))
          .cast("long").as("remainder_rank"))
      .withColumn("alloc",
        (col("quota") + when(col("remainder_rank") <= col("leftover"), 1L)
          .otherwise(0L)).cast("long"))
      .orderBy("source")
  }

  // ------------------------------------------------------------------
  // q239 greedy set cover (data-selection source picking)
  // ------------------------------------------------------------------

  /** Greedy maximum-coverage source selection: `steps` rounds, each
    * picking the source covering the most still-uncovered 3-gram
    * shingles — the classic (1 - 1/e)-approximate data-selection
    * primitive a corpus curator runs to pick acquisition sources.
    *
    * Lineage discipline: the previously-chosen-source exclusion is
    * REDUNDANT (a chosen source's shingles are all covered, so its
    * anti-joined candidate set is empty and it produces no gain group),
    * which lets each step reference the winners frame exactly once (the
    * covered semi-join) — linear growth per step, and the covered
    * totals come from a window cumsum over the per-step gains (each
    * step's gain IS its newly-covered count), never a re-count join.
    * Gains and the election are exact integers (gain DESC, source ASC). */
  /** q239's (source, shingle) incidence — the one corpus pass; the
    * catalog entry persists it via SharedFrames (every greedy step
    * reads it twice, and the step chain's limit(1) barriers defeat
    * in-plan exchange reuse the same way q237's iterations did). */
  def scIncidence(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(graft.functions.TextFunctions.shinglesOfText(col("text"), 3))
          .as("g"))
      .distinct()

  /** The greedy rounds over a prepared incidence frame, fused to TWO
    * jobs per step (r12 verdict item 3 — the former shape re-derived
    * the covered-shingle set from the winners frame every step: a
    * winners broadcast join + a growing DISTINCT + an anti join over
    * the FULL incidence, per step):
    *
    *  1. election: one aggregate over the REMAINING (still-uncovered)
    *     incidence, `limit(1).collect()` — a 1-row driver collect,
    *     bounded by construction, exact (gain DESC, source ASC);
    *  2. update: the winner lands as a LITERAL, so the uncovered
    *     frame shrinks by one self-anti-join on the winner's own
    *     shingles — no winners-frame join, no covered DISTINCT —
    *     and is localCheckpoint'ed so step k+1 reads a materialized
    *     frame, never a k-deep lineage.
    *
    * The winner ledger (<= `steps` rows) and the covered cumsum live
    * on the driver in exact int64 — bounded by the literal step
    * count, never by data. Step-count-vs-cover-size contract at
    * 100 TB: per-step cost is one scan + one shuffle of the CURRENT
    * uncovered incidence, which shrinks monotonically (total work
    * <= steps * |inc|, and geometrically less when coverage
    * concentrates — the submodular-greedy regime this query exists
    * for); the checkpoint trades executor storage for not
    * re-deriving coverage, the same trade q237's iterations make. */
  def greedySetCoverFromInc(inc: DataFrame, steps: Int): DataFrame = {
    val spark = inc.sparkSession
    val uni = broadcast(
      inc.agg(count_distinct(col("g")).cast("long").as("universe")))
    val winners =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var remaining = inc
    var k = 1
    var exhausted = false
    while (k <= steps && !exhausted) {
      val top = remaining.groupBy("source")
        .agg(count(lit(1)).cast("long").as("gain"))
        .orderBy(col("gain").desc, col("source")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true // universe covered: no 6th row,
      else {                            //   same as the old empty-union
        val src = top(0).getString(0)
        val gain = top(0).getLong(1)
        winners += ((k.toLong, src, gain))
        if (k < steps) remaining = remaining
          .join(remaining.where(col("source") === lit(src)).select("g"),
            Seq("g"), "left_anti")
          .localCheckpoint()
        k += 1
      }
    }
    var cum = 0L
    val ledger = winners.toSeq.map { case (st, src, g) =>
      cum += g; (st, src, g, cum)
    }
    import spark.implicits._
    ledger.toDF("step", "source", "gain", "covered")
      .crossJoin(uni)
      .select(col("step"), col("source"), col("gain"), col("covered"),
        col("universe"),
        (col("covered").cast("double") / col("universe").cast("double"))
          .as("coverage_share"))
      .orderBy("step")
  }

  def greedySetCover(docs: DataFrame, steps: Int): DataFrame =
    greedySetCoverFromInc(scIncidence(docs), steps)

  /** q239's output schema (for the LazyStage deferral). */
  val scSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("step", LongType),
      StructField("source", StringType), StructField("gain", LongType),
      StructField("covered", LongType), StructField("universe", LongType),
      StructField("coverage_share", DoubleType)))
  }

  // ------------------------------------------------------------------
  // q240 Fleiss' kappa (multi-rater agreement)
  // ------------------------------------------------------------------

  /** Fleiss' kappa over THREE deterministic raters (char terciles,
    * token terciles, distinct-shingle terciles): with n = 3 raters and
    * per-doc category counts n_ik, A = sum_i(sum_k n_ik^2) - 3N and
    * B = sum_k C_k^2 give kappa = (3N*A - 2B) / (18N^2 - 2B) — exact
    * int64 numerator/denominator (lift to decimal past N ~ 1e9, same
    * algebra); pbar = A/(6N) and pbar_e = B/(9N^2) are the only IEEE
    * divisions. */
  def fleissKappa(docs: DataFrame): DataFrame = {
    val nc = col("n_chars").cast("long")
    val nt = size(tokens(col("text"))).cast("long")
    val nsh = size(graft.functions.TextFunctions
      .shinglesOfText(col("text"), 3)).cast("long")
    val r = docs.select(
      when(nc < 220L, 0L).when(nc < 385L, 1L).otherwise(2L).as("r1"),
      when(nt < 40L, 0L).when(nt < 70L, 1L).otherwise(2L).as("r2"),
      when(nsh < 37L, 0L).when(nsh < 67L, 1L).otherwise(2L).as("r3"))
    def nk(k: Int) =
      when(col("r1") === k.toLong, 1L).otherwise(0L) +
      when(col("r2") === k.toLong, 1L).otherwise(0L) +
      when(col("r3") === k.toLong, 1L).otherwise(0L)
    val sumsq = (0 to 2).map(k => nk(k) * nk(k)).reduce(_ + _)
    val tot = broadcast(r.agg(
      count(lit(1)).cast("long").as("n_docs"),
      (sum(sumsq) - lit(3L) * count(lit(1))).cast("long").as("a_num")))
    val ck = r
      .select(explode(array(col("r1"), col("r2"), col("r3"))).as("category"))
      .groupBy("category").agg(count(lit(1)).cast("long").as("c_k"))
    val b = broadcast(
      ck.agg(sum(col("c_k") * col("c_k")).cast("long").as("b_num")))
    ck.crossJoin(tot).crossJoin(b)
      .select(col("category"), col("c_k"), col("n_docs"),
        col("a_num"), col("b_num"),
        (lit(3L) * col("n_docs") * col("a_num") - lit(2L) * col("b_num"))
          .cast("long").as("kappa_num"),
        (lit(18L) * col("n_docs") * col("n_docs") - lit(2L) * col("b_num"))
          .cast("long").as("kappa_den"),
        (col("a_num").cast("double")
          / (lit(6L) * col("n_docs")).cast("double")).as("pbar"),
        (col("b_num").cast("double")
          / (lit(9L) * col("n_docs") * col("n_docs")).cast("double"))
          .as("pbar_e"),
        ((lit(3L) * col("n_docs") * col("a_num") - lit(2L) * col("b_num"))
          .cast("double")
          / (lit(18L) * col("n_docs") * col("n_docs")
            - lit(2L) * col("b_num")).cast("double")).as("fleiss_kappa"))
      .orderBy("category")
  }

  // ------------------------------------------------------------------
  // q242 Mantel-Haenszel pooled odds ratio
  // ------------------------------------------------------------------

  /** Mantel-Haenszel pooled odds ratio across lang strata: exposure =
    * token count >= 70, outcome = char length >= 385 (the q236
    * classifier pair re-read as an epidemiological 2x2). Per-stratum
    * cells a/b/c/d are exact integers; the MH fold uses the q95
    * scaled-integer discipline — ad_term = floor(a*d*1e9 / n) and
    * bc_term = floor(b*c*1e9 / n) sum as exact int64 (commutative, no
    * float accumulation), and or_mh is the ONE IEEE division of the
    * two pooled sums. a*d*1e9 stays under int64 to ~3e4-doc strata;
    * past that the terms lift to decimal(38,0), same algebra. */
  def mantelHaenszel(docs: DataFrame): DataFrame = {
    val lab = docs.select(col("lang"),
      (size(tokens(col("text"))).cast("long") >= 70L).as("e"),
      (col("n_chars").cast("long") >= 385L).as("o"))
    val s = lab.groupBy("lang").agg(
      sum(when(col("e") && col("o"), 1L).otherwise(0L)).cast("long")
        .as("a"),
      sum(when(col("e") && !col("o"), 1L).otherwise(0L)).cast("long")
        .as("b"),
      sum(when(!col("e") && col("o"), 1L).otherwise(0L)).cast("long")
        .as("c"),
      sum(when(!col("e") && !col("o"), 1L).otherwise(0L)).cast("long")
        .as("d"),
      count(lit(1)).cast("long").as("n"))
    val terms = s.select(col("lang"), col("a"), col("b"), col("c"),
      col("d"), col("n"),
      expr("(a * d * 1000000000) div n").cast("long").as("ad_term"),
      expr("(b * c * 1000000000) div n").cast("long").as("bc_term"))
    val pool = broadcast(terms.agg(
      sum("ad_term").cast("long").as("sum_ad"),
      sum("bc_term").cast("long").as("sum_bc")))
    terms.crossJoin(pool)
      .select(col("lang"), col("a"), col("b"), col("c"), col("d"),
        col("n"), col("ad_term"), col("bc_term"), col("sum_ad"),
        col("sum_bc"),
        when(col("sum_bc") > 0L,
          col("sum_ad").cast("double") / col("sum_bc").cast("double"))
          .otherwise(lit(0.0)).as("or_mh"))
      .orderBy("lang")
  }

  // ------------------------------------------------------------------
  // q244 Cochran-Armitage trend test
  // ------------------------------------------------------------------

  /** Cochran-Armitage trend test for a binary outcome across ordered
    * dose groups (token terciles -> outcome chars >= 385): with scores
    * w = group index, T = N*sum(w*a) - A*sum(w*n) and Var-part
    * D = A*(N-A)*(N*sum(w^2*n) - (sum(w*n))^2), the chi-square is
    * z^2 = T^2*N / D (Z = T/N, Var(Z) = D/N^3, so Z^2/Var carries a
    * SINGLE factor of N; on a perfect 2-group 0/1 table this equals
    * the Pearson chi2, anchor-pinned in CochranArmitageSpec) — ALL
    * exact integers cross-multiplied in
    * decimal(38,0) (the q169 128-bit rule; ~1e28 at ~sf1 vs 1e38
    * capacity), one IEEE division at the end, reject at the
    * chi-square(1) 5% point 3.841. */
  def cochranArmitage(docs: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val nt = size(tokens(col("text"))).cast("long")
    val d = docs.select(
      when(nt < 40L, 0L).when(nt < 70L, 1L).otherwise(2L).as("dose"),
      when(col("n_chars").cast("long") >= 385L, 1L).otherwise(0L)
        .as("y"))
    val s = d.groupBy("dose").agg(count(lit(1)).cast("long").as("n"),
      sum("y").cast("long").as("a"))
    val tot = broadcast(s.agg(
      sum("n").cast("long").as("n_tot"),
      sum("a").cast("long").as("a_tot"),
      sum(col("dose") * col("a")).cast("long").as("swa"),
      sum(col("dose") * col("n")).cast("long").as("swn"),
      sum(col("dose") * col("dose") * col("n")).cast("long").as("sw2n")))
    val t = tot.select(col("n_tot"), col("a_tot"), col("swa"),
      col("swn"), col("sw2n"),
      (col("n_tot") * col("swa") - col("a_tot") * col("swn"))
        .cast("long").as("t_num"),
      (dec(col("a_tot")) * dec(col("n_tot") - col("a_tot"))
        * (dec(col("n_tot")) * dec(col("sw2n"))
          - dec(col("swn")) * dec(col("swn")))).as("d_den"))
    val chi = broadcast(t.select(col("n_tot"), col("a_tot"),
      col("t_num"), col("d_den"),
      when(col("d_den") > 0L,
        (dec(col("t_num")) * dec(col("t_num"))
          * dec(col("n_tot"))).cast("double")
          / col("d_den").cast("double"))
        .otherwise(lit(0.0)).as("ca_chi2")))
    s.crossJoin(chi)
      .select(col("dose"), col("n"), col("a"), col("n_tot"),
        col("a_tot"), col("t_num"), col("ca_chi2"),
        when(col("ca_chi2") > 3.841, 1L).otherwise(0L).as("reject_05"))
      .orderBy("dose")
  }

  // ------------------------------------------------------------------

  private def sqlToks = TextQueries.sqlToks

  /** One unrolled Bradley-Terry MM iteration for the DuckDB oracle
    * (the q95 unrolled-CTE pattern). Every CTE is MATERIALIZED:
    * DuckDB inlines plain CTEs per reference, and p{k-1} is referenced
    * twice per iteration — inlining doubles the duel-join subtree per
    * unrolled step (2^5 recomputation; measured: the ~sf1 gate run
    * exhausted 80 GB of spill disk before this annotation). */
  private def btIterSql(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""d$k AS MATERIALIZED (SELECT e.i, sum((e.n::HUGEINT * ${S * P})
       |      // (pa.p + pb.p))::BIGINT AS d
       |  FROM edges e JOIN $prev pa ON e.i = pa.i
       |    JOIN $prev pb ON e.j = pb.i
       |  GROUP BY 1),
       |p$k AS MATERIALIZED (SELECT w.i,
       |    greatest(1, ((w.w::HUGEINT * ${S * P}) // d.d))::BIGINT AS p
       |  FROM wins w JOIN d$k d ON w.i = d.i)""".stripMargin
  }

  /** One unrolled greedy-cover step for the DuckDB oracle. Winner CTEs
    * are MATERIALIZED (each w_j is referenced by every later covered
    * union — same inlining hazard as btIterSql). */
  private def scStepSql(k: Int): String =
    if (k == 1)
      s"""g1 AS (SELECT source, count(*)::BIGINT AS gain FROM inc
         |  GROUP BY 1),
         |w1 AS MATERIALIZED (SELECT 1::BIGINT AS step, source, gain
         |  FROM g1 ORDER BY gain DESC, source LIMIT 1)""".stripMargin
    else {
      val ws = (1 until k).map(j => s"SELECT source FROM w$j")
        .mkString(" UNION ALL ")
      s"""c${k - 1} AS MATERIALIZED (SELECT DISTINCT i.g FROM inc i
         |  JOIN ($ws) ws ON i.source = ws.source),
         |g$k AS (SELECT i.source, count(*)::BIGINT AS gain FROM inc i
         |  LEFT JOIN c${k - 1} cc ON i.g = cc.g WHERE cc.g IS NULL
         |  GROUP BY 1),
         |w$k AS MATERIALIZED (SELECT $k::BIGINT AS step, source, gain
         |  FROM g$k ORDER BY gain DESC, source LIMIT 1)""".stripMargin
    }

  val defs: Seq[(String, QueryDef)] = Seq(

    // --------------------------------------------------------------- q235
    "q235_cohens_kappa" -> QueryDef.sql(
      "Cohen's kappa inter-annotator agreement (Cohen 1960) between " +
      "two independent document-length annotators (char terciles vs " +
      "whitespace-token terciles) — the chance-corrected agreement " +
      "gate every labeling/annotation pipeline runs before trusting " +
      "its raters. Emits the full 3x3 contingency grid (so every " +
      "cell is oracle-checked, not just the scalar) with marginals " +
      "and the exact integer kappa_num = n*agree - sum_k(row_k*" +
      "col_k) / kappa_den = n^2 - sum_k(row_k*col_k); po and kappa " +
      "are the only IEEE divisions, single-shape -> hash-exact. " +
      "Shape at 100 TB: labels are per-row expressions, the grid is " +
      "ONE commutable 9-cell hash agg, and the decoration is " +
      "algebra over broadcast 1-row scalars — same class as q133's " +
      "chi-square. The grid/read-back split is shared verbatim with " +
      "the streaming twin (AgreementStream), which maintains the " +
      "cells online in Complete mode with <= 9 cells of state.",
      s"""WITH t AS (SELECT n_chars::BIGINT AS nc, len($sqlToks) AS nt
        |  FROM documents),
        |lab AS (SELECT
        |    (CASE WHEN nc < 220 THEN 0 WHEN nc < 385 THEN 1 ELSE 2
        |     END)::BIGINT AS a,
        |    (CASE WHEN nt < 40 THEN 0 WHEN nt < 70 THEN 1 ELSE 2
        |     END)::BIGINT AS b FROM t),
        |cell AS (SELECT a, b, count(*)::BIGINT AS n_cell FROM lab
        |  GROUP BY 1, 2),
        |ra AS (SELECT a, sum(n_cell)::BIGINT AS row_n FROM cell
        |  GROUP BY 1),
        |cb AS (SELECT b, sum(n_cell)::BIGINT AS col_n FROM cell
        |  GROUP BY 1),
        |tot AS (SELECT sum(n_cell)::BIGINT AS n,
        |    sum(CASE WHEN a = b THEN n_cell ELSE 0 END)::BIGINT AS agree
        |  FROM cell),
        |pe AS (SELECT sum(ra.row_n * cb.col_n)::BIGINT AS pe_num
        |  FROM ra JOIN cb ON ra.a = cb.b)
        |SELECT cell.a AS a_label, cell.b AS b_label, cell.n_cell,
        |  ra.row_n, cb.col_n, tot.n, tot.agree,
        |  (tot.n * tot.agree - pe.pe_num)::BIGINT AS kappa_num,
        |  (tot.n * tot.n - pe.pe_num)::BIGINT AS kappa_den,
        |  tot.agree::DOUBLE / tot.n::DOUBLE AS po,
        |  (tot.n * tot.agree - pe.pe_num)::DOUBLE
        |    / (tot.n * tot.n - pe.pe_num)::DOUBLE AS kappa
        |FROM cell JOIN ra USING (a) JOIN cb USING (b)
        |  CROSS JOIN tot CROSS JOIN pe
        |ORDER BY a_label, b_label""".stripMargin) { (s, d) =>
      cohensKappa(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q236
    "q236_mcnemar_test" -> QueryDef.sql(
      "McNemar paired test (McNemar 1947) between two length " +
      "classifiers evaluated on the SAME documents against the " +
      "char-length truth (>= 385): A reads token count (>= 70), B a " +
      "noisy character-level proxy (count of 'e' >= 30) — the " +
      "paired-model comparison a training pipeline runs when an " +
      "offline metric says 'model B looks as good'; on-diagonal " +
      "agreement is IGNORED by design (only the b/c discordant " +
      "cells carry information about WHICH classifier is better). " +
      "Measured at sf0.01: b=43, c=6 -> statistic 27.9, reject — " +
      "the token classifier genuinely dominates the proxy. " +
      "(b-c)^2 is an exact integer; the statistic is ONE IEEE " +
      "division, reject at the chi-square(1) 5% point 3.841 -> " +
      "hash-exact. Shape at 100 TB: per-row expressions + one " +
      "combinable 5-counter agg — a single map-side-combinable pass.",
      s"""WITH t AS (SELECT n_chars::BIGINT AS nc, len($sqlToks) AS nt,
        |    (length(text) - length(replace(text, 'e', '')))::BIGINT AS ne
        |  FROM documents),
        |lab AS (SELECT (nc >= 385) AS tr, (nt >= 70) AS ca,
        |    (ne >= 30) AS cb FROM t),
        |g AS (SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN ca = tr THEN 1 ELSE 0 END)::BIGINT AS a_correct,
        |    sum(CASE WHEN cb = tr THEN 1 ELSE 0 END)::BIGINT AS b_correct,
        |    sum(CASE WHEN ca = tr AND cb != tr THEN 1 ELSE 0 END)::BIGINT
        |      AS b_disc,
        |    sum(CASE WHEN ca != tr AND cb = tr THEN 1 ELSE 0 END)::BIGINT
        |      AS c_disc
        |  FROM lab)
        |SELECT n, a_correct, b_correct, b_disc, c_disc,
        |  CASE WHEN b_disc + c_disc = 0 THEN 0.0
        |    ELSE ((b_disc - c_disc) * (b_disc - c_disc))::DOUBLE
        |      / (b_disc + c_disc)::DOUBLE END AS mcnemar_stat,
        |  (CASE WHEN (CASE WHEN b_disc + c_disc = 0 THEN 0.0
        |    ELSE ((b_disc - c_disc) * (b_disc - c_disc))::DOUBLE
        |      / (b_disc + c_disc)::DOUBLE END) > 3.841
        |   THEN 1 ELSE 0 END)::BIGINT AS reject_05
        |FROM g""".stripMargin) { (s, d) =>
      mcnemar(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q237
    "q237_bradley_terry" -> QueryDef.sql(
      "Bradley-Terry preference strengths (Bradley & Terry 1952; " +
      "Hunter 2004 MM) from within-order quantity duels — the " +
      "pairwise-preference ranking model behind RLHF reward-data " +
      "curation, fit with 5 EXACT INTEGER MM iterations: strengths " +
      "in units of 1e-9, per-pair denominator terms floor(n*S*P/" +
      "(p_u+p_v)) at precision 1e6, update p_i' = max(1, floor(w_i*" +
      "S*P/d_i)) — identical floor algebra on both engines, so the " +
      "whole fixed point is hash-exact with NO float anywhere (the " +
      "q95 exact-int discipline). Laplace +1 per orientation keeps " +
      "the MM map total. Top-20 by (strength DESC, partkey) is an " +
      "exact integer election. Shape at 100 TB: duels are basket-" +
      "bounded (per-order self-join, ~basket^2 rows), the duel " +
      "matrix aggregates to one row per co-dueling pair, and each " +
      "iteration is one equi-join + two combinable sums over that " +
      "SPARSE pair list — the strength frame is referenced once per " +
      "iteration so lineage stays linear, and ReuseExchange dedups " +
      "the shared pair subtree across iterations exactly as in q95. " +
      "The pair matrix itself persists across sessions via the " +
      "Store lifecycle (fingerprint-keyed on the (o,p,q) " +
      "stream, atomic publish, validate-or-rebuild), so only the " +
      "first session per data snapshot pays the duel build.",
      s"""WITH op AS MATERIALIZED (SELECT l_orderkey AS o, l_partkey AS p,
        |    sum(l_quantity::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2),
        |duel AS MATERIALIZED (SELECT a.p AS w, b.p AS l FROM op a JOIN op b
        |  ON a.o = b.o AND a.q > b.q),
        |pr AS MATERIALIZED (SELECT least(w, l) AS u, greatest(w, l) AS v,
        |    (sum(CASE WHEN w < l THEN 1 ELSE 0 END) + 1)::BIGINT AS w_uv,
        |    (sum(CASE WHEN w > l THEN 1 ELSE 0 END) + 1)::BIGINT AS w_vu
        |  FROM duel GROUP BY 1, 2),
        |edges AS MATERIALIZED (SELECT u AS i, v AS j, (w_uv + w_vu)::BIGINT AS n
        |  FROM pr
        |  UNION ALL SELECT v, u, (w_uv + w_vu)::BIGINT FROM pr),
        |wins AS MATERIALIZED (SELECT i, sum(w)::BIGINT AS w FROM (
        |    SELECT u AS i, w_uv AS w FROM pr
        |    UNION ALL SELECT v, w_vu FROM pr)
        |  GROUP BY 1),
        |p0 AS MATERIALIZED (SELECT i, $S::BIGINT AS p FROM wins),
        |${(1 to 5).map(btIterSql).mkString(",\n")}
        |SELECT row_number() OVER (ORDER BY p.p DESC, p.i)::BIGINT AS rank,
        |  p.i AS partkey, w.w AS wins_sm, p.p AS strength
        |FROM p5 p JOIN wins w ON p.i = w.i
        |ORDER BY rank LIMIT 20""".stripMargin) { (s, d) =>
      graft.plans.LazyStage.defer(s, btSchema) { () =>
        // Cross-session: the one-time pair-matrix build persists via
        // Store (fingerprint of the (o, p, q) stream it is a pure
        // function of), so a fresh session pays one combinable
        // fingerprint scan + a parquet load, not the ~6.5 s duel
        // self-join (VERDICT r11 item 5); see btPairsStored.
        bradleyTerryFromPairs(btPairsStored(s, d), iters = 5, k = 20)
      }
    },

    // --------------------------------------------------------------- q238
    "q238_hamilton_apportionment" -> QueryDef.sql(
      "Hamilton largest-remainder apportionment of a token sampling " +
      "budget across source domains (Hamilton 1792; the classic " +
      "quota method) — the proportional-fair companion to q229's " +
      "max-min waterfill: quota_i = floor(B*t_i/T), then the " +
      "leftover seats go to the largest EXACT integer remainders " +
      "(B*t_i mod T, ties broken by source) so sum(alloc) = B " +
      "exactly and every domain sits within one seat of its exact " +
      "share. B = (3T) div 7, data-derived. All integer arithmetic " +
      "-> hash-exact. Shape at 100 TB: ONE combinable token rollup " +
      "is the only data pass; quota/remainder/rank run on the " +
      "|domains|-row frame with broadcast scalars (the q229 shape); " +
      "B*t_i lifts to decimal(38,0) past ~1e18, same algebra.",
      s"""WITH d AS (SELECT source, sum(len($sqlToks))::BIGINT AS tok
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(tok)::BIGINT AS t,
        |    ((3 * sum(tok)) // 7)::BIGINT AS b FROM d),
        |q AS (SELECT source, tok, t, b,
        |    ((b * tok) // t)::BIGINT AS quota,
        |    ((b * tok) % t)::BIGINT AS remainder_num
        |  FROM d CROSS JOIN tot),
        |lv AS (SELECT (max(b) - sum(quota))::BIGINT AS leftover FROM q),
        |rk AS (SELECT q.*, lv.leftover,
        |    row_number() OVER (ORDER BY remainder_num DESC, source)
        |      ::BIGINT AS remainder_rank
        |  FROM q CROSS JOIN lv)
        |SELECT source, tok AS avail_tokens, quota, remainder_num,
        |  leftover, b AS budget, remainder_rank,
        |  (quota + CASE WHEN remainder_rank <= leftover THEN 1 ELSE 0
        |   END)::BIGINT AS alloc
        |FROM rk ORDER BY source""".stripMargin) { (s, d) =>
      apportion(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q239
    "q239_greedy_set_cover" -> QueryDef.sql(
      "Greedy maximum-coverage source selection (Nemhauser/Wolsey/" +
      "Fisher 1978 — the (1-1/e) submodular-greedy primitive): 5 " +
      "rounds, each picking the source whose documents cover the " +
      "most still-uncovered 3-gram shingles — the data-selection " +
      "step a corpus curator runs to choose acquisition sources " +
      "under a budget. Gains and the (gain DESC, source ASC) " +
      "election are exact integers; the per-step covered totals are " +
      "an exact driver-side cumsum over the <= 5-row winner ledger " +
      "(each step's gain IS its newly-covered count — no re-count " +
      "join); coverage_share is the one IEEE division. Shape at " +
      "100 TB (r13 fusion): the (source, shingle) incidence builds " +
      "once; each greedy step is TWO jobs over the CURRENT uncovered " +
      "incidence — one combinable gain count electing the winner via " +
      "a 1-row bounded collect, and one self-anti-join on the " +
      "winner-as-literal's shingles, checkpointed so the uncovered " +
      "frame shrinks monotonically and never re-derives coverage " +
      "from the winners frame (no per-step DISTINCT, no growing " +
      "lineage).",
      s"""WITH t AS (SELECT source, $sqlToks AS w FROM documents),
        |s AS (SELECT source, ${DedupQueries.sqlShingles} AS sh FROM t),
        |inc AS MATERIALIZED (SELECT DISTINCT source, unnest(sh) AS g
        |  FROM s),
        |uni AS (SELECT count(DISTINCT g)::BIGINT AS universe FROM inc),
        |${(1 to 5).map(scStepSql).mkString(",\n")}
        |SELECT step, source, gain, covered, universe,
        |  covered::DOUBLE / universe::DOUBLE AS coverage_share
        |FROM (SELECT step, source, gain,
        |    sum(gain) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW)::BIGINT AS covered
        |  FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2
        |    UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
        |    UNION ALL SELECT * FROM w5)) CROSS JOIN uni
        |ORDER BY step""".stripMargin) { (s, d) =>
      graft.plans.LazyStage.defer(s, scSchema) { () =>
        greedySetCoverFromInc(
          graft.plans.SharedFrames(s, d, "sc_inc") {
            scIncidence(Tables.documents(s, d))
          }, steps = 5)
      }
    },

    // --------------------------------------------------------------- q240
    "q240_fleiss_kappa" -> QueryDef.sql(
      "Fleiss' kappa (Fleiss 1971) over THREE deterministic raters " +
      "(char terciles, token terciles, distinct-shingle terciles) — " +
      "the multi-rater generalization of q235's pairwise kappa, the " +
      "gate an annotation pipeline runs when every item is labeled " +
      "by n > 2 raters. With n = 3 and per-doc category counts " +
      "n_ik: A = sum_i(sum_k n_ik^2) - 3N, B = sum_k C_k^2, kappa " +
      "= (3N*A - 2B)/(18N^2 - 2B) — exact int64 cross-multiplied " +
      "numerator/denominator (decimal lift past N ~ 1e9, same " +
      "algebra); pbar/pbar_e/kappa are single-shape IEEE divisions " +
      "-> hash-exact. Emits one row per category with its marginal " +
      "C_k so the full rating distribution is oracle-checked. Shape " +
      "at 100 TB: labels are per-row expressions, A folds in the " +
      "SAME combinable aggregate as N, and C_k is a 3-way explode " +
      "over the 3-row label frame -> 9-group hash agg.",
      s"""WITH t AS (SELECT n_chars::BIGINT AS nc, $sqlToks AS w
        |  FROM documents),
        |r AS (SELECT
        |    (CASE WHEN nc < 220 THEN 0 WHEN nc < 385 THEN 1 ELSE 2
        |     END)::BIGINT AS r1,
        |    (CASE WHEN len(w) < 40 THEN 0 WHEN len(w) < 70 THEN 1
        |     ELSE 2 END)::BIGINT AS r2,
        |    (CASE WHEN len(${DedupQueries.sqlShingles}) < 37 THEN 0
        |     WHEN len(${DedupQueries.sqlShingles}) < 67 THEN 1
        |     ELSE 2 END)::BIGINT AS r3
        |  FROM t),
        |withn AS (SELECT r1, r2, r3,
        |    ((CASE WHEN r1=0 THEN 1 ELSE 0 END + CASE WHEN r2=0 THEN 1
        |        ELSE 0 END + CASE WHEN r3=0 THEN 1 ELSE 0 END))::BIGINT
        |      AS n0,
        |    ((CASE WHEN r1=1 THEN 1 ELSE 0 END + CASE WHEN r2=1 THEN 1
        |        ELSE 0 END + CASE WHEN r3=1 THEN 1 ELSE 0 END))::BIGINT
        |      AS n1,
        |    ((CASE WHEN r1=2 THEN 1 ELSE 0 END + CASE WHEN r2=2 THEN 1
        |        ELSE 0 END + CASE WHEN r3=2 THEN 1 ELSE 0 END))::BIGINT
        |      AS n2
        |  FROM r),
        |tot AS (SELECT count(*)::BIGINT AS n_docs,
        |    (sum(n0*n0 + n1*n1 + n2*n2) - 3*count(*))::BIGINT AS a_num
        |  FROM withn),
        |ck AS (SELECT category, count(*)::BIGINT AS c_k
        |  FROM (SELECT unnest([r1, r2, r3]) AS category FROM r)
        |  GROUP BY 1),
        |b AS (SELECT sum(c_k * c_k)::BIGINT AS b_num FROM ck)
        |SELECT category, c_k, n_docs, a_num, b_num,
        |  (3*n_docs*a_num - 2*b_num)::BIGINT AS kappa_num,
        |  (18*n_docs*n_docs - 2*b_num)::BIGINT AS kappa_den,
        |  a_num::DOUBLE / (6*n_docs)::DOUBLE AS pbar,
        |  b_num::DOUBLE / (9*n_docs*n_docs)::DOUBLE AS pbar_e,
        |  (3*n_docs*a_num - 2*b_num)::DOUBLE
        |    / (18*n_docs*n_docs - 2*b_num)::DOUBLE AS fleiss_kappa
        |FROM ck CROSS JOIN tot CROSS JOIN b
        |ORDER BY category""".stripMargin) { (s, d) =>
      fleissKappa(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q242
    "q242_mantel_haenszel" -> QueryDef.sql(
      "Mantel-Haenszel pooled odds ratio (Mantel & Haenszel 1959) " +
      "across lang strata — the stratified-confounding audit a " +
      "metrics pipeline runs before attributing an exposure/outcome " +
      "association (here the q236 classifier pair re-read as a 2x2: " +
      "exposure = token count >= 70, outcome = chars >= 385; " +
      "stratifying by the text-independent lang tag must NOT change " +
      "the association — the Simpson's-paradox check). Per-stratum " +
      "a/b/c/d are exact integers; the MH fold uses the q95 scaled-" +
      "integer discipline: ad_term = floor(a*d*1e9/n), bc_term = " +
      "floor(b*c*1e9/n) sum as exact int64 (COMMUTATIVE — no float " +
      "accumulation to order-diverge), and or_mh is the one IEEE " +
      "division of the pooled sums. Shape at 100 TB: per-row " +
      "expressions + one 5-counter combinable agg per stratum; the " +
      "pool is a broadcast 1-row frame; terms lift to decimal(38,0) " +
      "past ~3e4-doc strata, same algebra.",
      s"""WITH t AS (SELECT lang,
        |    (len($sqlToks) >= 70) AS e,
        |    (n_chars::BIGINT >= 385) AS o
        |  FROM documents),
        |s AS (SELECT lang,
        |    sum(CASE WHEN e AND o THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END)::BIGINT AS b,
        |    sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END)::BIGINT AS c,
        |    sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)::BIGINT
        |      AS d,
        |    count(*)::BIGINT AS n
        |  FROM t GROUP BY 1),
        |terms AS (SELECT lang, a, b, c, d, n,
        |    ((a * d * 1000000000) // n)::BIGINT AS ad_term,
        |    ((b * c * 1000000000) // n)::BIGINT AS bc_term FROM s),
        |pool AS (SELECT sum(ad_term)::BIGINT AS sum_ad,
        |    sum(bc_term)::BIGINT AS sum_bc FROM terms)
        |SELECT lang, a, b, c, d, n, ad_term, bc_term, sum_ad, sum_bc,
        |  CASE WHEN sum_bc > 0
        |    THEN sum_ad::DOUBLE / sum_bc::DOUBLE ELSE 0.0 END AS or_mh
        |FROM terms CROSS JOIN pool ORDER BY lang""".stripMargin) {
      (s, d) => mantelHaenszel(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q244
    "q244_cochran_armitage" -> QueryDef.sql(
      "Cochran-Armitage trend test (Cochran 1954; Armitage 1955) — " +
      "does a binary outcome rate move MONOTONICALLY across ordered " +
      "dose groups? (Here: long-document rate across token terciles " +
      "— the dose-response audit behind quality-vs-length curves; " +
      "chi-square independence q133 sees association, this sees " +
      "ORDER.) Scores w = group index; T = N*sum(w*a) - A*sum(w*n); " +
      "D = A*(N-A)*(N*sum(w^2*n) - (sum(w*n))^2); chi2 = T^2*N/D " +
      "(Z = T/N, Var = D/N^3 -> one factor of N; equals Pearson " +
      "chi2 on a 2-group table) — " +
      "all exact integer cross-products in decimal(38,0)/HUGEINT " +
      "(~1e28 at ~sf1 vs 1e38 capacity), ONE IEEE division, reject " +
      "at 3.841 -> hash-exact. Shape at 100 TB: per-row label " +
      "expressions + one 3-group combinable agg; everything after " +
      "runs on the 3-row dose frame with broadcast scalars.",
      s"""WITH t AS (SELECT len($sqlToks) AS nt, n_chars::BIGINT AS nc
        |  FROM documents),
        |d AS (SELECT (CASE WHEN nt < 40 THEN 0 WHEN nt < 70 THEN 1
        |    ELSE 2 END)::BIGINT AS dose,
        |    (CASE WHEN nc >= 385 THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM t),
        |s AS (SELECT dose, count(*)::BIGINT AS n, sum(y)::BIGINT AS a
        |  FROM d GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS n_tot, sum(a)::BIGINT AS a_tot,
        |    sum(dose * a)::BIGINT AS swa, sum(dose * n)::BIGINT AS swn,
        |    sum(dose * dose * n)::BIGINT AS sw2n FROM s),
        |tt AS (SELECT n_tot, a_tot,
        |    (n_tot * swa - a_tot * swn)::BIGINT AS t_num,
        |    (a_tot::HUGEINT * (n_tot - a_tot)::HUGEINT
        |      * (n_tot::HUGEINT * sw2n::HUGEINT
        |        - swn::HUGEINT * swn::HUGEINT)) AS d_den
        |  FROM tot),
        |chi AS (SELECT n_tot, a_tot, t_num,
        |    CASE WHEN d_den > 0
        |      THEN CAST(t_num::HUGEINT * t_num::HUGEINT
        |          * n_tot::HUGEINT AS DOUBLE)
        |        / CAST(d_den AS DOUBLE)
        |      ELSE 0.0 END AS ca_chi2
        |  FROM tt)
        |SELECT s.dose, s.n, s.a, chi.n_tot, chi.a_tot, chi.t_num,
        |  chi.ca_chi2,
        |  (CASE WHEN chi.ca_chi2 > 3.841 THEN 1 ELSE 0 END)::BIGINT
        |    AS reject_05
        |FROM s CROSS JOIN chi ORDER BY s.dose""".stripMargin) {
      (s, d) => cochranArmitage(Tables.documents(s, d))
    }
  )
}
