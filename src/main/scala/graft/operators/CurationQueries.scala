package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-12 LLM-data-curation battery: the decode/eval/mixture-side
  * operators a training-data pipeline runs AFTER dedup and quality
  * scoring — speculative-decoding acceptance (q248), pass@k estimation
  * (q249), curriculum pacing over a global exact rank (q250), Condorcet
  * / Copeland ranking of pairwise duels (q251), draft-table n-gram
  * coverage (q252), leave-one-source-out ablation (q253), cross-source
  * n-gram redundancy (q254), DSIR-style importance sign scoring
  * (q255), prefix-cache sharing (q256), first-seen novelty
  * attribution (q259), context-length sizing (q260), the Simpson's-
  * paradox reversal audit (q261), sliding-chunk overlap provenance
  * (q262), Wilson score intervals (q263), and Neyman-optimal sample
  * allocation (q264).
  * Exactness discipline as everywhere in the catalog: integer
  * counts, integer cross-multiplication for every election/verdict,
  * and only fixed-shape IEEE divisions in emitted doubles — hash-exact
  * vs DuckDB with no tolerance. q250/q252 rank through RangeRank
  * (boundary buckets + offset prefix sums), so no query here plans a
  * single-partition window over a data-proportional frame.
  */
object CurationQueries {

  private def sqlToks = TextQueries.sqlToks

  /** Trigram occurrence stream (tg = "w1 w2 w3") keyed by the given
    * columns — the q243 explode shape, shared by q248/q252/q254. */
  private def trigrams(docs: DataFrame, keep: Seq[String] = Nil)
      : DataFrame =
    docs.select((keep.map(col) :+ tokens(col("text")).as("w")): _*)
      .select((keep.map(col) :+ explode(expr(
        """CASE WHEN size(w) >= 3
          |THEN transform(sequence(1, size(w) - 2),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1),
          |    ' ', element_at(w, i + 2)))
          |ELSE array() END""".stripMargin)).as("tg")): _*)

  private val sqlTri =
    """unnest(CASE WHEN len(w) >= 3
      |    THEN list_transform(generate_series(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |    ELSE []::VARCHAR[] END) AS tg""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // --------------------------------------------------------------- q248
    "q248_speculative_acceptance" -> QueryDef.sql(
      "Speculative-decoding acceptance audit (Leviathan 2023; " +
      "Chen 2023): per trigram context, the EXPECTED acceptance rate " +
      "of a bigram draft model against the trigram target is the " +
      "total-variation overlap sum_w min(p_draft(w), p_target(w)) — " +
      "the number a deployment measures before sizing its draft " +
      "ladder. Computed EXACTLY: with target counts c_t over context " +
      "(a,b) totaling T and draft counts c_d over unigram context " +
      "(b) totaling D, the overlap numerator is " +
      "sum_w min(c_t*D, c_d*T) — pure int64 cross-products (c*T <= " +
      "~1e12 at sf0.1; lifts to decimal(38,0) past ~3e9 occurrences " +
      "per table, the q238 rule) — and accept_rate = num/(T*D) is " +
      "the one IEEE division. Words absent from either model " +
      "contribute exactly 0, so the aggregated-table equi-join on " +
      "(prev, w) IS the sum. Top-30 contexts by (T DESC, ctx) with " +
      "support >= 5. Shape at 100 TB: both model tables are " +
      "vocab-bounded aggregates (never corpus-sized), the overlap is " +
      "one equi-join + one combinable sum, and the cut is " +
      "TakeOrdered.",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
        |tri AS (SELECT $sqlTri FROM t),
        |c3 AS (SELECT string_split(tg, ' ')[1] || ' '
        |      || string_split(tg, ' ')[2] AS ctx,
        |    string_split(tg, ' ')[2] AS b,
        |    string_split(tg, ' ')[3] AS w3, count(*)::BIGINT AS c
        |  FROM tri GROUP BY 1, 2, 3),
        |tt AS (SELECT ctx, sum(c)::BIGINT AS t_total FROM c3 GROUP BY 1),
        |bg AS (SELECT string_split(bgr, ' ')[1] AS prev,
        |    string_split(bgr, ' ')[2] AS w3, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1])
        |      ELSE []::VARCHAR[] END) AS bgr FROM t)
        |  GROUP BY 1, 2),
        |dt AS (SELECT prev, sum(c)::BIGINT AS d_total FROM bg GROUP BY 1),
        |num AS (SELECT c3.ctx,
        |    sum(least(c3.c * dt.d_total, bg.c * tt.t_total))::BIGINT
        |      AS acc_num
        |  FROM c3 JOIN bg ON c3.b = bg.prev AND c3.w3 = bg.w3
        |  JOIN tt ON c3.ctx = tt.ctx JOIN dt ON c3.b = dt.prev
        |  GROUP BY 1),
        |r AS (SELECT tt.ctx, tt.t_total, dt.d_total,
        |    coalesce(num.acc_num, 0)::BIGINT AS acc_num,
        |    row_number() OVER (ORDER BY tt.t_total DESC, tt.ctx)
        |      ::BIGINT AS rank
        |  FROM tt
        |  JOIN dt ON string_split(tt.ctx, ' ')[2] = dt.prev
        |  LEFT JOIN num ON tt.ctx = num.ctx
        |  WHERE tt.t_total >= 5)
        |SELECT rank, ctx, t_total, d_total, acc_num,
        |  acc_num::DOUBLE / (t_total * d_total)::DOUBLE AS accept_rate
        |FROM r WHERE rank <= 30 ORDER BY rank""".stripMargin) { (s, d) =>
      speculativeAcceptance(Tables.documents(s, d), minSupport = 5L,
        k = 30)
    },

    // --------------------------------------------------------------- q249
    "q249_pass_at_k" -> QueryDef.sql(
      "pass@k estimation (Chen 2021, the Codex estimator) — the " +
      "standard coding-eval metric: per task with n samples of which " +
      "c pass, pass@k = 1 - C(n-c,k)/C(n,k), computed with the " +
      "numerically-stable telescoped product 1 - prod_{i<k} " +
      "(n-c-i)/(n-i) at k=5 — five int-exact IEEE divisions " +
      "multiplied in FIXED left-assoc order on both engines, so the " +
      "double is bit-identical with no factorial overflow at ANY n " +
      "(the naive binomial products overflow int64 past n ~ 6000). " +
      "c > n-k short-circuits to exactly 1.0 (C(n-c,k) = 0). Tasks = " +
      "suppliers; the per-sample pass bit is the q56-family salted " +
      "integer hash (passSalt stream — independent of every " +
      "split/sample stream, see DeterministicHash) at a 1-in-5 rate, " +
      "so the whole metric is engine-reproducible. Shape at 100 TB: " +
      "one combinable (task) rollup is the only data pass; the " +
      "estimator runs on the |tasks|-row frame.",
      s"""WITH s AS (SELECT l_suppkey AS task,
        |    CASE WHEN ${graft.functions.DeterministicHash.knuth32Sql(
              "(l_orderkey * 8 + l_linenumber)",
              graft.functions.DeterministicHash.passSalt)} % 5 = 0
        |      THEN 1 ELSE 0 END AS ok
        |  FROM lineitem),
        |a AS (SELECT task, count(*)::BIGINT AS n, sum(ok)::BIGINT AS c
        |  FROM s GROUP BY 1)
        |SELECT task, n, c,
        |  CASE WHEN n - c < 5 THEN 1.0
        |    ELSE 1.0
        |      - ((n-c)::DOUBLE / n::DOUBLE)
        |      * ((n-c-1)::DOUBLE / (n-1)::DOUBLE)
        |      * ((n-c-2)::DOUBLE / (n-2)::DOUBLE)
        |      * ((n-c-3)::DOUBLE / (n-3)::DOUBLE)
        |      * ((n-c-4)::DOUBLE / (n-4)::DOUBLE)
        |  END AS pass_at_5
        |FROM a WHERE n >= 5 ORDER BY task""".stripMargin) { (s, d) =>
      passAtK(Tables.lineitem(s, d), k = 5)
    },

    // --------------------------------------------------------------- q250
    "q250_curriculum_pacing" -> QueryDef.sql(
      "Curriculum pacing stages (Bengio 2009 curriculum learning): " +
      "the corpus globally ranked by an exact difficulty proxy " +
      "(token count, tie-broken by doc_id) and cut into 4 " +
      "equal-frequency pacing stages — the schedule table a " +
      "curriculum loader consumes; per stage the doc count, token " +
      "budget, and [min,max] difficulty bounds, all exact integers. " +
      "The global ntile runs as RangeRank (literal quantile-boundary " +
      "buckets -> per-bucket windows + broadcast offset prefix " +
      "sums) — NO single-partition exchange, so the exact schedule " +
      "itself survives ~10^9 docs; beyond that the stage boundaries " +
      "come from q85's mergeable sketch (the q106 contract).",
      s"""WITH t AS (SELECT doc_id, len($sqlToks)::BIGINT AS n_tok
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok,
        |    ntile(4) OVER (ORDER BY n_tok, doc_id)::BIGINT AS stage
        |  FROM t)
        |SELECT stage, count(*)::BIGINT AS n_docs,
        |  sum(n_tok)::BIGINT AS sum_tokens,
        |  min(n_tok)::BIGINT AS min_tokens,
        |  max(n_tok)::BIGINT AS max_tokens
        |FROM b GROUP BY 1 ORDER BY stage""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      graft.functions.RangeRank.withNtile(t, "n_tok", "doc_id", 4, "stage")
        .groupBy("stage")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tok").cast("long").as("sum_tokens"),
          min("n_tok").cast("long").as("min_tokens"),
          max("n_tok").cast("long").as("max_tokens"))
        .orderBy("stage")
    },

    // --------------------------------------------------------------- q251
    "q251_condorcet_copeland" -> QueryDef.sql(
      "Condorcet / Copeland ranking of pairwise duels (Copeland " +
      "1951; the arena-leaderboard aggregation rule that, unlike " +
      "q237's Bradley-Terry MM, needs no model fit): from the " +
      "within-order quantity duels, each co-dueling pair awards 2 " +
      "points to the head-to-head winner (1 each on a tie); an " +
      "item's Copeland score is its point sum over opponents and " +
      "the Condorcet flag marks items that beat EVERY opponent " +
      "(copeland2 = 2*n_opp). Pure integer comparisons -> " +
      "hash-exact. The Spark side reads q237's Store-persisted " +
      "SMOOTHED pair matrix: head-to-head verdicts are invariant " +
      "under the Laplace +1 applied to BOTH orientations (w_uv+1 > " +
      "w_vu+1 iff w_uv > w_vu), so the cross-session asset is shared " +
      "while the oracle derives the same verdicts from raw duels. " +
      "Top-20 by (copeland2 DESC, partkey). Shape at 100 TB: duels " +
      "are basket-bounded, scoring is one union + one combinable " +
      "sum over the sparse pair list, TakeOrdered cut.",
      """WITH op AS (SELECT l_orderkey AS o, l_partkey AS p,
        |    sum(l_quantity::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2),
        |duel AS (SELECT a.p AS w, b.p AS l FROM op a JOIN op b
        |  ON a.o = b.o AND a.q > b.q),
        |pr AS (SELECT least(w, l) AS u, greatest(w, l) AS v,
        |    sum(CASE WHEN w < l THEN 1 ELSE 0 END)::BIGINT AS w_uv,
        |    sum(CASE WHEN w > l THEN 1 ELSE 0 END)::BIGINT AS w_vu
        |  FROM duel GROUP BY 1, 2),
        |sc AS (SELECT u AS i,
        |    CASE WHEN w_uv > w_vu THEN 2 WHEN w_uv = w_vu THEN 1
        |      ELSE 0 END AS pts FROM pr
        |  UNION ALL SELECT v,
        |    CASE WHEN w_vu > w_uv THEN 2 WHEN w_uv = w_vu THEN 1
        |      ELSE 0 END FROM pr),
        |g AS (SELECT i, count(*)::BIGINT AS n_opp,
        |    sum(pts)::BIGINT AS copeland2 FROM sc GROUP BY 1),
        |r AS (SELECT i, n_opp, copeland2,
        |    row_number() OVER (ORDER BY copeland2 DESC, i)::BIGINT
        |      AS rank FROM g)
        |SELECT rank, i AS partkey, n_opp, copeland2,
        |  (copeland2 = 2 * n_opp) AS is_condorcet
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, d) =>
      condorcetCopeland(s, d, k = 20)
    },

    // --------------------------------------------------------------- q252
    "q252_draft_coverage_curve" -> QueryDef.sql(
      "Draft-table coverage curve — what fraction of all trigram " +
      "OCCURRENCES the top-k most frequent trigram TYPES cover, at " +
      "k = 10/100/1000: the sizing curve for q248's speculative " +
      "draft table and q243's continuation cache (a draft table only " +
      "helps where its entries fire; coverage is the firing " +
      "probability under the corpus distribution). Types ranked by " +
      "(count DESC, trigram ASC) through RangeRank — the type table " +
      "is vocab^3-bounded but still data-proportional at corpus " +
      "scale, so the rank must not plan a single-partition window " +
      "(r11 finding 3 discipline); only the k <= 1000 head survives " +
      "the rank filter, and the three curve points fold from that " +
      "head against broadcast totals. Integer counts + one IEEE " +
      "division per point -> hash-exact.",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
        |tri AS (SELECT $sqlTri FROM t),
        |c3 AS (SELECT tg, count(*)::BIGINT AS c FROM tri GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS total_occ,
        |    count(*)::BIGINT AS n_types FROM c3),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tg)
        |    ::BIGINT AS rnk FROM c3),
        |ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT ks.k::BIGINT AS k,
        |  coalesce(sum(CASE WHEN r.rnk <= ks.k THEN r.c END), 0)
        |    ::BIGINT AS covered_occ,
        |  max(tot.total_occ)::BIGINT AS total_occ,
        |  max(tot.n_types)::BIGINT AS n_types,
        |  coalesce(sum(CASE WHEN r.rnk <= ks.k THEN r.c END), 0)::DOUBLE
        |    / max(tot.total_occ)::DOUBLE AS coverage
        |FROM ks CROSS JOIN tot LEFT JOIN r ON r.rnk <= ks.k
        |GROUP BY ks.k ORDER BY k""".stripMargin) { (s, d) =>
      draftCoverageCurve(s, Tables.documents(s, d), Seq(10L, 100L, 1000L))
    },

    // --------------------------------------------------------------- q253
    "q253_loo_source_ablation" -> QueryDef.sql(
      "Leave-one-source-out ablation audit (the cheapest data-" +
      "valuation signal: how the corpus-wide mean document length " +
      "moves when a source is removed — the same fold a quality or " +
      "toxicity mean uses): per source its exact token sum and doc " +
      "count, the REST-of-corpus mean from broadcast totals, the " +
      "exact integer SIGN of (source mean - rest mean) via the " +
      "cross-product tok*(N - n_docs) - (T - tok)*n_docs (no float " +
      "ever decides direction; lifts to decimal(38,0) past ~3e9 " +
      "docs x 3e9 tokens, the q238 rule), and the fixed-shape " +
      "two-division IEEE delta. ONE combinable (source) rollup is " +
      "the only data pass at any scale — leave-one-out needs no " +
      "second scan because rest = total - self.",
      s"""WITH d AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(len($sqlToks))::BIGINT AS tok
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_docs)::BIGINT AS nn,
        |    sum(tok)::BIGINT AS tt FROM d)
        |SELECT source, n_docs, tok,
        |  CASE WHEN tok * (nn - n_docs) - (tt - tok) * n_docs > 0
        |      THEN 1
        |    WHEN tok * (nn - n_docs) - (tt - tok) * n_docs < 0
        |      THEN -1 ELSE 0 END::BIGINT AS delta_sign,
        |  (tok::DOUBLE / n_docs::DOUBLE)
        |    - ((tt - tok)::DOUBLE / (nn - n_docs)::DOUBLE)
        |    AS loo_delta
        |FROM d CROSS JOIN tot ORDER BY source""".stripMargin) { (s, d) =>
      looSourceAblation(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q254
    "q254_crosssource_redundancy" -> QueryDef.sql(
      "Cross-source n-gram redundancy (the self-BLEU-style diversity " +
      "proxy, source-granular): per source, the fraction of its " +
      "trigram OCCURRENCES whose trigram TYPE also appears in at " +
      "least one OTHER source — high redundancy marks a source " +
      "contributing little novel text to the mixture (boilerplate, " +
      "syndication), the signal mixture reweighting (q71) and " +
      "dedup budgeting (q143) consume. Exact: one (source, type) " +
      "count table, a type-spread rollup (distinct-source count), " +
      "and one fold per source splitting occurrences by spread >= " +
      "2 — integer counts + one IEEE division. Shape at 100 TB: " +
      "two combinable hash aggs on the (source, type) and (type) " +
      "grains + one equi-join of vocab-bounded tables; never a " +
      "doc-pair join (the q157 closed-form discipline).",
      s"""WITH t AS (SELECT source, $sqlToks AS w FROM documents),
        |tri AS (SELECT source, $sqlTri FROM t),
        |tc AS (SELECT source, tg, count(*)::BIGINT AS c
        |  FROM tri GROUP BY 1, 2),
        |sp AS (SELECT tg, count(*)::BIGINT AS n_src FROM tc GROUP BY 1)
        |SELECT tc.source, sum(tc.c)::BIGINT AS total_occ,
        |  sum(CASE WHEN sp.n_src >= 2 THEN tc.c ELSE 0 END)::BIGINT
        |    AS redundant_occ,
        |  sum(CASE WHEN sp.n_src >= 2 THEN tc.c ELSE 0 END)::DOUBLE
        |    / sum(tc.c)::DOUBLE AS redundancy
        |FROM tc JOIN sp ON tc.tg = sp.tg
        |GROUP BY 1 ORDER BY tc.source""".stripMargin) { (s, d) =>
      crossSourceRedundancy(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q255
    "q255_dsir_sign_score" -> QueryDef.sql(
      "DSIR-style importance sign score (Xie 2023 data selection " +
      "via importance resampling, integer-exact form): with target " +
      "distribution = the en slice and source = the rest, each " +
      "token type leans target (+1), source (-1), or neutral (0) by " +
      "the EXACT cross-product ce*TR vs cr*TE of its split counts " +
      "against the split totals (the sign of the log-likelihood " +
      "ratio without computing a log — engine-portable where the " +
      "float LLR is not); a document's score is the occurrence-" +
      "weighted lean sum over its tokens, an integer. Top-30 docs " +
      "by (score DESC, doc_id) = the resampling head. Shape at " +
      "100 TB: the lean table is vocab-bounded and broadcast; " +
      "scoring is one equi-join + one combinable per-doc sum; " +
      "TakeOrdered cut. ce*TR lifts to decimal(38,0) past ~3e9 " +
      "x 3e9 (q238 rule).",
      s"""WITH tk AS (SELECT doc_id, lang, unnest($sqlToks) AS term
        |  FROM documents),
        |tc AS (SELECT term,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ce,
        |    sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END)::BIGINT AS cr
        |  FROM tk GROUP BY 1),
        |tot AS (SELECT sum(ce)::BIGINT AS te, sum(cr)::BIGINT AS tr
        |  FROM tc),
        |lean AS (SELECT term,
        |    CASE WHEN ce * tr > cr * te THEN 1
        |      WHEN ce * tr < cr * te THEN -1 ELSE 0 END::BIGINT AS lean
        |  FROM tc CROSS JOIN tot),
        |ds AS (SELECT tk.doc_id, count(*)::BIGINT AS n_tok,
        |    sum(lean.lean)::BIGINT AS score
        |  FROM tk JOIN lean ON tk.term = lean.term GROUP BY 1),
        |r AS (SELECT doc_id, n_tok, score,
        |    row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT
        |      AS rank FROM ds)
        |SELECT rank, doc_id, n_tok, score
        |FROM r WHERE rank <= 30 ORDER BY rank""".stripMargin) { (s, d) =>
      dsirSignScore(Tables.documents(s, d), k = 30)
    },

    // --------------------------------------------------------------- q256
    "q256_prefix_cache_sharing" -> QueryDef.sql(
      "KV-cache prefix-sharing analysis (the batching/caching signal " +
      "behind prefix-cached inference, vLLM-style): per source, how " +
      "many documents share their first-8-token prefix with ANOTHER " +
      "corpus document — shared prefixes are the reuse a prefix " +
      "cache monetizes (system prompts, templates, boilerplate " +
      "headers) — plus the exact cacheable-token budget: every " +
      "member of a g-doc prefix group beyond the first rides the " +
      "cache for 8 tokens, so the budget is sum((g-1)*8) attributed " +
      "to members. Exact integers + one IEEE division. Shape at " +
      "100 TB: one (prefix) hash agg over a projected 8-token key + " +
      "one vocab-bounded equi-join back — never a doc pair join.",
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w
        |  FROM documents),
        |p AS (SELECT doc_id, source,
        |    array_to_string(w[1:8], ' ') AS pfx
        |  FROM t WHERE len(w) >= 8),
        |g AS (SELECT pfx, count(*)::BIGINT AS grp FROM p GROUP BY 1)
        |SELECT p.source, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN g.grp >= 2 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_shared_prefix,
        |  sum(CASE WHEN g.grp >= 2 THEN 8 ELSE 0 END)::BIGINT
        |    AS cacheable_tokens,
        |  sum(CASE WHEN g.grp >= 2 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE AS hit_rate
        |FROM p JOIN g ON p.pfx = g.pfx
        |GROUP BY 1 ORDER BY p.source""".stripMargin) { (s, d) =>
      prefixCacheSharing(Tables.documents(s, d), prefixLen = 8)
    },

    // --------------------------------------------------------------- q259
    "q259_novelty_attribution" -> QueryDef.sql(
      "First-seen novelty attribution (q254's redundancy, flipped to " +
      "CREDIT): every trigram TYPE is attributed to the document that " +
      "introduced it in doc_id order (the exact min-doc_id election — " +
      "two-phase, no float), and each source is credited the types " +
      "its docs introduced — the marginal-contribution ledger a " +
      "mixture curator reads next to q254's redundancy and q253's " +
      "ablation deltas: a source can be redundant in OCCURRENCES yet " +
      "still own a large share of first-seen TYPES. Exact integers + " +
      "one IEEE division per source. Shape at 100 TB: one (type, " +
      "min doc) agg, one join back to the introducing doc's source " +
      "(type-domain-bounded), one source rollup against a broadcast " +
      "type total.",
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w
        |  FROM documents),
        |tri AS (SELECT doc_id, source, $sqlTri FROM t),
        |fs AS (SELECT tg, min(doc_id)::BIGINT AS first_doc
        |  FROM tri GROUP BY 1),
        |dsrc AS (SELECT DISTINCT doc_id, source FROM documents),
        |att AS (SELECT dsrc.source, count(*)::BIGINT AS n_first_seen
        |  FROM fs JOIN dsrc ON fs.first_doc = dsrc.doc_id GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n_types FROM fs)
        |SELECT att.source, att.n_first_seen, tot.n_types,
        |  att.n_first_seen::DOUBLE / tot.n_types::DOUBLE
        |    AS novelty_share
        |FROM att CROSS JOIN tot ORDER BY att.source""".stripMargin) { (s, d) =>
      noveltyAttribution(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q260
    "q260_context_length_sizing" -> QueryDef.sql(
      "Context-length sizing sheet (the max_seq_len decision q135's " +
      "batch-padding audit presupposes): for each candidate cap " +
      "(32/64/128 tokens, spanning the corpus' 10-99 token range), " +
      "one scan prices the trade — tokens TRUNCATED (lost content, " +
      "sum max(0, n-cap)) vs tokens PADDED (burned compute, " +
      "sum max(0, cap-n) under one-doc-per-row padding) — with " +
      "utilization = useful/(docs*cap) and truncation share as the " +
      "two IEEE divisions over exact int64 sums. Shape at 100 TB: " +
      "the cap spine is 3 literals cross-joined to ONE combinable " +
      "rollup of per-doc token counts — the whole sheet costs one " +
      "corpus scan regardless of how many caps are priced.",
      s"""WITH t AS (SELECT len($sqlToks)::BIGINT AS n FROM documents),
        |caps AS (SELECT unnest([32, 64, 128]) AS cap)
        |SELECT cap::BIGINT AS cap, count(*)::BIGINT AS n_docs,
        |  sum(n)::BIGINT AS tokens_total,
        |  sum(CASE WHEN n > cap THEN n - cap ELSE 0 END)::BIGINT
        |    AS tokens_truncated,
        |  sum(CASE WHEN n < cap THEN cap - n ELSE 0 END)::BIGINT
        |    AS tokens_padded,
        |  sum(CASE WHEN n > cap THEN cap ELSE n END)::DOUBLE
        |    / (count(*) * cap)::DOUBLE AS utilization,
        |  sum(CASE WHEN n > cap THEN n - cap ELSE 0 END)::DOUBLE
        |    / sum(n)::DOUBLE AS truncation_share
        |FROM t CROSS JOIN caps GROUP BY cap ORDER BY cap""".stripMargin) {
      (s, d) =>
      contextLengthSizing(Tables.documents(s, d), Seq(32L, 64L, 128L))
    },

    // --------------------------------------------------------------- q261
    "q261_simpson_reversal" -> QueryDef.sql(
      "Simpson's-paradox reversal audit (Simpson 1951; the classic " +
      "aggregation trap an eval/metrics pipeline must check before " +
      "reading any pooled rate): for every ordered pair of order-" +
      "priority classes, the pooled return-rate direction (share of " +
      "lineitems with l_returnflag = 'R') vs the per-ship-year " +
      "directions — EVERY comparison an exact integer cross-product " +
      "r_a*n_b vs r_b*n_a, so no float ever decides a direction — " +
      "and the reversal flag fires only for the textbook case: a " +
      "nonzero pooled direction opposed by EVERY stratum that " +
      "expresses one. Emits per pair the pooled sign, stratum " +
      "agree/oppose/tie counts, and the flag. Shape at 100 TB: the " +
      "orderkey join is the only fact-side work; the audit runs on " +
      "one (priority, year) contingency rollup — calendar x class " +
      "bounded — then a class-pair join on that TINY aggregate " +
      "(|classes|^2 rows), never a fact-side pair join.",
      """WITH c AS (SELECT o.o_orderpriority AS mode,
        |    year(l.l_shipdate::DATE)::BIGINT AS yr,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      ::BIGINT AS r
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |m AS (SELECT mode, sum(n)::BIGINT AS n, sum(r)::BIGINT AS r
        |  FROM c GROUP BY 1),
        |pooled AS (SELECT a.mode AS mode_a, b.mode AS mode_b,
        |    (CASE WHEN a.r * b.n > b.r * a.n THEN 1
        |      WHEN a.r * b.n < b.r * a.n THEN -1 ELSE 0 END)::BIGINT
        |      AS pooled_sign
        |  FROM m a JOIN m b ON a.mode < b.mode),
        |strat AS (SELECT a.mode AS mode_a, b.mode AS mode_b,
        |    count(*)::BIGINT AS n_strata,
        |    sum(CASE WHEN a.r * b.n > b.r * a.n THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_up,
        |    sum(CASE WHEN a.r * b.n < b.r * a.n THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_down
        |  FROM c a JOIN c b ON a.mode < b.mode AND a.yr = b.yr
        |  GROUP BY 1, 2)
        |SELECT p.mode_a, p.mode_b, p.pooled_sign, s.n_strata,
        |  (CASE WHEN p.pooled_sign = 1 THEN s.n_up
        |    WHEN p.pooled_sign = -1 THEN s.n_down ELSE 0 END)::BIGINT
        |    AS n_agree,
        |  (CASE WHEN p.pooled_sign = 1 THEN s.n_down
        |    WHEN p.pooled_sign = -1 THEN s.n_up ELSE 0 END)::BIGINT
        |    AS n_oppose,
        |  (p.pooled_sign != 0
        |    AND (CASE WHEN p.pooled_sign = 1 THEN s.n_down
        |      WHEN p.pooled_sign = -1 THEN s.n_up ELSE 0 END) > 0
        |    AND (CASE WHEN p.pooled_sign = 1 THEN s.n_up
        |      WHEN p.pooled_sign = -1 THEN s.n_down ELSE 0 END) = 0)
        |    AS reversal
        |FROM pooled p JOIN strat s
        |  ON p.mode_a = s.mode_a AND p.mode_b = s.mode_b
        |ORDER BY p.mode_a, p.mode_b""".stripMargin) { (s, d) =>
      simpsonReversal(Tables.lineitem(s, d), Tables.orders(s, d))
    },

    // --------------------------------------------------------------- q262
    "q262_chunk_overlap_provenance" -> QueryDef.sql(
      "Sliding-window chunking provenance (q68's chunker with OVERLAP " +
      "— size 32, stride 24, the RAG/context-window shape where " +
      "consecutive chunks share 8 tokens so no boundary-spanning " +
      "passage is lost): per source the exact chunk count, the " +
      "chunked token volume, and the duplication factor " +
      "chunk_tokens/corpus_tokens >= 1 that overlap costs — the " +
      "number a storage/dedup budget multiplies by, and the mask " +
      "accounting a loss-masked trainer needs (overlapped tokens " +
      "appear in two windows). Chunk arithmetic is pure int: docs " +
      "with n <= 32 yield one chunk; else ceil((n-32)/24)+1, last " +
      "chunk length n - i*24. One scan + a per-doc bounded series " +
      "explode; a source rollup — no joins at all on the fact side.",
      s"""WITH t AS (SELECT source, len($sqlToks)::BIGINT AS n
        |  FROM documents WHERE len($sqlToks) > 0),
        |c AS (SELECT source, n,
        |    unnest(generate_series(0,
        |      CASE WHEN n <= 32 THEN 0
        |        ELSE (n - 32 + 23) // 24 END)) AS i
        |  FROM t),
        |ch AS (SELECT source, n, i,
        |    (least(i * 24 + 32, n) - i * 24)::BIGINT AS ctoks FROM c),
        |d AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(n)::BIGINT AS corpus_tokens FROM t GROUP BY 1),
        |g AS (SELECT source, count(*)::BIGINT AS n_chunks,
        |    sum(ctoks)::BIGINT AS chunk_tokens FROM ch GROUP BY 1)
        |SELECT d.source, d.n_docs, d.corpus_tokens, g.n_chunks,
        |  g.chunk_tokens,
        |  g.chunk_tokens::DOUBLE / d.corpus_tokens::DOUBLE
        |    AS duplication
        |FROM d JOIN g ON d.source = g.source
        |ORDER BY d.source""".stripMargin) { (s, d) =>
      chunkOverlapProvenance(Tables.documents(s, d), winSize = 32,
        stride = 24)
    },

    // --------------------------------------------------------------- q263
    "q263_wilson_intervals" -> QueryDef.sql(
      "Wilson score intervals (Wilson 1927) for per-source English " +
      "rates — the closed-form proportion CI an eval dashboard " +
      "should print instead of the Wald interval (which collapses " +
      "at p near 0/1 and small n; Wilson stays inside [0,1] and " +
      "matches q225's bootstrap where both apply): per source the " +
      "exact trial/success counts and the 95% bounds. Determinism: " +
      "c and n are exact int64 and both engines evaluate the " +
      "IDENTICAL fixed chain — p=c/n, denom=1+z2/n, " +
      "center=(p+z2/(2n))/denom, half=z*sqrt(p*(1-p)/n+z2/(4n^2))/" +
      "denom with z=1.96 and z2 spelled 1.96*1.96 in BOTH texts — " +
      "IEEE ops on identical inputs, hash-exact with no rounding. " +
      "Shape at 100 TB: one combinable (source) rollup; the CI " +
      "algebra runs on the |sources|-row frame.",
      s"""WITH a AS (SELECT source, count(*)::BIGINT AS n,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n, c,
        |    c::DOUBLE / n::DOUBLE AS p,
        |    1.0 + (1.96 * 1.96) / n::DOUBLE AS denom
        |  FROM a)
        |SELECT source, n, c,
        |  ((p + (1.96 * 1.96) / (2.0 * n::DOUBLE))
        |    - 1.96 * sqrt(p * (1.0 - p) / n::DOUBLE
        |      + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE)))
        |    / denom AS wilson_lo,
        |  ((p + (1.96 * 1.96) / (2.0 * n::DOUBLE))
        |    + 1.96 * sqrt(p * (1.0 - p) / n::DOUBLE
        |      + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE)))
        |    / denom AS wilson_hi
        |FROM w ORDER BY source""".stripMargin) { (s, d) =>
      wilsonIntervals(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q264
    "q264_neyman_allocation" -> QueryDef.sql(
      "Neyman-optimal sample allocation (Neyman 1934) of a 1,000-" +
      "unit eval/labeling budget across sources: minimum-variance " +
      "stratified sampling allocates n_h proportional to N_h*S_h " +
      "(stratum size x token-count sd). The sd enters as a FIXED " +
      "IEEE chain over exact int64 moment sums (population variance " +
      "Q/n - (T/n)^2, one sqrt), the weight is quantized " +
      "floor(N_h*S_h * 2^20) — the floor of an identical double on " +
      "both engines, so the quantized weight is engine-identical " +
      "int64 — and the seats are settled by q238's Hamilton " +
      "largest-remainder election in pure integer arithmetic " +
      "(quota = (B*w) div W, leftovers to the largest exact " +
      "remainders, ties to source), so sum(alloc) = 1000 exactly. " +
      "Shape at 100 TB: one combinable (source) moment rollup; the " +
      "election runs on the |strata|-row frame (the q238 shape); " +
      "B*w <= ~3e14, far inside int64.",
      s"""WITH m AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(len($sqlToks))::BIGINT AS t,
        |    sum(len($sqlToks) * len($sqlToks))::BIGINT AS q
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |    floor(n_docs::DOUBLE
        |      * sqrt(q::DOUBLE / n_docs::DOUBLE
        |        - (t::DOUBLE / n_docs::DOUBLE)
        |          * (t::DOUBLE / n_docs::DOUBLE))
        |      * 1048576.0)::BIGINT AS wq
        |  FROM m),
        |tw AS (SELECT sum(wq)::BIGINT AS tot FROM w),
        |qd AS (SELECT source, n_docs, wq,
        |    ((1000 * wq) // tw.tot)::BIGINT AS quota,
        |    ((1000 * wq) % tw.tot)::BIGINT AS rem
        |  FROM w CROSS JOIN tw),
        |lv AS (SELECT (1000 - sum(quota))::BIGINT AS leftover FROM qd),
        |r AS (SELECT source, n_docs, wq, quota, rem,
        |    row_number() OVER (ORDER BY rem DESC, source)::BIGINT
        |      AS rk FROM qd)
        |SELECT r.source, r.n_docs, r.wq, r.quota,
        |  (r.quota + CASE WHEN r.rk <= lv.leftover THEN 1 ELSE 0 END)
        |    ::BIGINT AS alloc
        |FROM r CROSS JOIN lv ORDER BY r.source""".stripMargin) { (s, d) =>
      neymanAllocation(Tables.documents(s, d), budget = 1000L)
    }
  )

  /** q248's acceptance table over arbitrary documents — shared with
    * CurationSpec. */
  def speculativeAcceptance(docs: DataFrame, minSupport: Long,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(tokens(col("text")).as("w"))
    val c3 = t.select(explode(expr(
        """CASE WHEN size(w) >= 3
          |THEN transform(sequence(1, size(w) - 2),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1),
          |    ' ', element_at(w, i + 2)))
          |ELSE array() END""".stripMargin)).as("tg"))
      .select(
        concat(split(col("tg"), " ").getItem(0), lit(" "),
          split(col("tg"), " ").getItem(1)).as("ctx"),
        split(col("tg"), " ").getItem(1).as("b"),
        split(col("tg"), " ").getItem(2).as("w3"))
      .groupBy("ctx", "b", "w3").agg(count(lit(1)).cast("long").as("c"))
      // c3/bg each feed 3-4 consumers (their own totals, the acceptance
      // join, the result join) whose broadcast sides run as CONCURRENT
      // jobs — un-materialized, each re-ran the tokenize+explode+agg
      // chain (JobTrace r16: four 0.4-0.7 s overlapping jobs). The
      // type tables are vocab-bounded; materializing them once is the
      // same call a production pipeline makes before reusing an n-gram
      // table (the q95/q211 r16 pattern).
      .localCheckpoint()
    val tt = c3.groupBy("ctx").agg(sum("c").cast("long").as("t_total"))
    val bg = t.select(explode(expr(
        """CASE WHEN size(w) >= 2
          |THEN transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
          |ELSE array() END""".stripMargin)).as("bgr"))
      .select(split(col("bgr"), " ").getItem(0).as("prev"),
        split(col("bgr"), " ").getItem(1).as("w3"))
      .groupBy("prev", "w3").agg(count(lit(1)).cast("long").as("c"))
      .localCheckpoint() // see c3 above
    val dt = bg.groupBy("prev").agg(sum("c").cast("long").as("d_total"))
    val num = c3.as("c3")
      .join(bg.as("bg"),
        col("c3.b") === col("bg.prev") && col("c3.w3") === col("bg.w3"))
      .join(tt, "ctx")
      .join(dt.select(col("prev").as("dprev"), col("d_total")),
        col("c3.b") === col("dprev"))
      .groupBy("ctx")
      .agg(sum(least(col("c3.c") * col("d_total"),
        col("bg.c") * col("t_total"))).cast("long").as("acc_num"))
    val r = tt.where(col("t_total") >= minSupport)
      .join(dt, split(col("ctx"), " ").getItem(1) === col("prev"))
      .join(num, Seq("ctx"), "left")
      .select(col("ctx"), col("t_total"), col("d_total"),
        coalesce(col("acc_num"), lit(0L)).cast("long").as("acc_num"))
      .orderBy(col("t_total").desc, col("ctx")).limit(k)
    r.select(
        row_number().over(Window.orderBy(col("t_total").desc, col("ctx")))
          .cast("long").as("rank"),
        col("ctx"), col("t_total"), col("d_total"), col("acc_num"),
        (col("acc_num").cast("double")
          / (col("t_total") * col("d_total")).cast("double"))
          .as("accept_rate"))
      .orderBy("rank")
  }

  /** q249's pass@k over arbitrary (task, ok) samples derived from
    * lineitem — shared with CurationSpec via passAtKFrom. */
  def passAtK(lineitem: DataFrame, k: Int): DataFrame =
    passAtKFrom(passSamples(lineitem), k)

  /** The (task, ok) sample stream q249 derives from lineitem: task =
    * supplier, pass bit = the salted integer hash at a 1-in-5 rate.
    * Shared with the PassAtKStream twin so batch and stream hash the
    * same stream. */
  def passSamples(lineitem: DataFrame): DataFrame = {
    val ok = when(graft.functions.DeterministicHash.knuth32(
        col("l_orderkey") * 8 + col("l_linenumber"),
        graft.functions.DeterministicHash.passSalt) % 5 === 0, 1L)
      .otherwise(0L)
    lineitem.select(col("l_suppkey").as("task"), ok.as("ok"))
  }

  /** The per-task (n, c) counter grid — one commutative rollup, shared
    * by batch q249 and the streaming twin (state = |tasks| cells). */
  def passTaskGrid(samples: DataFrame): DataFrame =
    samples.groupBy("task").agg(count(lit(1)).cast("long").as("n"),
      sum("ok").cast("long").as("c"))

  /** The estimator read over stored (task, n, c) cells — pure per-row
    * algebra, shared by batch and stream read-back. */
  def passAtKRead(cells: DataFrame, k: Int): DataFrame = {
    val prod = (0 until k).map { i =>
      (col("n") - col("c") - lit(i.toLong)).cast("double")./(
        (col("n") - lit(i.toLong)).cast("double"))
    }.reduceLeft(_ * _)
    cells.where(col("n") >= k)
      .select(col("task"), col("n"), col("c"),
        when(col("n") - col("c") < k.toLong, lit(1.0))
          .otherwise(lit(1.0) - prod).as(s"pass_at_$k"))
      .orderBy("task")
  }

  /** The estimator over a prepared (task, ok) frame. */
  def passAtKFrom(samples: DataFrame, k: Int): DataFrame =
    passAtKRead(passTaskGrid(samples), k)

  /** q262's sliding-window chunk accounting (size/stride in tokens). */
  def chunkOverlapProvenance(docs: DataFrame, winSize: Int,
      stride: Int): DataFrame = {
    val t = docs.select(col("source"),
        size(tokens(col("text"))).cast("long").as("n"))
      .where(col("n") > 0)
    val c = t.select(col("source"), col("n"), explode(sequence(lit(0L),
        when(col("n") <= winSize.toLong, lit(0L))
          .otherwise(expr(s"(n - $winSize + ${stride - 1}) div $stride"))
          .cast("long"))).as("i"))
      .select(col("source"),
        (least(col("i") * stride + winSize, col("n")) - col("i") * stride)
          .cast("long").as("ctoks"))
    val d = t.groupBy("source").agg(count(lit(1)).cast("long").as("n_docs"),
      sum("n").cast("long").as("corpus_tokens"))
    val g = c.groupBy("source").agg(
      count(lit(1)).cast("long").as("n_chunks"),
      sum("ctoks").cast("long").as("chunk_tokens"))
    d.join(g, "source")
      .select(col("source"), col("n_docs"), col("corpus_tokens"),
        col("n_chunks"), col("chunk_tokens"),
        (col("chunk_tokens").cast("double")
          / col("corpus_tokens").cast("double")).as("duplication"))
      .orderBy("source")
  }

  /** q263's closed-form 95% Wilson bounds over exact counts. */
  def wilsonIntervals(docs: DataFrame): DataFrame = {
    val a = docs.groupBy("source").agg(
      count(lit(1)).cast("long").as("n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long")
        .as("c"))
    val nD = col("n").cast("double")
    val p = col("c").cast("double")./(nD)
    val z2 = lit(1.96) * lit(1.96)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / nD
      + z2 / (lit(4.0) * nD * nD))
    a.select(col("source"), col("n"), col("c"),
        ((center - half) / denom).as("wilson_lo"),
        ((center + half) / denom).as("wilson_hi"))
      .orderBy("source")
  }

  /** q264's quantized Neyman weights + Hamilton seat election. */
  def neymanAllocation(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs.groupBy("source").agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).cast("long").as("t"),
      sum(size(tokens(col("text"))).cast("long")
        * size(tokens(col("text"))).cast("long")).cast("long").as("q"))
    val nD = col("n_docs").cast("double")
    val varE = col("q").cast("double")./(nD)
      .-((col("t").cast("double")./(nD)) * (col("t").cast("double")./(nD)))
    val w = m.select(col("source"), col("n_docs"),
      floor(nD * sqrt(varE) * lit(1048576.0)).cast("long").as("wq"))
    val tw = broadcast(w.agg(sum("wq").cast("long").as("tot")))
    val qd = w.crossJoin(tw)
      .select(col("source"), col("n_docs"), col("wq"),
        expr(s"($budget * wq) div tot").cast("long").as("quota"),
        expr(s"($budget * wq) % tot").cast("long").as("rem"))
    val lv = broadcast(qd.agg((lit(budget)
      - sum("quota").cast("long")).as("leftover")))
    qd.withColumn("rk", row_number()
        .over(Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .crossJoin(lv)
      .select(col("source"), col("n_docs"), col("wq"), col("quota"),
        (col("quota") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).cast("long").as("alloc"))
      .orderBy("source")
  }

  /** q260's one-scan cap-pricing fold over a literal cap spine —
    * grid + read shared with the ContextSizingStream twin. */
  def contextLengthSizing(docs: DataFrame, caps: Seq[Long]): DataFrame =
    sizingRead(sizingGrid(
      docs.select(size(tokens(col("text"))).cast("long").as("n")), caps))

  /** The per-cap counter grid over a stream/frame of token counts n —
    * commutative sums, |caps| cells of five longs. */
  def sizingGrid(lengths: DataFrame, caps: Seq[Long]): DataFrame = {
    val s = lengths.sparkSession
    import s.implicits._
    lengths.crossJoin(broadcast(caps.toDF("cap")))
      .groupBy("cap")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n").cast("long").as("tokens_total"),
        sum(when(col("n") > col("cap"), col("n") - col("cap"))
          .otherwise(0L)).cast("long").as("tokens_truncated"),
        sum(when(col("n") < col("cap"), col("cap") - col("n"))
          .otherwise(0L)).cast("long").as("tokens_padded"),
        sum(when(col("n") > col("cap"), col("cap")).otherwise(col("n")))
          .cast("long").as("useful"))
  }

  /** The pricing read over stored per-cap cells — pure per-row algebra. */
  def sizingRead(cells: DataFrame): DataFrame =
    cells.select(col("cap"), col("n_docs"), col("tokens_total"),
        col("tokens_truncated"), col("tokens_padded"),
        (col("useful").cast("double")
          / (col("n_docs") * col("cap")).cast("double")).as("utilization"),
        (col("tokens_truncated").cast("double")
          / col("tokens_total").cast("double")).as("truncation_share"))
      .orderBy("cap")

  /** q261's pooled-vs-strata direction audit over any frame with
    * (mode, yr, n, r) derivable — shared with CurationSpec's planted
    * reversal via simpsonFromCells. */
  def simpsonReversal(lineitem: DataFrame, orders: DataFrame)
      : DataFrame =
    simpsonFromCells(lineitem
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority").as("mode")), "l_orderkey")
      .groupBy(col("mode"),
        year(col("l_shipdate").cast("date")).cast("long").as("yr"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .cast("long").as("r")))

  /** The audit over prepared (mode, yr, n, r) contingency cells. */
  def simpsonFromCells(c: DataFrame): DataFrame = {
    val m = c.groupBy("mode").agg(sum("n").cast("long").as("n"),
      sum("r").cast("long").as("r"))
    def sign(ra: Column, na: Column, rb: Column, nb: Column): Column =
      when(ra * nb > rb * na, 1L).when(ra * nb < rb * na, -1L)
        .otherwise(0L)
    val pooled = m.as("a")
      .join(broadcast(m.as("b")), col("a.mode") < col("b.mode"))
      .select(col("a.mode").as("mode_a"), col("b.mode").as("mode_b"),
        sign(col("a.r"), col("a.n"), col("b.r"), col("b.n"))
          .cast("long").as("pooled_sign"))
    val strat = c.as("a").join(broadcast(c.as("b")),
        col("a.mode") < col("b.mode") && col("a.yr") === col("b.yr"))
      .groupBy(col("a.mode").as("mode_a"), col("b.mode").as("mode_b"))
      .agg(count(lit(1)).cast("long").as("n_strata"),
        sum(when(col("a.r") * col("b.n") > col("b.r") * col("a.n"), 1L)
          .otherwise(0L)).cast("long").as("n_up"),
        sum(when(col("a.r") * col("b.n") < col("b.r") * col("a.n"), 1L)
          .otherwise(0L)).cast("long").as("n_down"))
    pooled.join(strat, Seq("mode_a", "mode_b"))
      .select(col("mode_a"), col("mode_b"), col("pooled_sign"),
        col("n_strata"),
        when(col("pooled_sign") === 1L, col("n_up"))
          .when(col("pooled_sign") === -1L, col("n_down"))
          .otherwise(0L).cast("long").as("n_agree"),
        when(col("pooled_sign") === 1L, col("n_down"))
          .when(col("pooled_sign") === -1L, col("n_up"))
          .otherwise(0L).cast("long").as("n_oppose"))
      .withColumn("reversal",
        col("pooled_sign") =!= 0L && col("n_oppose") > 0L &&
          col("n_agree") === 0L)
      .orderBy("mode_a", "mode_b")
  }

  /** q256's prefix-group fold: one (prefix) hash agg + join back. */
  def prefixCacheSharing(docs: DataFrame, prefixLen: Int): DataFrame = {
    val p = docs.select(col("doc_id"), col("source"),
        tokens(col("text")).as("w"))
      .where(size(col("w")) >= prefixLen)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", slice(col("w"), 1, prefixLen)).as("pfx"))
    val g = p.groupBy("pfx").agg(count(lit(1)).cast("long").as("grp"))
    p.join(g, "pfx")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("grp") >= 2, 1L).otherwise(0L)).cast("long")
          .as("n_shared_prefix"),
        sum(when(col("grp") >= 2, prefixLen.toLong).otherwise(0L))
          .cast("long").as("cacheable_tokens"))
      .select(col("source"), col("n_docs"), col("n_shared_prefix"),
        col("cacheable_tokens"),
        (col("n_shared_prefix").cast("double")
          / col("n_docs").cast("double")).as("hit_rate"))
      .orderBy("source")
  }

  /** q259's first-seen election + source credit rollup. */
  def noveltyAttribution(docs: DataFrame): DataFrame = {
    val fs = trigrams(docs, Seq("doc_id")).groupBy("tg")
      .agg(min("doc_id").cast("long").as("first_doc"))
    val dsrc = docs.select(col("doc_id").as("first_doc"), col("source"))
      .distinct()
    val att = fs.join(dsrc, "first_doc")
      .groupBy("source").agg(count(lit(1)).cast("long").as("n_first_seen"))
    val tot = broadcast(fs.agg(count(lit(1)).cast("long").as("n_types")))
    att.crossJoin(tot)
      .select(col("source"), col("n_first_seen"), col("n_types"),
        (col("n_first_seen").cast("double")
          / col("n_types").cast("double")).as("novelty_share"))
      .orderBy("source")
  }

  /** q252's coverage fold: trigram types ranked by (count DESC, type)
    * via RangeRank, head filtered to max(ks), curve points against
    * broadcast totals. */
  def draftCoverageCurve(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, ks: Seq[Long]): DataFrame = {
    import s.implicits._
    val c3 = trigrams(docs).groupBy("tg")
      .agg(count(lit(1)).cast("long").as("c"))
      // consumed by the totals broadcast AND RangeRank's multi-job
      // rank protocol — materialize the vocab-bounded type table once
      // (q248's rationale)
      .localCheckpoint()
    val tot = broadcast(c3.agg(sum("c").cast("long").as("total_occ"),
      count(lit(1)).cast("long").as("n_types")))
    val head = graft.functions.RangeRank
      .withRowNumber(c3, "c", "tg", "rnk", desc = true)
      .where(col("rnk") <= ks.max)
      .select(col("rnk"), col("c"))
    val cov = ks.toDF("k")
      .join(broadcast(head), col("rnk") <= col("k"), "left")
      .groupBy("k")
      .agg(coalesce(sum("c"), lit(0L)).cast("long").as("covered_occ"))
    cov.crossJoin(tot)
      .select(col("k"), col("covered_occ"), col("total_occ"),
        col("n_types"),
        (col("covered_occ").cast("double")
          / col("total_occ").cast("double")).as("coverage"))
      .orderBy("k")
  }

  /** q253's leave-one-source-out fold: one (source) rollup + broadcast
    * totals; rest = total - self. Grid + read shared with the
    * LooAblationStream twin. */
  def looSourceAblation(docs: DataFrame): DataFrame =
    looRead(looGrid(docs.select(col("source"),
      size(tokens(col("text"))).cast("long").as("n_tok"))))

  /** The per-source (n_docs, tok) ledger over a (source, n_tok)
    * stream/frame — commutative sums, |sources| cells. */
  def looGrid(rows: DataFrame): DataFrame =
    rows.groupBy("source").agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum("n_tok").cast("long").as("tok"))

  /** The ablation read over stored cells: rest = total - self. */
  def looRead(dd: DataFrame): DataFrame = {
    val tot = broadcast(dd.agg(sum("n_docs").cast("long").as("nn"),
      sum("tok").cast("long").as("tt")))
    dd.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("tok"),
        when(expr("tok * (nn - n_docs) - (tt - tok) * n_docs") > 0, 1L)
          .when(expr("tok * (nn - n_docs) - (tt - tok) * n_docs") < 0,
            -1L)
          .otherwise(0L).cast("long").as("delta_sign"),
        (col("tok").cast("double")./(col("n_docs").cast("double")))
          .-((col("tt") - col("tok")).cast("double")
            ./((col("nn") - col("n_docs")).cast("double")))
          .as("loo_delta"))
      .orderBy("source")
  }

  /** q254's redundancy fold: (source, type) counts x type spread. */
  def crossSourceRedundancy(docs: DataFrame): DataFrame = {
    val tc = trigrams(docs, Seq("source")).groupBy("source", "tg")
      .agg(count(lit(1)).cast("long").as("c"))
      // feeds both the spread rollup and the redundancy join
      // (q248's rationale)
      .localCheckpoint()
    val sp = tc.groupBy("tg").agg(count(lit(1)).cast("long").as("n_src"))
    tc.join(sp, "tg")
      .groupBy("source")
      .agg(sum("c").cast("long").as("total_occ"),
        sum(when(col("n_src") >= 2, col("c")).otherwise(0L))
          .cast("long").as("redundant_occ"))
      .select(col("source"), col("total_occ"), col("redundant_occ"),
        (col("redundant_occ").cast("double")
          / col("total_occ").cast("double")).as("redundancy"))
      .orderBy("source")
  }

  /** q255's integer lean table + occurrence-weighted doc scores. */
  def dsirSignScore(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("term"))
    val tc = tk.groupBy("term").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("long")
        .as("ce"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).cast("long")
        .as("cr"))
    val tot = broadcast(tc.agg(sum("ce").cast("long").as("te"),
      sum("cr").cast("long").as("tr")))
    val lean = tc.crossJoin(tot).select(col("term"),
      when(col("ce") * col("tr") > col("cr") * col("te"), 1L)
        .when(col("ce") * col("tr") < col("cr") * col("te"), -1L)
        .otherwise(0L).cast("long").as("lean"))
    val ds = tk.join(lean, "term").groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tok"),
        sum("lean").cast("long").as("score"))
    ds.orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("rank"),
        col("doc_id"), col("n_tok"), col("score"))
      .orderBy("rank")
  }

  /** q251's Copeland scoring from q237's persisted smoothed pair
    * matrix (verdict-invariant under symmetric +1 smoothing). */
  def condorcetCopeland(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    copelandFromPairs(AgreementQueries.btPairsStored(s, d), k)
  }

  /** The scoring fold over any (u, v, w_uv, w_vu) pair matrix —
    * shared with CurationSpec's hand graphs. */
  def copelandFromPairs(pr: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = pr.select(col("u").as("i"),
        when(col("w_uv") > col("w_vu"), 2L)
          .when(col("w_uv") === col("w_vu"), 1L).otherwise(0L).as("pts"))
      .unionByName(pr.select(col("v").as("i"),
        when(col("w_vu") > col("w_uv"), 2L)
          .when(col("w_uv") === col("w_vu"), 1L).otherwise(0L).as("pts")))
    val g = sc.groupBy("i").agg(count(lit(1)).cast("long").as("n_opp"),
      sum("pts").cast("long").as("copeland2"))
    g.orderBy(col("copeland2").desc, col("i")).limit(k)
      .select(
        row_number().over(Window.orderBy(col("copeland2").desc, col("i")))
          .cast("long").as("rank"),
        col("i").as("partkey"), col("n_opp"), col("copeland2"),
        (col("copeland2") === lit(2L) * col("n_opp")).as("is_condorcet"))
      .orderBy("rank")
  }
}
