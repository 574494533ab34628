package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (north-star
  * LLM-data-pipeline surface): lenient parsing (the reference's O6 compat
  * semantics), filename routing (O18), token statistics, quality scoring,
  * language ID and content fingerprinting. Every query is a pure
  * Catalyst-expression plan with a bit-exact DuckDB oracle — integer
  * arithmetic and fixed-order folds, no tolerance needed.
  */
object TextQueries {

  // Shared DuckDB SQL fragments (tokens / contribs) kept textually in each
  // oracle so each query stays runnable standalone.
  // [\s\x0B]: RE2's \s is [ \t\n\f\r] while Java's (the native
  // WhitespaceTokens/WordShingles side) also includes vertical tab —
  // adding \x0B makes the two tokenizers byte-identical on any input.
  // (Leading/trailing control chars wash out either way: Java trim strips
  // them, DuckDB splits them into empty tokens the filter drops.)
  private[operators] val sqlToks =
    """list_filter(string_split_regex(lower(trim(text)), '[\s\x0B]+'), t -> t != '')"""

  /** The q79 BM25 oracle's CTE chain ending in `branked` — the FULL
    * ranking (doc_id, dl, per-term scores, score, rnk) with no k cut, so
    * q79 (top-10) and q162's hybrid fusion (lexical top-50 leg) slice
    * one shared definition. No leading WITH: composes after other CTE
    * chains (q162 prepends the embeddings `c`/`n` normalization). */
  private[operators] val bm25RankedCtes: String =
    s"""t AS (SELECT doc_id, $sqlToks AS w FROM documents),
      |dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM t),
      |st AS (SELECT count(*)::BIGINT AS n,
      |         sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
      |       FROM (SELECT doc_id, unnest(w) AS term FROM t)
      |       WHERE term IN ('spark', 'join', 'stream')
      |       GROUP BY doc_id, term),
      |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term,
      |    ((st.n::DOUBLE - df.df::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
      |    * (tf.tf::DOUBLE * 2.2
      |       / (tf.tf::DOUBLE
      |          + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / st.avgdl)))) AS s
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
      |per AS (SELECT doc_id,
      |    sum(CASE WHEN term = 'spark' THEN s END) AS s_spark,
      |    sum(CASE WHEN term = 'join' THEN s END) AS s_join,
      |    sum(CASE WHEN term = 'stream' THEN s END) AS s_stream
      |  FROM sc GROUP BY doc_id),
      |branked AS (SELECT p.doc_id, dl.dl, p.s_spark, p.s_join, p.s_stream,
      |    coalesce(p.s_spark, 0) + coalesce(p.s_join, 0)
      |      + coalesce(p.s_stream, 0) AS score,
      |    row_number() OVER (ORDER BY coalesce(p.s_spark, 0)
      |      + coalesce(p.s_join, 0) + coalesce(p.s_stream, 0) DESC,
      |      p.doc_id)::BIGINT AS rnk
      |  FROM per p JOIN dl USING (doc_id))""".stripMargin

  // GPT-2-style pre-tokenizer pattern, restricted to the RE2-and-Java
  // common subset: RE2 (DuckDB) has no lookahead, so the original
  // `\s+(?!\S)` trailing-space clause is simplified to plain runs. Same
  // alternation order both engines (leftmost-first applies identically).
  // Whitespace is spelled as an EXPLICIT class, not \s: Java's \s
  // includes vertical tab (U+000B), RE2's does not — a VT in a document
  // would tokenize differently per engine and break hash parity.
  private val wsClass = """ \t\n\x0B\f\r"""
  private val bpePat =
    s"""'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9$wsClass']+|[$wsClass]+"""

  /** The q55 composite-clean plan over an arbitrary documents frame
    * (doc_id, lang, text), so a scale probe over a replicated corpus
    * (BASELINE.md's probe sections) can never measure a different plan
    * than the one the catalog ships. Shape: one hash-partitioned
    * aggregate for canonical ids, a left-semi join back, then pure
    * codegen'd per-row gates. */
  def corpusClean(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    corpusCleanGates(docs).orderBy("doc_id")

  /** [[corpusClean]] without the final presentation sort — the form a
    * downstream pipeline stage (q70) composes over, so the optimizer
    * never has to reason a useless sort out from under a join. */
  private[operators] def corpusCleanGates(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val canon = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val kept = docs.join(canon, Seq("doc_id"), "left_semi")
    val w = tokens(col("text"))
    val punct = charClassRatio(col("text"), "[^.,;:!?]")
    val stop = vocabHits(w, langVocab.toMap.apply("en")).cast("double") /
      size(w).cast("double")
    val hits = langVocab.map { case (l, vocab) => l -> vocabHits(w, vocab).cast("long") }.toMap
    kept.select(
        col("doc_id"), col("lang"),
        size(w).cast("long").as("n_tokens"),
        ((lit(1) - punct) * (lit(0.5) + stop)).as("quality"),
        hits("en").as("en_hits"), hits("es").as("es_hits"),
        hits("de").as("de_hits"), hits("fr").as("fr_hits"))
      .where(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
        col("en_hits") >= col("fr_hits") &&
        col("quality") >= 0.4 && col("n_tokens") >= 5)
      .select("doc_id", "lang", "n_tokens", "quality")
  }

  /** The q53 TF-IDF plan over an arbitrary documents frame (doc_id,
    * text), so a scale probe (BASELINE.md's probe sections) measures the
    * catalog plan.
    *
    * Shape notes: df aggregates tf (already one row per distinct
    * (doc_id, term)), never the raw exploded terms — one small
    * (term, count) output. Spark recomputes tf's lineage for the df
    * branch (self-join exprId rewriting defeats exchange reuse); a
    * production pipeline would stage tf to a table. The skew-prone
    * alternative — a window count over tf's term partition — is
    * deliberately avoided: AQE splits skewed joins, not skewed windows.
    * Exchange audit in PlanChecksSpec. */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val score = col("tf").cast("double") * (col("n") + lit(1)) /
      (col("df").cast("double") + lit(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(score.desc, col("term"))
    tf.join(df, "term")
      .join(broadcast(n)) // 1-row scalar rides as a broadcast
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
      .orderBy("doc_id", "rnk")
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------- q27
    "q27_lenient_cast" -> QueryDef.sql(
      "Reference O6 compat semantics (/root/reference/etl/main.go:214-218):" +
      " unparseable numeric strings become 0.0 instead of NULL, so derived" +
      " metrics (100 - x) degrade to 100.0 exactly like the Go pipeline.",
      """SELECT doc_id,
        |  coalesce(TRY_CAST(CASE WHEN doc_id % 2 = 0 THEN n_chars::VARCHAR ELSE text END AS DOUBLE), 0.0) AS parsed,
        |  100 - coalesce(TRY_CAST(CASE WHEN doc_id % 2 = 0 THEN n_chars::VARCHAR ELSE text END AS DOUBLE), 0.0) AS utilization
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val raw = when(col("doc_id") % 2 === 0, col("n_chars").cast("string"))
        .otherwise(col("text"))
      val parsed = coalesce(raw.cast("double"), lit(0.0))
      Tables.documents(s, d)
        .select(col("doc_id"), parsed.as("parsed"), (lit(100) - parsed).as("utilization"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q28
    "q28_worker_id_extract" -> QueryDef.sql(
      "Reference O18 (/root/reference/etl/main.go:361-372): recover the " +
      "worker id from a spill filename; malformed names route to 0.",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'buffer_failed_workerX.json.gz'
        |       ELSE 'buffer_failed_worker' || (doc_id % 10) || '.json.gz' END AS fname,
        |  coalesce(nullif(regexp_extract(
        |    CASE WHEN doc_id % 7 = 0 THEN 'buffer_failed_workerX.json.gz'
        |         ELSE 'buffer_failed_worker' || (doc_id % 10) || '.json.gz' END,
        |    'worker(\d+)', 1), '')::INT, 0) AS worker_id
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val fname = when(col("doc_id") % 7 === 0, lit("buffer_failed_workerX.json.gz"))
        .otherwise(concat(lit("buffer_failed_worker"),
          (col("doc_id") % 10).cast("string"), lit(".json.gz")))
      Tables.documents(s, d)
        .select(col("doc_id"), fname.as("fname"),
          coalesce(nullif(regexp_extract(fname, "worker(\\d+)", 1), lit("")).cast("int"), lit(0))
            .as("worker_id"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q29
    "q29_text_token_stats" -> QueryDef.sql(
      "Token counting + lexical statistics per document (whitespace " +
      "tokenizer; integer sums folded then divided once for exact parity).",
      s"""WITH t AS (SELECT doc_id, lang, $sqlToks AS w FROM documents)
        |SELECT doc_id, lang,
        |  len(w)::BIGINT AS n_tokens,
        |  COALESCE(list_sum(list_transform(w, t -> length(t))), 0)::BIGINT AS total_len,
        |  CASE WHEN len(w) = 0 THEN NULL
        |       ELSE list_sum(list_transform(w, t -> length(t)))::DOUBLE / len(w)::DOUBLE
        |  END AS avg_token_len,
        |  len(list_distinct(w))::BIGINT AS n_unique,
        |  CASE WHEN len(w) = 0 THEN NULL
        |       ELSE len(list_distinct(w))::DOUBLE / len(w)::DOUBLE END AS ttr
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // same zero-token guard as q63's fertility: Spark NULLs x/0,
      // DuckDB returns IEEE Infinity — make NULL-on-empty explicit on
      // both sides so parity doesn't depend on the corpus. total_len is
      // COALESCE'd to 0 in the oracle because DuckDB's list_sum over an
      // empty list is NULL while the native SumTokenLengths returns 0 —
      // zero characters is the defined answer for zero tokens.
      val totalLen = sumTokenLengths(col("w"))
      val nUnique = size(array_distinct(col("w")))
      val nw = size(col("w"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
        .select(
          col("doc_id"), col("lang"),
          nw.cast("long").as("n_tokens"),
          totalLen.as("total_len"),
          when(nw === 0, lit(null))
            .otherwise(totalLen.cast("double") / nw.cast("double"))
            .as("avg_token_len"),
          nUnique.cast("long").as("n_unique"),
          when(nw === 0, lit(null))
            .otherwise(nUnique.cast("double") / nw.cast("double")).as("ttr"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q63
    "q63_bpe_token_count" -> QueryDef.sql(
      "BPE-style token counting: the GPT-2 pre-tokenizer shape " +
      "(contractions | space?letters | space?digits | space?punct-runs " +
      "| whitespace-runs) restricted to the RE2-and-Java common regex " +
      "subset (no lookahead), plus subword fertility (BPE tokens per " +
      "whitespace word) — the cost-estimation signal an LLM data " +
      "pipeline computes before training. One codegen'd " +
      "regexp_extract_all per row, zero shuffles.",
      s"""WITH t AS (SELECT doc_id, lang, $sqlToks AS w,
        |  regexp_extract_all(text, '${bpePat.replace("'", "''")}') AS bt
        |FROM documents)
        |SELECT doc_id, lang,
        |  len(bt)::BIGINT AS n_bpe_tokens,
        |  len(w)::BIGINT AS n_ws_tokens,
        |  CASE WHEN len(w) = 0 THEN NULL
        |       ELSE len(bt)::DOUBLE / len(w)::DOUBLE END AS fertility
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Explicit zero guard on BOTH sides (ADVICE r3): a whitespace-only
      // document has 0 tokens; Spark's non-ANSI x/0 yields NULL while
      // DuckDB's IEEE double division yields Infinity, so without the
      // guard hash parity holds only while the corpus contains no such
      // document. NULL-on-empty is also the honest answer for a
      // tokens-per-word ratio of a wordless document.
      val bt = regexp_extract_all(col("text"), lit(bpePat), lit(0))
      val nw = size(tokens(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(bt).cast("long").as("n_bpe_tokens"),
          nw.cast("long").as("n_ws_tokens"),
          when(nw === 0, lit(null))
            .otherwise(size(bt).cast("double") / nw.cast("double"))
            .as("fertility"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q30
    "q30_text_quality" -> QueryDef.sql(
      "Quality scoring: punctuation ratio, stopword ratio, and a " +
      "composite score — all exact-arithmetic signals for filter " +
      "thresholds in a training-data pipeline.",
      s"""WITH t AS (SELECT doc_id, text, n_chars, $sqlToks AS w FROM documents)
        |SELECT doc_id,
        |  len(w)::BIGINT AS n_tokens,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)::DOUBLE AS punct_ratio,
        |  len(list_filter(w, t -> t IN ('the','and','of','to','a')))::DOUBLE / len(w)::DOUBLE AS stopword_ratio,
        |  (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)::DOUBLE)
        |    * (0.5 + len(list_filter(w, t -> t IN ('the','and','of','to','a')))::DOUBLE / len(w)::DOUBLE)
        |    AS quality
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = tokens(col("text"))
      val punct = charClassRatio(col("text"), "[^.,;:!?]")
      val stop = vocabHits(w, Seq("the", "and", "of", "to", "a")).cast("double") /
        size(w).cast("double")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(w).cast("long").as("n_tokens"),
          punct.as("punct_ratio"),
          stop.as("stopword_ratio"),
          ((lit(1) - punct) * (lit(0.5) + stop)).as("quality"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q31
    "q31_text_langid" -> QueryDef.sql(
      "Language ID by per-language stopword scoring with a fixed argmax " +
      "priority (en > es > de > fr) — the n-gram-heuristic operator shape.",
      s"""WITH t AS (SELECT doc_id, lang, $sqlToks AS w FROM documents),
        |h AS (SELECT doc_id, lang,
        |  len(list_filter(w, t -> t IN ('the','and','of','to','a')))::BIGINT AS en_hits,
        |  len(list_filter(w, t -> t IN ('el','la','de','los','y')))::BIGINT AS es_hits,
        |  len(list_filter(w, t -> t IN ('der','die','und','das','ist')))::BIGINT AS de_hits,
        |  len(list_filter(w, t -> t IN ('le','les','et','des','un')))::BIGINT AS fr_hits
        |FROM t)
        |SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
        |       WHEN de_hits >= fr_hits THEN 'de'
        |       ELSE 'fr' END AS pred_lang
        |FROM h
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = tokens(col("text"))
      val hits = graft.functions.TextFunctions.langVocab.map { case (lang, vocab) =>
        lang -> vocabHits(w, vocab).cast("long")
      }
      val m = hits.toMap
      val pred = when(
        m("en") >= m("es") && m("en") >= m("de") && m("en") >= m("fr"), "en")
        .when(m("es") >= m("de") && m("es") >= m("fr"), "es")
        .when(m("de") >= m("fr"), "de")
        .otherwise("fr")
      Tables.documents(s, d)
        .select(
          col("doc_id"), col("lang"),
          m("en").as("en_hits"), m("es").as("es_hits"),
          m("de").as("de_hits"), m("fr").as("fr_hits"),
          pred.as("pred_lang"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q32
    "q32_text_fingerprint" -> QueryDef.sql(
      "Deterministic rolling-hash document fingerprint (int64 recurrence " +
      "h := (h*31 + 7*len + ascii) mod 1e9+7 over the token stream) — the " +
      "engine-portable analog of content-hash dedup keys.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(w, t -> 7*length(t)::BIGINT + ascii(t)::BIGINT)),
        |    (h, c) -> (h*31 + c) % 1000000007) AS fingerprint
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(tokens(col("text"))).as("fingerprint"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q53
    "q53_tfidf_topk" -> QueryDef.sql(
      "Top-3 characteristic terms per document by TF-IDF with the " +
      "smoothed RATIONAL idf variant (tf * (N+1)/(df+1)) — log-free so " +
      "the score is pure exact-int products + one IEEE division, " +
      "bit-identical across engines (ln() is libm-implementation-defined " +
      "and would break hash parity). Shape at 100 TB: explode -> hash " +
      "aggregation to (doc, term, tf) -> df aggregated FROM tf (one row " +
      "per distinct (doc, term) already, so df never re-shuffles the raw " +
      "exploded terms) -> equi-join back on term (AQE skew-splits the " +
      "hot common-term partitions) -> broadcast scalar N -> per-doc " +
      "rank. Deliberately NOT a `count OVER (PARTITION BY term)` window: " +
      "that buys one fewer scan but puts every document containing a " +
      "common term into ONE unsplittable window partition — AQE can " +
      "split skewed joins, not skewed windows, so the join shape is the " +
      "one that survives corpus scale. No driver-side vocabulary, no " +
      "cross join.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |x AS (SELECT doc_id, unnest(w) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM x GROUP BY doc_id, term),
        |d AS (SELECT doc_id, term, tf,
        |        count(*) OVER (PARTITION BY term)::BIGINT AS df FROM tf),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT doc_id, term, tf, df, score, rnk FROM (
        |  SELECT d.doc_id, d.term, d.tf, d.df,
        |    d.tf::DOUBLE * (n.n + 1) / (d.df::DOUBLE + 1) AS score,
        |    row_number() OVER (PARTITION BY d.doc_id
        |      ORDER BY d.tf::DOUBLE * (n.n + 1) / (d.df::DOUBLE + 1) DESC, d.term)::BIGINT AS rnk
        |  FROM d CROSS JOIN n) z
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      tfidfTopK(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q54
    "q54_bigram_assoc" -> QueryDef.sql(
      "Corpus-level bigram association: top-20 bigrams by document-level " +
      "lift (df_bigram * N / (df_word1 * df_word2), the log-free PMI " +
      "analog — exact ints + one IEEE division for cross-engine hash " +
      "parity), minimum support 5 docs. Native WordShingles(2) feeds the " +
      "per-doc distinct bigram set; all joins are equi-joins on terms.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |u AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM t),
        |du AS (SELECT term, count(*)::BIGINT AS df1 FROM u GROUP BY term),
        |b AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |  THEN list_distinct(list_transform(generate_series(1, len(w)-1),
        |       i -> w[i] || ' ' || w[i+1]))
        |  ELSE []::VARCHAR[] END) AS bigram FROM t),
        |db AS (SELECT bigram, count(*)::BIGINT AS df2 FROM b
        |       GROUP BY bigram HAVING count(*) >= 5),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
        |SELECT bigram, df2, df_a, df_b, lift FROM (
        |  SELECT db.bigram, db.df2, a.df1 AS df_a, c.df1 AS df_b,
        |    db.df2::DOUBLE * n.n_docs / (a.df1::DOUBLE * c.df1::DOUBLE) AS lift
        |  FROM db
        |  JOIN du a ON a.term = string_split(db.bigram, ' ')[1]
        |  JOIN du c ON c.term = string_split(db.bigram, ' ')[2]
        |  CROSS JOIN n) z
        |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val uni = docs
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df1"))
      val bi = docs
        .select(col("doc_id"), explode(shinglesOfText(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("df2"))
        .where(col("df2") >= 5)
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      bi.withColumn("w1", split(col("bigram"), " ").getItem(0))
        .withColumn("w2", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("term").as("w1"), col("df1").as("df_a")), "w1")
        .join(uni.select(col("term").as("w2"), col("df1").as("df_b")), "w2")
        .join(broadcast(n))
        .select(col("bigram"), col("df2"), col("df_a"), col("df_b"),
          (col("df2").cast("double") * col("n_docs") /
            (col("df_a").cast("double") * col("df_b").cast("double"))).as("lift"))
        .orderBy(col("lift").desc, col("bigram"))
        .limit(20)
    },

    // ---------------------------------------------------------------- q55
    "q55_corpus_clean" -> QueryDef.sql(
      "The flagship composite cleaning pipeline a training-data corpus " +
      "runs end to end: exact-dedup (keep lowest doc_id per content " +
      "hash), then language gate (predicted en), quality gate and length " +
      "bounds — one declarative plan composing q33+q30+q31's operators. " +
      "Shape at 100 TB: one hash-partitioned aggregate for canonical ids, " +
      "a semi join back, then pure codegen'd per-row gates.",
      s"""WITH canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |t AS (SELECT d.doc_id, d.lang, d.text, $sqlToks AS w
        |      FROM documents d JOIN canon USING (doc_id)),
        |f AS (SELECT doc_id, lang,
        |  len(w)::BIGINT AS n_tokens,
        |  (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)::DOUBLE)
        |    * (0.5 + len(list_filter(w, t -> t IN ('the','and','of','to','a')))::DOUBLE / len(w)::DOUBLE)
        |    AS quality,
        |  len(list_filter(w, t -> t IN ('the','and','of','to','a')))::BIGINT AS en_hits,
        |  len(list_filter(w, t -> t IN ('el','la','de','los','y')))::BIGINT AS es_hits,
        |  len(list_filter(w, t -> t IN ('der','die','und','das','ist')))::BIGINT AS de_hits,
        |  len(list_filter(w, t -> t IN ('le','les','et','des','un')))::BIGINT AS fr_hits
        |FROM t)
        |SELECT doc_id, lang, n_tokens, quality FROM f
        |WHERE en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits
        |  AND quality >= 0.4 AND n_tokens >= 5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      corpusClean(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q60
    "q60_pii_redaction" -> QueryDef.sql(
      "PII scrubbing: redact email addresses and count redactions per " +
      "document — the privacy pass a training corpus runs before " +
      "storage. Emails are injected deterministically (corpus text has " +
      "none) so the operator is exercised non-trivially; the redaction " +
      "is one codegen'd regexp_replace and the count one regexp_count. " +
      "Regex kept to the RE2-and-Java common subset so both engines " +
      "agree.",
      """WITH t AS (SELECT doc_id,
        |  text || ' contact: user' || doc_id || '@example.com or admin' || doc_id || '@test.org' AS raw
        |FROM documents)
        |SELECT doc_id,
        |  regexp_replace(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+', '[EMAIL]', 'g') AS redacted,
        |  len(regexp_extract_all(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+'))::BIGINT AS n_emails
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+"
      val raw = concat(col("text"), lit(" contact: user"), col("doc_id"),
        lit("@example.com or admin"), col("doc_id"), lit("@test.org"))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(
          col("doc_id"),
          regexp_replace(col("raw"), emailRe, "[EMAIL]").as("redacted"),
          regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q67
    "q67_repetition_quality" -> QueryDef.sql(
      "Gopher-style repetition quality signals (Rae et al. 2021): " +
      "fraction of the document in its most frequent bigram and in " +
      "duplicated trigrams, plus the repetition gate (top-bigram > 0.18 " +
      "or dup-trigram > 0.30 on web text; this corpus is synthetic " +
      "shuffled tokens, so the gate ships corpus-calibrated thresholds " +
      "of 0.06/0.03 — its p90/p99 tail — to be exercised non-trivially, " +
      "same pattern as q60's injected emails). Spark side is ONE native " +
      "single-pass expression per n-gram size " +
      "(RepetitionStats: tokenize, slide, hash-count inside " +
      "the row — zero shuffles, fully codegen'd); the naive " +
      "explode+groupBy formulation would shuffle the full gram stream " +
      "(~3x the corpus at 100 TB) twice. The DuckDB oracle computes the " +
      "same multiset stats via unnest + two-level aggregation; all " +
      "fractions are bigint/bigint single divisions -> bit-exact parity.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |b AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(w)-1),
        |          i -> w[i] || ' ' || w[i+1])) AS g
        |      FROM t WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
        |bs AS (SELECT doc_id, sum(c)::BIGINT AS n, max(c)::BIGINT AS top
        |       FROM bc GROUP BY doc_id),
        |r AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(w)-2),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |      FROM t WHERE len(w) >= 3),
        |rc AS (SELECT doc_id, g, count(*) AS c FROM r GROUP BY 1, 2),
        |rs AS (SELECT doc_id, sum(c)::BIGINT AS n,
        |         coalesce(sum(c) FILTER (WHERE c > 1), 0)::BIGINT AS dup
        |       FROM rc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(bs.n, 0) AS n_bigrams,
        |  bs.top::DOUBLE / bs.n::DOUBLE AS top_bigram_frac,
        |  coalesce(rs.n, 0) AS n_trigrams,
        |  rs.dup::DOUBLE / rs.n::DOUBLE AS dup_trigram_frac,
        |  (coalesce(bs.top::DOUBLE / bs.n::DOUBLE, 0) > 0.06
        |   OR coalesce(rs.dup::DOUBLE / rs.n::DOUBLE, 0) > 0.03) AS repetitive
        |FROM t LEFT JOIN bs USING (doc_id) LEFT JOIN rs USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bi = repetitionStats(col("text"), 2)
      val tri = repetitionStats(col("text"), 3)
      // coalesce the counts: RepetitionStats null-propagates a NULL text
      // while the oracle's LEFT JOIN + coalesce(n, 0) lands on 0 — the
      // counts must be 0 (and the fractions NULL) on BOTH sides so hash
      // parity cannot depend on the corpus never containing a NULL
      val nBi = coalesce(bi.getField("n_grams"), lit(0L))
      val nTri = coalesce(tri.getField("n_grams"), lit(0L))
      def frac(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
        when(den === 0, lit(null).cast("double"))
          .otherwise(num.cast("double") / den.cast("double"))
      val topFrac = frac(bi.getField("top_count"), nBi)
      val dupFrac = frac(tri.getField("dup_grams"), nTri)
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          nBi.as("n_bigrams"),
          topFrac.as("top_bigram_frac"),
          nTri.as("n_trigrams"),
          dupFrac.as("dup_trigram_frac"),
          (coalesce(topFrac, lit(0.0)) > 0.06 ||
            coalesce(dupFrac, lit(0.0)) > 0.03).as("repetitive"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q68
    "q68_token_chunks" -> QueryDef.sql(
      "Document chunking for training windows: split each document's " +
      "token stream into 32-token chunks (last chunk short), one output " +
      "row per chunk — the step that turns variable-length documents " +
      "into training-window-sized pieces. Spark side: ONE native " +
      "single-pass expression (ChunkTokens) + posexplode; doc-local " +
      "work stays inside the row, the only shuffle is the output sort. " +
      "Empty/whitespace-only docs yield no chunks on both engines.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |c AS (SELECT doc_id, len(w) AS n, w,
        |        unnest(generate_series(0, (len(w)+31)//32 - 1)) AS chunk_idx
        |      FROM t WHERE len(w) > 0)
        |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
        |  array_to_string(w[chunk_idx*32+1 : least((chunk_idx+1)*32, n)], ' ')
        |    AS chunk_text,
        |  (least((chunk_idx+1)*32, n) - chunk_idx*32)::BIGINT AS n_chunk_tokens
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"),
          posexplode(chunkTokens(col("text"), 32)).as(Seq("ci", "chunk_text")))
        .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
          col("chunk_text"),
          least(lit(32L), col("n") - col("ci").cast("long") * 32)
            .as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },

    // ---------------------------------------------------------------- q69
    "q69_sequence_packing" -> QueryDef.sql(
      "Contiguous sequence packing: lay the corpus's token streams " +
      "end-to-end (doc_id order) and assign each document its absolute " +
      "start offset, 256-token context-window index, and a " +
      "crosses-boundary flag (the attention-mask-reset signal) — the " +
      "sample-packing pass that turns cleaned documents into fixed-size " +
      "training sequences. 100 TB shape: a DISTRIBUTED PREFIX SUM, not " +
      "a global-order window (which would single-partition the corpus): " +
      "per-shard running sums in parallel (window partitioned by " +
      "doc_id DIV 1000), then a window over the per-shard totals — one " +
      "tiny row per shard — broadcast back as each shard's prefix. " +
      "Pure integer arithmetic -> bit-exact parity.",
      s"""WITH t AS (SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
        |             doc_id // 1000 AS shard
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens, shard,
        |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
        |      FROM t),
        |st AS (SELECT shard, sum(n_tokens) AS tot FROM t GROUP BY shard),
        |p AS (SELECT shard, coalesce(sum(tot) OVER (ORDER BY shard
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |      FROM st)
        |SELECT c.doc_id, c.n_tokens,
        |  (p.prefix + c.cum_in - c.n_tokens)::BIGINT AS start_offset,
        |  ((p.prefix + c.cum_in - c.n_tokens) // 256)::BIGINT AS seq_idx,
        |  (c.n_tokens > 0 AND
        |   (p.prefix + c.cum_in - c.n_tokens) // 256
        |     != (p.prefix + c.cum_in - 1) // 256) AS crosses_boundary
        |FROM c JOIN p USING (shard)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          expr("doc_id DIV 1000").as("shard"))
      val wIn = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withCum = base.withColumn("cum_in", sum("n_tokens").over(wIn))
      // one row per shard: the single-partition window below runs over
      // corpus_size / 1000 rows, never the corpus. SCALE CONTRACT
      // (PlanChecksSpec pins the two window shapes): at 1,000 docs/shard
      // the global window sees 10^6 rows per 10^9 docs — trivial through
      // one partition up to ~10^10 docs; beyond that, recurse the scheme
      // (shard the shard totals) or widen docs-per-shard.
      val shardTot = base.groupBy("shard").agg(sum("n_tokens").as("tot"))
      val wSh = Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefixes = shardTot
        .withColumn("prefix", coalesce(sum("tot").over(wSh), lit(0L)))
        .select("shard", "prefix")
      val start = col("prefix") + col("cum_in") - col("n_tokens")
      withCum.join(broadcast(prefixes), "shard")
        .select(col("doc_id"), col("n_tokens"),
          start.as("start_offset"),
          expr("(prefix + cum_in - n_tokens) DIV 256").as("seq_idx"),
          (col("n_tokens") > 0 &&
            expr("(prefix + cum_in - n_tokens) DIV 256") =!=
              expr("(prefix + cum_in - 1) DIV 256")).as("crosses_boundary"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q71
    "q71_domain_mixture_sample" -> QueryDef.sql(
      "Token-budget domain mixture (Pile/DoReMi-style): rebalance the " +
      "corpus so every source domain contributes toward an equal token " +
      "budget (half the corpus token mass split evenly across domains; " +
      "over-represented domains are downsampled to their share, small " +
      "domains kept whole at rate 1.0). The keep decision is a " +
      "DETERMINISTIC per-doc Bernoulli: the q62 multiplicative integer " +
      "hash on doc_id under a third independent salt, compared against " +
      "floor(rate * 2^32) — integer token sums and one IEEE division " +
      "chain shared by both engines, so the mixture is reproducible " +
      "anywhere and oracle-hash-exact. Scale shape: one tokenize scan " +
      "feeds a per-domain partial agg (|domains| rows), the rate table " +
      "rides back as a broadcast, and the keep test is a filter — no " +
      "wide shuffle anywhere; at 100 TB a production run would persist " +
      "the narrow (doc_id, source, nt) projection to avoid the second " +
      "tokenize pass this one-shot plan pays.",
      s"""WITH t AS (SELECT doc_id, source, len($sqlToks)::BIGINT AS nt
        |  FROM documents),
        |s AS (SELECT source, sum(nt)::BIGINT AS st FROM t GROUP BY source),
        |g AS (SELECT sum(st)::BIGINT AS tot, count(*)::BIGINT AS ns FROM s),
        |r AS (SELECT s.source,
        |  floor(least(1.0, ((g.tot::DOUBLE) / (2.0 * (g.ns::DOUBLE)))
        |    / (s.st::DOUBLE)) * 4294967296.0)::BIGINT AS thr
        |  FROM s CROSS JOIN g)
        |SELECT t.doc_id, t.source, t.nt AS n_tokens
        |FROM t JOIN r ON t.source = r.source
        |WHERE ${graft.functions.DeterministicHash.knuth32Sql("t.doc_id",
               graft.functions.DeterministicHash.mixtureSalt)} < r.thr
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      // Same least/floor/division chain as the oracle, spelled with
      // explicit parens so both engines evaluate the identical IEEE
      // expression tree; thr is integer thereafter so the hash compare
      // is pure int64 (DeterministicHash holds the salt-independence
      // contract across the three consumer streams).
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("nt"))
      val bySource = t.groupBy("source").agg(sum("nt").as("st"))
      val g = bySource.agg(sum("st").as("tot"), count(lit(1)).as("ns"))
      val budget = col("tot").cast("double") / (lit(2.0) * col("ns").cast("double"))
      val rates = bySource.crossJoin(broadcast(g)).select(col("source"),
        floor(least(lit(1.0), budget / col("st").cast("double"))
          * lit(4294967296.0)).cast("long").as("thr"))
      val h = graft.functions.DeterministicHash.knuth32(col("doc_id"),
        graft.functions.DeterministicHash.mixtureSalt)
      t.join(broadcast(rates), "source")
        .where(h < col("thr"))
        .select(col("doc_id"), col("source"), col("nt").as("n_tokens"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q76
    "q76_boilerplate_ngrams" -> QueryDef.sql(
      "Corpus-frequent n-gram (boilerplate) mining — the " +
      "CCNet/RefinedWeb-style template-removal signal: a 3-gram shingle " +
      "is 'boilerplate' when it appears in >= 1% of documents " +
      "(relative threshold, so the contract is scale-invariant), and " +
      "each doc reports how much of it is made of such shingles. Scale " +
      "shape: the doc-frequency aggregate is map-side-combinable (per- " +
      "doc shingles are pre-deduped, so count(*) IS the distinct doc " +
      "count); the frequent set is tiny BY CONSTRUCTION (the threshold " +
      "caps it at 100x the corpus token mass / corpus size) -> it " +
      "rides back as a broadcast hash join, and the per-doc fraction " +
      "is one more partial-agg — no corpus-side shuffle anywhere " +
      "except the df aggregate's own exchange on the shingle key. " +
      "Both engines compute the identical IEEE threshold " +
      "ceil(0.01 * n_docs) and the fraction is one division of exact " +
      "ints, so the check is hash-exact.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, unnest(${DedupQueries.sqlShingles}) AS sh FROM t),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |df AS (SELECT sh, count(*)::BIGINT AS df FROM s GROUP BY sh),
        |freq AS (SELECT df.sh FROM df CROSS JOIN n
        |         WHERE df.df >= ceil(0.01 * n.n_docs)),
        |per AS (SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |               count(f.sh)::BIGINT AS n_boilerplate
        |        FROM s LEFT JOIN freq f ON s.sh = f.sh
        |        GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  coalesce(p.n_shingles, 0)::BIGINT AS n_shingles,
        |  coalesce(p.n_boilerplate, 0)::BIGINT AS n_boilerplate,
        |  (CASE WHEN p.n_shingles > 0
        |        THEN p.n_boilerplate::DOUBLE / p.n_shingles::DOUBLE
        |        END)::DOUBLE AS boilerplate_frac
        |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sh = docs.select(col("doc_id"),
        explode(shinglesOfText(col("text"), 3)).as("sh"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      val freq = dfreq.crossJoin(broadcast(nDocs))
        .where(col("df") >= ceil(lit(0.01) * col("n_docs")))
        .select(col("sh"), lit(1).as("is_freq"))
      val per = sh.join(broadcast(freq), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), count(col("is_freq")).as("n_boilerplate"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"),
          when(col("n_shingles") > 0,
            col("n_boilerplate").cast("double") / col("n_shingles").cast("double"))
            .as("boilerplate_frac"))
        .orderBy("doc_id")
    },

    // ---------------------------------------------------------------- q79
    "q79_bm25_topk" -> QueryDef.sql(
      "BM25 retrieval: top-10 documents for a 3-term query with the " +
      "log-free RATIONAL idf analog (N - df + 0.5)/(df + 0.5) — same " +
      "libm-avoidance rule as q53 — and the standard Robertson tf " +
      "saturation tf*2.2 / (tf + 1.2*(0.25 + 0.75*dl/avgdl)) (k1=1.2, " +
      "b=0.75, numerator constant written as the literal 2.2 on both " +
      "engines so the parse is identical). Per-term contributions are " +
      "conditional one-hot sums (each sums exactly one non-zero double, " +
      "so group order cannot perturb them) combined left-to-right — " +
      "bit-exact across engines with no rounding. Shape at 100 TB: the " +
      "corpus side is ONE explode with the query-term filter applied " +
      "BEFORE the tf aggregate (rows ∝ query-term hits, not corpus " +
      "tokens); df and the (N, avgdl) scalars reduce from the tf/len " +
      "aggregates and come back as broadcasts; final ranking is a " +
      "TakeOrderedAndProject top-10, never a full sort.",
      s"""WITH $bm25RankedCtes
        |SELECT doc_id, dl, s_spark, s_join, s_stream, score, rnk
        |FROM branked
        |WHERE rnk <= 10
        |ORDER BY rnk""".stripMargin) { (s, d) =>
      bm25TopK(Tables.documents(s, d), Seq("spark", "join", "stream"), 10)
    },

    // ---------------------------------------------------------------- q81
    "q81_bigram_lm_score" -> QueryDef.sql(
      "Corpus-trained bigram language-model scoring — the CCNet-style " +
      "statistical quality filter: add-one-smoothed P(w2|w1) = " +
      "(c(w1,w2) + 1) / (c(w1·) + V) trained on the corpus itself " +
      "(c(w1·) counts w1 as a bigram HISTORY, so each row of the " +
      "conditional distribution sums to 1), then each document scored " +
      "by its mean transition probability. The per-doc reduction is an " +
      "INDEX-ORDERED fold (sort_array over (pos, p) structs + aggregate, " +
      "mirrored by DuckDB's list(p ORDER BY pos) + list_reduce with the " +
      "same 0.0 seed) so the double sum is bit-identical across engines " +
      "— a hash-exact group mean with no rounding. Shape at 100 TB: " +
      "bigram emission is one explode (rows = corpus tokens); model " +
      "training is two hash aggregates on (w1,w2)/(w1); scoring joins " +
      "the exploded stream back to the model on its natural keys " +
      "(equi-joins, AQE-splittable if a stopword history skews); V is " +
      "one broadcast scalar; the fold state per doc is bounded by doc " +
      "length. No driver-side vocabulary, no cross product.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |b AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(generate_series(1, len(w) - 1),
        |         i -> {'pos': i, 'w1': w[i], 'w2': w[i + 1]})
        |    ELSE []::STRUCT(pos BIGINT, w1 VARCHAR, w2 VARCHAR)[] END) AS s
        |  FROM t),
        |b2 AS (SELECT doc_id, s.pos AS pos, s.w1 AS w1, s.w2 AS w2 FROM b),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM b2 GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM b2 GROUP BY w1),
        |vv AS (SELECT count(DISTINCT term)::BIGINT AS v
        |       FROM (SELECT unnest(w) AS term FROM t)),
        |p AS (SELECT b2.doc_id, b2.pos,
        |    (c2.c2 + 1)::DOUBLE / (c1.c1 + vv.v)::DOUBLE AS p
        |  FROM b2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv),
        |per AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |    list_reduce(list_prepend(0.0, list(p ORDER BY pos)),
        |      (a, x) -> a + x) AS sump
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
        |  (per.sump / per.n_bigrams::DOUBLE)::DOUBLE AS mean_p
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      bigramLmScores(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q84
    "q84_token_diversity" -> QueryDef.sql(
      "Per-document lexical diversity via the Simpson index 1 - " +
      "sum_t (c_t/n)^2 — the log-free diversity measure (Shannon " +
      "entropy needs ln(); Simpson is rational, the same " +
      "libm-avoidance rule as q53/q79) that complements q67's " +
      "window-repetition stats with a whole-doc concentration signal: " +
      "template/spam pages concentrate mass in few tokens (low " +
      "diversity), natural text spreads it. The per-doc reduction " +
      "folds (c/n)^2 in SORTED TERM ORDER (sort_array + aggregate ≡ " +
      "DuckDB list(p2 ORDER BY term) + list_reduce, 0.0 seed) so the " +
      "double sum is bit-identical across engines — hash-exact, no " +
      "rounding. Also reports top_share = max c/n (max is order-free). " +
      "Shape at 100 TB: one explode -> one (doc, term) hash aggregate " +
      "-> one per-doc aggregate whose state is bounded by the doc's " +
      "distinct-token count; no joins, no windows, no driver state.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |tc AS (SELECT doc_id, term, count(*)::BIGINT AS c
        |       FROM (SELECT doc_id, unnest(w) AS term FROM t)
        |       GROUP BY doc_id, term),
        |n AS (SELECT doc_id, sum(c)::BIGINT AS n,
        |        count(*)::BIGINT AS n_distinct FROM tc GROUP BY doc_id),
        |per AS (SELECT tc.doc_id,
        |    list_reduce(list_prepend(0.0,
        |      list((tc.c::DOUBLE / n.n::DOUBLE) * (tc.c::DOUBLE / n.n::DOUBLE)
        |           ORDER BY tc.term)), (a, x) -> a + x) AS conc,
        |    max(tc.c::DOUBLE / n.n::DOUBLE) AS top_share
        |  FROM tc JOIN n USING (doc_id) GROUP BY tc.doc_id)
        |SELECT d.doc_id,
        |  coalesce(n.n, 0)::BIGINT AS n_tokens,
        |  coalesce(n.n_distinct, 0)::BIGINT AS n_distinct,
        |  (1.0 - per.conc)::DOUBLE AS simpson,
        |  per.top_share AS top_share
        |FROM documents d
        |LEFT JOIN n ON d.doc_id = n.doc_id
        |LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      tokenDiversity(Tables.documents(s, d))
    },

    // ---------------------------------------------------------------- q96
    "q96_heavy_hitters" -> QueryDef.sql(
      "EXACT corpus heavy hitters (tokens with > 1% of all token " +
      "occurrences) via per-partition Misra-Gries + exact confirm — " +
      "the q93 pattern (sketch prunes, exact pass confirms) applied " +
      "to aggregation state instead of a join: MG(100) per partition " +
      "GUARANTEES every global >N/100 token survives as a candidate " +
      "(pigeonhole over partitions), candidates are dimension-sized " +
      "(<= 100/partition), and only candidate tokens enter the exact " +
      "count aggregate. At 100 TB of text the full token vocabulary " +
      "is billions of keys — this plan's aggregate hash tables and " +
      "exchange stay bounded by the candidate set instead. The " +
      "threshold compare is integer (cnt*100 > total) -> hash-exact; " +
      "share is a single division, deterministic. mapPartitions is " +
      "preference-order (d) by necessity: a decrement-all counter " +
      "summary is genuine per-partition imperative state.",
      s"""WITH tok AS (SELECT unnest($sqlToks) AS token FROM documents),
        |tot AS (SELECT count(*)::BIGINT AS total FROM tok)
        |SELECT token, count(*)::BIGINT AS cnt,
        |  count(*)::DOUBLE / (SELECT total FROM tot)::DOUBLE AS share
        |FROM tok
        |GROUP BY token
        |HAVING count(*) * 100 > (SELECT total FROM tot)
        |ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      heavyHitters(Tables.documents(s, d), capacity = 100)
    },

    // --------------------------------------------------------------- q101
    "q101_source_drift" -> QueryDef.sql(
      "Token-distribution drift per source vs the whole corpus, as " +
      "EXACT total-variation distance: TVD(s) = 1/2 * sum_t |c_ts/N_s " +
      "- C_t/N| computed over a COMMON integer denominator — the " +
      "numerator sum_t |c_ts*N - C_t*N_s| is pure int64, so the score " +
      "is hash-exact with one final division (the chi-square/KL " +
      "alternatives need ln() or per-term float sums; TVD is the " +
      "rational drift measure, same libm-avoidance rule as q53/q84). " +
      "The Spark side never materializes the dense source-x-vocab " +
      "grid: tokens ABSENT from a source contribute |0*N - C_t*N_s| " +
      "= C_t*N_s, and sum_absent C_t = N - sum_present C_t, so the " +
      "absent mass folds into one closed-form term per source — the " +
      "plan is two hash aggregates (per-source-term, per-term) + one " +
      "equi-join on term + one per-source aggregate. The oracle " +
      "builds the dense grid (vocab x 20 sources at sf0.01) and must " +
      "agree bit-for-bit because every intermediate is an integer. " +
      "Shape at 100 TB: no cross join, aggregates are map-side " +
      "combinable, the join is term-keyed (AQE splits stopword skew); " +
      "int64 headroom is c*N < 2^63 — at trillion-token corpora " +
      "switch the two products to DECIMAL(38,0), same algebra.",
      s"""WITH tok AS (SELECT source, unnest($sqlToks) AS t FROM documents),
        |st AS (SELECT source, t, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
        |ct AS (SELECT t, sum(c)::BIGINT AS cc FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(c)::BIGINT AS n FROM st GROUP BY 1),
        |nc AS (SELECT sum(cc)::BIGINT AS nn FROM ct),
        |terms AS (SELECT ns.source, ct.t,
        |    coalesce(st.c, 0)::BIGINT AS c, ct.cc, ns.n, nc.nn
        |  FROM ct CROSS JOIN ns CROSS JOIN nc
        |  LEFT JOIN st ON st.source = ns.source AND st.t = ct.t)
        |SELECT source, n AS n_tokens,
        |  sum(abs(c * nn - cc * n))::BIGINT AS tvd_num,
        |  (2 * n * nn)::BIGINT AS tvd_den,
        |  (sum(abs(c * nn - cc * n))::DOUBLE
        |    / (2.0 * n::DOUBLE * nn::DOUBLE))::DOUBLE AS tvd
        |FROM terms GROUP BY source, n, nn
        |ORDER BY source""".stripMargin) { (s, d) =>
      sourceDrift(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q115
    "q115_source_overlap" -> QueryDef.sql(
      "Pairwise source VOCABULARY overlap matrix (distinct-token-set " +
      "Jaccard per source pair) — the dataset-overlap diagnostic run " +
      "before mixing corpora. Intersections come from grouping " +
      "WITHIN TOKEN (each token contributes its source-pair " +
      "combinations, bounded by sources-per-token, NEVER a " +
      "vocab x vocab or doc x doc join); set sizes are one distinct " +
      "aggregate; Jaccard = one division of exact int64s -> " +
      "hash-exact. Shape at 100 TB: the (source, token) distinct " +
      "aggregate is the corpus-scale stage (map-side combinable); " +
      "pair expansion is quadratic only in SOURCES PER TOKEN (<= " +
      "|sources|, and stopwords shared by all sources cost " +
      "|sources|^2/2 rows per token — cap with a df filter if the " +
      "source count itself is large); output is |sources|^2/2 rows.",
      s"""WITH st AS (SELECT DISTINCT source, unnest($sqlToks) AS t
        |  FROM documents),
        |sz AS (SELECT source, count(*)::BIGINT AS nv FROM st GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
        |    count(*)::BIGINT AS inter
        |  FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, inter, za.nv AS nv_a, zb.nv AS nv_b,
        |  (inter::DOUBLE / (za.nv + zb.nv - inter)::DOUBLE) AS jaccard
        |FROM pairs
        |JOIN sz za ON src_a = za.source
        |JOIN sz zb ON src_b = zb.source
        |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      sourceOverlap(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q126
    "q126_vocab_coverage" -> QueryDef.sql(
      "Vocabulary coverage curve — the tokenizer-sizing study every " +
      "training pipeline runs: for vocab cutoffs K in {1, 2, 4, 8, 16, " +
      "32, 1000, 50000} (geometric low end because the synthetic corpus " +
      "has a 31-term vocabulary; the 50k cutoff pins the real-corpus " +
      "scale path), the fraction of all corpus " +
      "token OCCURRENCES covered by the top-K tokens (frequency desc, " +
      "token asc — a total order, so the top-K SET is deterministic on " +
      "both engines). Counts are exact integers end to end; coverage " +
      "is ONE single-shape division per row -> hash-exact. Shape at " +
      "100 TB: one token-scale hash aggregate (map-side combinable) " +
      "builds the vocabulary; the curve then runs on the TOP-50K slice " +
      "only — orderBy+limit is TakeOrderedAndProject (per-partition " +
      "heaps, no global sort of the vocabulary), and the cumulative " +
      "window runs over 50k rows BY CONSTRUCTION, never vocab-sized; " +
      "the 8-row cutoff grid rides as a broadcast.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |tf AS (SELECT term, count(*)::BIGINT AS f
        |       FROM (SELECT unnest(w) AS term FROM t) GROUP BY 1),
        |tot AS (SELECT sum(f)::BIGINT AS total FROM tf),
        |top AS (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS rn
        |        FROM tf ORDER BY f DESC, term LIMIT 50000),
        |cum AS (SELECT rn, sum(f) OVER (ORDER BY rn)::BIGINT AS cf
        |        FROM top)
        |SELECT k, count(*)::BIGINT AS vocab_used,
        |  max(cf)::BIGINT AS covered, max(total)::BIGINT AS total,
        |  (max(cf)::DOUBLE / max(total)::DOUBLE) AS coverage
        |FROM (VALUES (1), (2), (4), (8), (16), (32), (1000),
        |             (50000)) AS ks(k)
        |JOIN cum ON cum.rn <= k CROSS JOIN tot
        |GROUP BY k
        |ORDER BY k""".stripMargin) { (s, d) =>
      vocabCoverage(Tables.documents(s, d),
        Seq(1, 2, 4, 8, 16, 32, 1000, 50000))
    },

    // --------------------------------------------------------------- q127
    "q127_term_burstiness" -> QueryDef.sql(
      "Term burstiness (variance-to-mean ratio of per-document counts, " +
      "zeros included) for the top-100 corpus terms — the classic " +
      "content-word vs function-word signal: function words spread " +
      "evenly across documents (VMR ~ 1, Poisson-like), topical/spam " +
      "terms clump (VMR >> 1). Exact-integer moments: per-doc counts " +
      "c give f = sum(c) and s2 = sum(c^2); with N total docs, sample " +
      "VMR = (N*s2 - f^2) / (f*(N-1)) — both operands exact int64 " +
      "(decimal-safe: s2 <= f^2 bounded by corpus size), ONE " +
      "single-shape division -> hash-exact. Shape at 100 TB: one " +
      "(doc, term) hash aggregate, one term-level re-aggregate " +
      "(both map-side combinable), TakeOrderedAndProject for the " +
      "top-100, N rides as a 1-row broadcast; zeros need no join — " +
      "they enter VMR only through N, by algebra, never as rows.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |tc AS (SELECT doc_id, term, count(*)::BIGINT AS c
        |       FROM (SELECT doc_id, unnest(w) AS term FROM t)
        |       GROUP BY 1, 2),
        |tm AS (SELECT term, sum(c)::BIGINT AS f,
        |         sum(c * c)::BIGINT AS s2,
        |         count(*)::BIGINT AS df
        |       FROM tc GROUP BY 1),
        |top AS (SELECT * FROM tm ORDER BY f DESC, term LIMIT 100)
        |SELECT term, f, s2, df, n_docs,
        |  (CAST(n_docs * s2 - f * f AS DOUBLE)
        |    / CAST(f * (n_docs - 1) AS DOUBLE)) AS burstiness
        |FROM top CROSS JOIN nd
        |ORDER BY f DESC, term""".stripMargin) { (s, d) =>
      termBurstiness(Tables.documents(s, d), topK = 100)
    },

    // --------------------------------------------------------------- q135
    "q135_padding_waste" -> QueryDef.sql(
      "Length-bucketed batching padding audit — the inference/training " +
      "throughput lever next to q69's packing: documents bucket by " +
      "token count (bucket = n div 16), batch WITHIN each bucket in " +
      "(n_tokens, doc_id) order at batch size 32, and each batch " +
      "reports its padded cost (batch rows x max length), the useful " +
      "tokens, and the waste fraction a padded forward pass would " +
      "burn. All integers except the ONE waste-fraction division -> " +
      "hash-exact. Shape at 100 TB: the rank window partitions by " +
      "LENGTH BUCKET (bounded, parallel — the same reason q69's " +
      "corpus window partitions by shard; an unpartitioned global " +
      "sort-rank would single-thread the corpus), then one " +
      "(bucket, batch) aggregate.",
      s"""WITH t AS (SELECT doc_id,
        |    len($sqlToks)::BIGINT AS n FROM documents),
        |b AS (SELECT doc_id, n, (n // 16)::BIGINT AS bucket FROM t),
        |rk AS (SELECT bucket, n,
        |    ((row_number() OVER (PARTITION BY bucket ORDER BY n, doc_id)
        |      - 1) // 32)::BIGINT AS batch
        |  FROM b)
        |SELECT bucket, batch, count(*)::BIGINT AS n_docs,
        |  max(n)::BIGINT AS max_len, sum(n)::BIGINT AS sum_len,
        |  (count(*) * max(n))::BIGINT AS padded,
        |  ((count(*) * max(n) - sum(n))::DOUBLE
        |    / (count(*) * max(n))::DOUBLE) AS waste_frac
        |FROM rk
        |GROUP BY 1, 2
        |ORDER BY bucket, batch""".stripMargin) { (s, d) =>
      paddingWaste(Tables.documents(s, d), bucketWidth = 16, batchSize = 32)
    },

    // --------------------------------------------------------------- q142
    "q142_quality_budget_curve" -> QueryDef.sql(
      "Quality-vs-budget curve — the data-curation tradeoff every " +
      "corpus report plots: rank documents by q30's composite quality " +
      "(best first, doc_id tiebreak -> total order, so ntile deciles " +
      "are identical on both engines), then for each decile cut report " +
      "the decile's own docs/tokens, its minimum quality (the " +
      "threshold that cut implies), and the CUMULATIVE docs/tokens a " +
      "pipeline keeping deciles 1..d would train on, with the token " +
      "share of the full corpus. Integer counts + one division -> " +
      "hash-exact (the quality doubles are the q30 shapes, compared " +
      "and min'd only — never summed). Shape at 100 TB: the scoring " +
      "is row-local; the decile assignment runs as RangeRank's exact " +
      "distributed ntile (q106's shape — quantile-boundary buckets, " +
      "per-bucket windows, broadcast offsets, NO single-partition " +
      "exchange; plan-pinned), and the curve join runs on the 10-row " +
      "decile grid.",
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS w FROM documents),
        |sc AS (SELECT doc_id, len(w)::BIGINT AS n,
        |    (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
        |       / length(text)::DOUBLE)
        |    * (0.5 + len(list_filter(w,
        |        t -> t IN ('the','and','of','to','a')))::DOUBLE
        |       / len(w)::DOUBLE) AS quality
        |  FROM t),
        |dec AS (SELECT doc_id, n, quality,
        |    ntile(10) OVER (ORDER BY quality DESC, doc_id)::BIGINT AS decile
        |  FROM sc),
        |g AS (SELECT decile, count(*)::BIGINT AS n_docs,
        |    sum(n)::BIGINT AS n_tokens, min(quality) AS min_quality
        |  FROM dec GROUP BY 1),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM g)
        |SELECT a.decile, a.n_docs, a.n_tokens, a.min_quality,
        |  sum(b.n_docs)::BIGINT AS cum_docs,
        |  sum(b.n_tokens)::BIGINT AS cum_tokens,
        |  (sum(b.n_tokens)::DOUBLE / max(tot.total_tokens)::DOUBLE)
        |    AS token_share
        |FROM g a JOIN g b ON b.decile <= a.decile CROSS JOIN tot
        |GROUP BY a.decile, a.n_docs, a.n_tokens, a.min_quality
        |ORDER BY a.decile""".stripMargin) { (s, d) =>
      qualityBudgetCurve(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q159
    "q159_bpe_merge_candidates" -> QueryDef.sql(
      "BPE merge candidates — the inner loop of tokenizer TRAINING " +
      "(Sennrich et al. 2016), distributed: the 50 most frequent " +
      "adjacent character pairs over the corpus vocabulary, each " +
      "weighted by its word's corpus frequency (what the first merge " +
      "rule of a byte-pair encoder would fuse). The classic trick " +
      "that makes this tractable IS the plan: the corpus collapses " +
      "to its VOCABULARY first (one map-side-combinable word-count " +
      "aggregate — Zipf bounds the vocab at millions of rows even at " +
      "100 TB), then pair expansion runs over vocab entries, never " +
      "raw text, inside one codegen'd transform(sequence(..)) (both " +
      "engines slice by CODEPOINT: Spark's substring/length are " +
      "UTF8String codepoint ops, DuckDB's substr/length likewise). " +
      "Counts are exact int64; the top-50 is a TakeOrderedAndProject " +
      "on the total order (freq DESC, pair) — no global sort " +
      "materializes. Subsequent merge iterations re-run the same " +
      "aggregate on the re-segmented vocab.",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
        |wd AS (SELECT unnest(w) AS word FROM t),
        |wc AS (SELECT word, count(*)::BIGINT AS cnt FROM wd
        |       GROUP BY word HAVING length(word) >= 2),
        |p AS (SELECT unnest(list_transform(
        |         generate_series(1, length(word) - 1),
        |         i -> substr(word, i::INT, 2))) AS pair, cnt
        |      FROM wc)
        |SELECT pair, sum(cnt)::BIGINT AS freq
        |FROM p GROUP BY pair
        |ORDER BY freq DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
      bpeMergeCandidates(Tables.documents(s, d), 50)
    },

    // --------------------------------------------------------------- q164
    "q164_tokenizer_parity_by_lang" -> QueryDef.sql(
      "Tokenizer-parity audit by language — the per-language rollup of " +
      "q63's fertility signal (the measurement behind tokenizer-" +
      "fairness findings: a tokenizer trained on one language's " +
      "distribution spends several times more tokens per byte on " +
      "others, which directly multiplies training and inference cost " +
      "for that slice of the corpus): per lang, exact int64 totals of " +
      "docs, UTF-8 bytes, codepoints, BPE-style tokens (q63's shared " +
      "pre-tokenizer pattern) and whitespace words, plus " +
      "bytes_per_token and fertility as ONE IEEE division each of the " +
      "exact totals (zero-guarded on both engines, the q63 ADVICE " +
      "rule). Shape at 100 TB: one codegen'd regexp per row feeding " +
      "ONE map-side-combinable aggregate keyed by the handful of " +
      "langs — a single exchange of lang-count-sized partials, no " +
      "joins, no windows.",
      s"""WITH t AS (SELECT lang, strlen(text)::BIGINT AS nb,
        |    length(text)::BIGINT AS nc,
        |    len(regexp_extract_all(text,
        |      '${bpePat.replace("'", "''")}'))::BIGINT AS nt,
        |    len($sqlToks)::BIGINT AS nw
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(nb)::BIGINT AS n_bytes, sum(nc)::BIGINT AS n_chars,
        |  sum(nt)::BIGINT AS n_bpe, sum(nw)::BIGINT AS n_words,
        |  CASE WHEN sum(nt) = 0 THEN NULL
        |       ELSE sum(nb)::DOUBLE / sum(nt)::DOUBLE
        |  END AS bytes_per_token,
        |  CASE WHEN sum(nw) = 0 THEN NULL
        |       ELSE sum(nt)::DOUBLE / sum(nw)::DOUBLE
        |  END AS fertility
        |FROM t GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, d) =>
      val per = Tables.documents(s, d).select(col("lang"),
        octet_length(col("text")).cast("long").as("nb"),
        length(col("text")).cast("long").as("nc"),
        size(regexp_extract_all(col("text"), lit(bpePat), lit(0)))
          .cast("long").as("nt"),
        size(tokens(col("text"))).cast("long").as("nw"))
      per.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nb").cast("long").as("n_bytes"),
          sum("nc").cast("long").as("n_chars"),
          sum("nt").cast("long").as("n_bpe"),
          sum("nw").cast("long").as("n_words"))
        .select(col("lang"), col("n_docs"), col("n_bytes"), col("n_chars"),
          col("n_bpe"), col("n_words"),
          when(col("n_bpe") === 0, lit(null))
            .otherwise(col("n_bytes").cast("double")
              / col("n_bpe").cast("double")).as("bytes_per_token"),
          when(col("n_words") === 0, lit(null))
            .otherwise(col("n_bpe").cast("double")
              / col("n_words").cast("double")).as("fertility"))
        .orderBy("lang")
    },

    // --------------------------------------------------------------- q179
    "q179_vocab_growth" -> QueryDef.sql(
      "Vocabulary growth curve (Heaps' law measurement — types vs " +
      "cumulative corpus size, the scaling study behind tokenizer " +
      "and dedup budgeting; complements q126's cutoff-coverage and " +
      "q117's user-uniques): at doc-id checkpoints 1, 2, 4, ..., " +
      "8192, the number of documents, total token occurrences, " +
      "DISTINCT types seen so far (first-occurrence accounting: a " +
      "type counts at every checkpoint >= its earliest doc_id + 1), " +
      "and the type-token ratio in micro-units ((1e6*types) DIV " +
      "tokens). ALL-INTEGER -> hash-exact. Checkpoints are ID " +
      "THRESHOLDS, not ranks — no global row_number sort of the " +
      "corpus is ever needed. Shape at 100 TB: one token-scale " +
      "combinable aggregate (term -> min doc_id, the same " +
      "first-occurrence shape as q117) and one doc-scale token " +
      "count, each folded against the BROADCAST 14-row checkpoint " +
      "spine with a conditional filter — vocab x 14 and docs x 14 " +
      "aggregate rows, both map-side combinable; output is " +
      "spine-sized.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |dt AS (SELECT doc_id, len(w)::BIGINT AS n FROM t),
        |fo AS (SELECT term, min(doc_id)::BIGINT AS first_doc
        |  FROM (SELECT doc_id, unnest(w) AS term FROM t) GROUP BY 1),
        |ks AS (SELECT * FROM (VALUES (1), (2), (4), (8), (16), (32),
        |  (64), (128), (256), (512), (1024), (2048), (4096), (8192))
        |  AS ks(cp)),
        |d AS (SELECT cp, count(*)::BIGINT AS n_docs,
        |    sum(n)::BIGINT AS total_tokens
        |  FROM ks JOIN dt ON dt.doc_id < ks.cp GROUP BY cp),
        |v AS (SELECT cp, count(*)::BIGINT AS n_types
        |  FROM ks JOIN fo ON fo.first_doc < ks.cp GROUP BY cp)
        |SELECT d.cp::BIGINT AS cp, d.n_docs, d.total_tokens, v.n_types,
        |  ((1000000 * v.n_types) // d.total_tokens)::BIGINT AS ttr_micro
        |FROM d JOIN v ON d.cp = v.cp
        |ORDER BY cp""".stripMargin) { (s, d) =>
      vocabGrowth(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q193
    "q193_ngram_novelty" -> QueryDef.sql(
      "Per-document 3-gram novelty (the shingle-level dedup-ROI " +
      "signal: how much of each document's shingle set first appears " +
      "THERE in doc_id order — q179 tracks first occurrence at the " +
      "token level for the corpus growth curve; this scores each " +
      "DOCUMENT, the number RefinedWeb-style pipelines threshold to " +
      "drop near-template pages): a shingle's first_doc is one " +
      "combinable min aggregate, each doc counts its distinct " +
      "shingles and those it introduced, and novelty_frac is the one " +
      "single-shape IEEE division (NULL for shingle-less docs, the " +
      "q76 rule). Integers otherwise -> hash-exact. Shape at " +
      "100 TB: two shingle-keyed exchanges (the min aggregate and " +
      "the join back — same key, AQE-coalesced), one per-doc " +
      "aggregate; no window, no cartesian, no driver state.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, unnest(${DedupQueries.sqlShingles}) AS sh
        |  FROM t),
        |fo AS (SELECT sh, min(doc_id)::BIGINT AS first_doc FROM s
        |  GROUP BY 1),
        |per AS (SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
        |    sum(CASE WHEN fo.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |      ::BIGINT AS n_novel
        |  FROM s JOIN fo ON s.sh = fo.sh GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  coalesce(p.n_shingles, 0)::BIGINT AS n_shingles,
        |  coalesce(p.n_novel, 0)::BIGINT AS n_novel,
        |  (CASE WHEN p.n_shingles > 0
        |    THEN p.n_novel::DOUBLE / p.n_shingles::DOUBLE END)::DOUBLE
        |    AS novelty_frac
        |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sh = docs.select(col("doc_id"),
        explode(shinglesOfText(col("text"), 3)).as("sh"))
      val fo = sh.groupBy("sh")
        .agg(min("doc_id").cast("long").as("first_doc"))
      val per = sh.join(fo, Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .cast("long").as("n_novel"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          when(col("n_shingles") > 0, col("n_novel").cast("double")
            / col("n_shingles").cast("double")).as("novelty_frac"))
        .orderBy("doc_id")
    },

    // --------------------------------------------------------------- q197
    "q197_langid_confusion" -> QueryDef.sql(
      "Language-ID confusion matrix — the classifier-evaluation " +
      "operator run over q31's stopword detector against the " +
      "declared labels (every model-driven pipeline needs this " +
      "audit before trusting a filter: per (true, predicted) cell " +
      "the exact count, the true-class row total, and the cell's " +
      "share of its row — recall on the diagonal, the confusion " +
      "mass off it — one single-shape IEEE division per cell, " +
      "integers otherwise -> hash-exact. The detector expression " +
      "is SHARED with q31 (one definition, two catalog rows). " +
      "Shape at 100 TB: one combinable (true, pred) aggregate over " +
      "the corpus scan — at most |langs|^2 = 16 cells — plus a " +
      "16-row broadcast self-join for row totals; no window.",
      s"""WITH t AS (SELECT doc_id, lang, $sqlToks AS w FROM documents),
        |h AS (SELECT doc_id, lang,
        |  len(list_filter(w, t -> t IN ('the','and','of','to','a')))::BIGINT AS en_hits,
        |  len(list_filter(w, t -> t IN ('el','la','de','los','y')))::BIGINT AS es_hits,
        |  len(list_filter(w, t -> t IN ('der','die','und','das','ist')))::BIGINT AS de_hits,
        |  len(list_filter(w, t -> t IN ('le','les','et','des','un')))::BIGINT AS fr_hits
        |FROM t),
        |p AS (SELECT lang,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
        |       WHEN de_hits >= fr_hits THEN 'de'
        |       ELSE 'fr' END AS pred
        |FROM h),
        |m AS (SELECT lang, pred, count(*)::BIGINT AS n FROM p
        |  GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(n)::BIGINT AS row_total FROM m
        |  GROUP BY 1)
        |SELECT m.lang AS true_lang, m.pred AS pred_lang, m.n,
        |  rt.row_total,
        |  m.n::DOUBLE / rt.row_total::DOUBLE AS row_share
        |FROM m JOIN rt ON m.lang = rt.lang
        |ORDER BY true_lang, pred_lang""".stripMargin) { (s, d) =>
      val w = tokens(col("text"))
      val hits = graft.functions.TextFunctions.langVocab
        .map { case (lang, vocab) =>
          lang -> vocabHits(w, vocab).cast("long") }.toMap
      val pred = when(
        hits("en") >= hits("es") && hits("en") >= hits("de")
          && hits("en") >= hits("fr"), "en")
        .when(hits("es") >= hits("de") && hits("es") >= hits("fr"), "es")
        .when(hits("de") >= hits("fr"), "de")
        .otherwise("fr")
      val m = Tables.documents(s, d)
        .select(col("lang"), pred.as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      val rt = m.groupBy("lang").agg(sum("n").cast("long").as("row_total"))
      m.join(broadcast(rt), Seq("lang"))
        .select(col("lang").as("true_lang"), col("pred").as("pred_lang"),
          col("n"), col("row_total"),
          (col("n").cast("double") / col("row_total").cast("double"))
            .as("row_share"))
        .orderBy("true_lang", "pred_lang")
    },

    // --------------------------------------------------------------- q198
    "q198_feature_auc" -> QueryDef.sql(
      "Feature-separability AUC — the ranking-quality metric for a " +
      "candidate filter feature before it gates a pipeline (here: " +
      "how well raw token COUNT separates English documents from " +
      "the rest): AUC equals the Mann-Whitney statistic with " +
      "half-credit ties (q183's machinery pointed at classifier " +
      "evaluation), folded EXACTLY over the value-aggregated frame " +
      "as 2*U1 = sum c1*(2*C0_below + c0); auc = u1_x2 / (2*n1*n0) " +
      "is the one single-shape IEEE division, everything else " +
      "integer -> hash-exact. The cumulative window here is " +
      "PARTITION-LESS by design and that is safe: it runs over the " +
      "aggregated DISTINCT-TOKEN-COUNT frame, whose size is bounded " +
      "by the document length cap (a few hundred rows at any corpus " +
      "scale — the q117 day-dimension argument; were the feature " +
      "unbounded, the q182 shard scheme applies unchanged). Shape " +
      "at 100 TB: one combinable value aggregate, one tiny window, " +
      "one 1-row fold.",
      s"""WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END
        |      AS is_en, len($sqlToks)::BIGINT AS v
        |  FROM documents),
        |pv AS (SELECT v,
        |    sum(CASE WHEN is_en = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN is_en = 0 THEN 1 ELSE 0 END)::BIGINT AS c0
        |  FROM t GROUP BY 1),
        |f AS (SELECT v, c1, c0,
        |    sum(c1) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    sum(c0) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0
        |  FROM pv),
        |u AS (SELECT max(f1)::BIGINT AS n1, max(f0)::BIGINT AS n0,
        |    sum(c1 * (2 * (f0 - c0) + c0))::BIGINT AS u1_x2
        |  FROM f)
        |SELECT n1, n0, u1_x2,
        |  u1_x2::DOUBLE / (2 * n1 * n0)::DOUBLE AS auc
        |FROM u""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pv = Tables.documents(s, d)
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("is_en"),
          size(tokens(col("text"))).cast("long").as("v"))
        .groupBy("v")
        .agg(sum(when(col("is_en") === 1L, 1L).otherwise(0L))
            .cast("long").as("c1"),
          sum(when(col("is_en") === 0L, 1L).otherwise(0L))
            .cast("long").as("c0"))
      val wn = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val f = pv
        .withColumn("f1", sum("c1").over(wn))
        .withColumn("f0", sum("c0").over(wn))
      val u = f.agg(max("f1").cast("long").as("n1"),
        max("f0").cast("long").as("n0"),
        sum(col("c1") * (lit(2L) * (col("f0") - col("c0")) + col("c0")))
          .cast("long").as("u1_x2"))
      u.select(col("n1"), col("n0"), col("u1_x2"),
        (col("u1_x2").cast("double")
          / (lit(2L) * col("n1") * col("n0")).cast("double")).as("auc"))
    },

    // --------------------------------------------------------------- q205
    "q205_retrieval_eval" -> QueryDef.sql(
      "Retrieval-evaluation harness — the metric layer every search/" +
      "RAG pipeline needs OVER its retriever (q79/q162 rank; this " +
      "row GRADES a ranking against labels): for a deterministic 5% " +
      "query sample (doc_id % 20 = 0), candidates are docs sharing a " +
      "3-gram shingle (the q34 exact blocking — never all-pairs), " +
      "scored by exact shared-shingle count (INTEGER, so ranking by " +
      "(score DESC, cand_id) is a total order with no float " +
      "tie-break), labeled relevant iff same source; per query: " +
      "candidate/relevant counts, hits@10, first relevant rank, and " +
      "reciprocal rank as the ONE division (1/rank — exactly " +
      "representable shapes, the log-free alternative to NDCG's " +
      "log2 per the q53 libm rule). Shape at 100 TB: eval harnesses " +
      "sample queries BY CONSTRUCTION, so the blocking join cost is " +
      "sample x shingle-df, not corpus^2; the rank window partitions " +
      "per query over its blocked candidates.",
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, source, ${DedupQueries.sqlShingles} AS sh
        |  FROM t),
        |x AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |qx AS (SELECT doc_id AS q_id, source AS q_src, g FROM x
        |  WHERE doc_id % 20 = 0),
        |cand AS (SELECT q_id, q_src, x.doc_id AS c_id, x.source AS c_src,
        |    count(*)::BIGINT AS score
        |  FROM qx JOIN x USING (g) WHERE x.doc_id != qx.q_id
        |  GROUP BY 1, 2, 3, 4),
        |r AS (SELECT q_id, q_src, c_id, c_src, score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, c_id)::BIGINT AS rnk FROM cand),
        |m AS (SELECT q_id, count(*)::BIGINT AS n_cand,
        |    sum(CASE WHEN c_src = q_src THEN 1 ELSE 0 END)::BIGINT
        |      AS n_rel_cand,
        |    sum(CASE WHEN c_src = q_src AND rnk <= 10 THEN 1 ELSE 0 END)
        |      ::BIGINT AS hits_at_10,
        |    coalesce(min(CASE WHEN c_src = q_src THEN rnk END), 0)::BIGINT
        |      AS first_rel_rank
        |  FROM r GROUP BY 1)
        |SELECT q_id, n_cand, n_rel_cand, hits_at_10, first_rel_rank,
        |  CASE WHEN first_rel_rank > 0
        |    THEN 1.0 / first_rel_rank::DOUBLE ELSE 0.0 END AS rr
        |FROM m ORDER BY q_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val x = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(shinglesOfText(col("text"), 3)).as("g"))
      val qx = x.where(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("q_id"), col("source").as("q_src"),
          col("g"))
      val cand = qx.join(x.select(col("doc_id").as("c_id"),
          col("source").as("c_src"), col("g")), "g")
        .where(col("c_id") =!= col("q_id"))
        .groupBy("q_id", "q_src", "c_id", "c_src")
        .agg(count(lit(1)).as("score"))
      val ranked = cand.withColumn("rnk",
        row_number().over(Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("c_id"))).cast("long"))
      val rel = col("c_src") === col("q_src")
      val m = ranked.groupBy("q_id")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(rel, 1L).otherwise(0L)).cast("long").as("n_rel_cand"),
          sum(when(rel && col("rnk") <= 10, 1L).otherwise(0L)).cast("long")
            .as("hits_at_10"),
          coalesce(min(when(rel, col("rnk"))), lit(0L)).cast("long")
            .as("first_rel_rank"))
      m.select(col("q_id"), col("n_cand"), col("n_rel_cand"),
          col("hits_at_10"), col("first_rel_rank"),
          when(col("first_rel_rank") > 0,
            lit(1.0) / col("first_rel_rank").cast("double"))
            .otherwise(lit(0.0)).as("rr"))
        .orderBy("q_id")
    },

    // --------------------------------------------------------------- q265
    "q265_ndcg_at_10" -> QueryDef.sql(
      "nDCG@10 over q205's retrieval harness — the graded-ranking " +
      "metric q205 deliberately skipped under the q53 libm rule " +
      "(log2 is transcendental and engine-divergent), made EXACT by " +
      "integer-scaled discounts: the rank-i weight is the LITERAL " +
      "round(1e6/log2(i+1)) for i = 1..10 — ten integers baked into " +
      "BOTH plans, so DCG@10 is a pure int64 sum (order-free, " +
      "unlike a float discount sum whose accumulation order differs " +
      "between engines) and the ideal DCG is one literal prefix-sum " +
      "lookup at least(n_rel, 10); ndcg = dcg/idcg is the ONE IEEE " +
      "division. Same deterministic 5% query sample, shingle-" +
      "blocked candidates, integer-score total order as q205. " +
      "Shape at 100 TB: identical to q205 (sampled blocking join + " +
      "per-query rank window) + one array-literal lookup per row.",
      s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
        |s AS (SELECT doc_id, source, ${DedupQueries.sqlShingles} AS sh
        |  FROM t),
        |x AS (SELECT doc_id, source, unnest(sh) AS g FROM s),
        |qx AS (SELECT doc_id AS q_id, source AS q_src, g FROM x
        |  WHERE doc_id % 20 = 0),
        |cand AS (SELECT q_id, q_src, x.doc_id AS c_id, x.source AS c_src,
        |    count(*)::BIGINT AS score
        |  FROM qx JOIN x USING (g) WHERE x.doc_id != qx.q_id
        |  GROUP BY 1, 2, 3, 4),
        |r AS (SELECT q_id, q_src, c_id, c_src, score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, c_id)::BIGINT AS rnk FROM cand),
        |m AS (SELECT q_id,
        |    sum(CASE WHEN c_src = q_src THEN 1 ELSE 0 END)::BIGINT
        |      AS n_rel_cand,
        |    sum(CASE WHEN c_src = q_src AND rnk <= 10
        |      THEN ([1000000, 630930, 500000, 430677, 386853, 356207,
        |             333333, 315465, 301030, 289065])[rnk]
        |      ELSE 0 END)::BIGINT AS dcg_scaled
        |  FROM r GROUP BY 1)
        |SELECT q_id, n_rel_cand, dcg_scaled,
        |  ([0, 1000000, 1630930, 2130930, 2561607, 2948460, 3304667,
        |    3638000, 3953465, 4254495, 4543560])
        |    [least(n_rel_cand, 10) + 1]::BIGINT AS idcg_scaled,
        |  CASE WHEN n_rel_cand > 0
        |    THEN dcg_scaled::DOUBLE
        |      / ([0, 1000000, 1630930, 2130930, 2561607, 2948460,
        |          3304667, 3638000, 3953465, 4254495, 4543560])
        |          [least(n_rel_cand, 10) + 1]::DOUBLE
        |    ELSE 0.0 END AS ndcg_at_10
        |FROM m ORDER BY q_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dLit = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
      val pLit = Seq(0L, 1000000L, 1630930L, 2130930L, 2561607L,
        2948460L, 3304667L, 3638000L, 3953465L, 4254495L, 4543560L)
      val x = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(shinglesOfText(col("text"), 3)).as("g"))
      val qx = x.where(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("q_id"), col("source").as("q_src"),
          col("g"))
      val cand = qx.join(x.select(col("doc_id").as("c_id"),
          col("source").as("c_src"), col("g")), "g")
        .where(col("c_id") =!= col("q_id"))
        .groupBy("q_id", "q_src", "c_id", "c_src")
        .agg(count(lit(1)).as("score"))
      val ranked = cand.withColumn("rnk",
        row_number().over(Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("c_id"))).cast("long"))
      val rel = col("c_src") === col("q_src")
      val m = ranked.groupBy("q_id")
        .agg(sum(when(rel, 1L).otherwise(0L)).cast("long").as("n_rel_cand"),
          sum(when(rel && col("rnk") <= 10,
            element_at(array(dLit.map(lit): _*), col("rnk").cast("int")))
            .otherwise(0L)).cast("long").as("dcg_scaled"))
      m.select(col("q_id"), col("n_rel_cand"), col("dcg_scaled"),
          element_at(array(pLit.map(lit): _*),
            (least(col("n_rel_cand"), lit(10L)) + 1L).cast("int"))
            .cast("long").as("idcg_scaled"),
          when(col("n_rel_cand") > 0,
            col("dcg_scaled").cast("double")
              / element_at(array(pLit.map(lit): _*),
                (least(col("n_rel_cand"), lit(10L)) + 1L).cast("int"))
                .cast("double"))
            .otherwise(lit(0.0)).as("ndcg_at_10"))
        .orderBy("q_id")
    },

    // --------------------------------------------------------------- q206
    "q206_calibration_bins" -> QueryDef.sql(
      "Calibration audit for a scored classifier — q198's AUC " +
      "measures DISCRIMINATION, this row measures whether the scores " +
      "MEAN what they claim (the reliability-diagram/Brier view " +
      "every model-gated filter needs before its threshold is " +
      "trusted): score = English stopword hits clamped to 10 (11 " +
      "integer bins, q31's detector vocabulary), outcome = lang = " +
      "'en'; per bin the exact count/positives, the empirical rate " +
      "and nominal probability (the two single-shape divisions), " +
      "the Brier mass in EXACT CENTI-UNITS ((s - 10y)^2 per row, " +
      "folded as pure integer algebra n_pos*(10-s)^2 + (n-n_pos)*" +
      "s^2), and the scaled calibration gap |10*n_pos - s*n| " +
      "(the ECE numerator, integer). Shape at 100 TB: ONE " +
      "combinable 11-cell aggregate over the corpus scan — nothing " +
      "else.",
      s"""WITH t AS (SELECT lang, $sqlToks AS w FROM documents),
        |h AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    least(len(list_filter(w,
        |      t -> t IN ('the','and','of','to','a'))), 10)::BIGINT AS s
        |  FROM t)
        |SELECT s AS score_bin, count(*)::BIGINT AS n,
        |  sum(y)::BIGINT AS n_pos,
        |  s::DOUBLE / 10.0 AS pred_p,
        |  sum(y)::DOUBLE / count(*)::DOUBLE AS emp_rate,
        |  (sum(y) * (10 - s) * (10 - s)
        |    + (count(*) - sum(y)) * s * s)::BIGINT AS brier_centi_sum,
        |  abs(10 * sum(y) - s * count(*))::BIGINT AS cal_gap_deci
        |FROM h GROUP BY s
        |ORDER BY score_bin""".stripMargin) { (s, d) =>
      val en = graft.functions.TextFunctions.langVocab.toMap.apply("en")
      val h = Tables.documents(s, d).select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        least(vocabHits(tokens(col("text")), en).cast("long"), lit(10L))
          .as("sb"))
      h.groupBy(col("sb").as("score_bin"))
        .agg(count(lit(1)).as("n"), sum("y").cast("long").as("n_pos"))
        .select(col("score_bin"), col("n"), col("n_pos"),
          (col("score_bin").cast("double") / lit(10.0)).as("pred_p"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("emp_rate"),
          (col("n_pos") * (lit(10L) - col("score_bin"))
              * (lit(10L) - col("score_bin"))
            + (col("n") - col("n_pos")) * col("score_bin")
              * col("score_bin")).cast("long").as("brier_centi_sum"),
          abs(lit(10L) * col("n_pos") - col("score_bin") * col("n"))
            .cast("long").as("cal_gap_deci"))
        .orderBy("score_bin")
    },

    // --------------------------------------------------------------- q223
    "q223_rake_keywords" -> QueryDef.sql(
      "RAKE keyword extraction over the corpus (Rose et al. 2010) — " +
      "the classic unsupervised keyword miner a labeling pipeline " +
      "runs before humans see anything: candidate phrases are maximal " +
      "runs of consecutive non-stopword tokens (the q103 gap trick on " +
      "token POSITIONS — pos minus a per-doc dense rank is constant " +
      "within a run, so phrase assembly is one grouped aggregate, " +
      "never a self-join), word scores are degree/frequency over " +
      "exact integer counts (degree = sum of host-phrase lengths per " +
      "occurrence), and each distinct phrase's score folds its member " +
      "words' scores in POSITION order (the q84 ordered-fold rule — " +
      "no accumulation-order nondeterminism), top-20 elected by " +
      "(score desc, phrase asc) total order. Stopword delimiters are " +
      "q30's literal list, tokenization is the shared byte-identical " +
      "tokenizer -> hash-exact. Shape at 100 TB: tokenize + " +
      "posexplode is the only data-proportional pass; word stats and " +
      "the phrase table are combinable aggregates; the final top-20 " +
      "is TakeOrdered, never a global sort.",
      s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS w,
        |    generate_subscripts(w, 1)::BIGINT AS pos FROM t),
        |ns AS (SELECT doc_id, w, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS grp
        |  FROM tok WHERE w NOT IN ('the','and','of','to','a')),
        |ph AS (SELECT doc_id, grp, list(w ORDER BY pos) AS words
        |  FROM ns GROUP BY 1, 2),
        |occ AS (SELECT unnest(words) AS w, len(words)::BIGINT AS plen
        |  FROM ph),
        |ws AS (SELECT w, count(*)::BIGINT AS freq,
        |    sum(plen)::BIGINT AS degree FROM occ GROUP BY 1),
        |pd AS (SELECT array_to_string(words, ' ') AS phrase,
        |    count(*)::BIGINT AS n_occ FROM ph GROUP BY 1),
        |pw AS (SELECT phrase, n_occ,
        |    unnest(string_split(phrase, ' ')) AS w,
        |    generate_subscripts(string_split(phrase, ' '), 1)::BIGINT
        |      AS pos
        |  FROM pd),
        |ps AS (SELECT pw.phrase, pw.n_occ,
        |    count(*)::BIGINT AS n_words,
        |    list_reduce(list_prepend(0.0,
        |      list(ws.degree::DOUBLE / ws.freq::DOUBLE ORDER BY pw.pos)),
        |      (a, x) -> a + x) AS score
        |  FROM pw JOIN ws ON pw.w = ws.w
        |  GROUP BY 1, 2),
        |r AS (SELECT phrase, n_occ, n_words, score,
        |    row_number() OVER (ORDER BY score DESC, phrase)::BIGINT
        |      AS rank
        |  FROM ps)
        |SELECT rank, phrase, n_words, n_occ, score FROM r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin) { (s, d) =>
      rakeKeywords(Tables.documents(s, d), k = 20)
    },

    // --------------------------------------------------------------- q224
    "q224_isotonic_calibration" -> QueryDef.sql(
      "Isotonic (monotone) calibration of q206's reliability grid — " +
      "the PAV fit a production scorer applies before trusting its " +
      "threshold (Zadrozny & Elkan 2002), computed WITHOUT iteration " +
      "via the minimax closed form: fitted_i = max_{j<=i} min_{k>=i} " +
      "mean(j..k), where every range mean is one single-shape " +
      "division of exact integer prefix-sum differences — identical " +
      "double multisets in both engines, so the max/min elections " +
      "agree bit for bit (no pooling loop to order-diverge). The " +
      "monotonicity audit (fitted non-decreasing bin to bin) is " +
      "emitted per row and the oracle pins TRUE — a violated fit " +
      "hash-fails the row. Shape at 100 TB: q206's ONE combinable " +
      "11-cell aggregate is the only data-proportional pass; prefix " +
      "sums, the 66-range frame and the 11 x 66 minimax join all " +
      "run on the CONSTANT-SIZE bin grid.",
      s"""WITH t AS (SELECT lang, $sqlToks AS w FROM documents),
        |h AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    least(len(list_filter(w,
        |      t -> t IN ('the','and','of','to','a'))), 10)::BIGINT AS s
        |  FROM t),
        |cells AS (SELECT s AS b, count(*)::BIGINT AS n,
        |    sum(y)::BIGINT AS p FROM h GROUP BY s),
        |pre AS (SELECT b, n, p,
        |    sum(n) OVER (ORDER BY b)::BIGINT AS cn,
        |    sum(p) OVER (ORDER BY b)::BIGINT AS cp
        |  FROM cells),
        |rng AS (SELECT j.b AS jb, k.b AS kb,
        |    ((k.cp - (j.cp - j.p))::DOUBLE
        |      / (k.cn - (j.cn - j.n))::DOUBLE) AS mean_jk
        |  FROM pre j JOIN pre k ON k.b >= j.b),
        |inner_min AS (SELECT i.b, rng.jb,
        |    min(rng.mean_jk) AS m FROM pre i
        |  JOIN rng ON rng.jb <= i.b AND rng.kb >= i.b
        |  GROUP BY 1, 2),
        |fit AS (SELECT b, max(m) AS fitted FROM inner_min GROUP BY 1),
        |out1 AS (SELECT c.b AS score_bin, c.n, c.p AS n_pos,
        |    c.p::DOUBLE / c.n::DOUBLE AS raw_rate, f.fitted
        |  FROM cells c JOIN fit f ON c.b = f.b)
        |SELECT score_bin, n, n_pos, raw_rate, fitted,
        |  coalesce(fitted >= lag(fitted) OVER (ORDER BY score_bin),
        |    TRUE) AS monotone_ok
        |FROM out1 ORDER BY score_bin""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val en = graft.functions.TextFunctions.langVocab.toMap.apply("en")
      val h = Tables.documents(s, d).select(
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        least(vocabHits(tokens(col("text")), en).cast("long"), lit(10L))
          .as("sb"))
      val cells = h.groupBy(col("sb").as("b"))
        .agg(count(lit(1)).as("n"), sum("y").cast("long").as("p"))
      val wb = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = cells
        .withColumn("cn", sum("n").over(wb).cast("long"))
        .withColumn("cp", sum("p").over(wb).cast("long"))
      val rng = pre.alias("j").join(pre.alias("k"), col("k.b") >= col("j.b"))
        .select(col("j.b").as("jb"), col("k.b").as("kb"),
          ((col("k.cp") - (col("j.cp") - col("j.p"))).cast("double")
            / (col("k.cn") - (col("j.cn") - col("j.n"))).cast("double"))
            .as("mean_jk"))
      val innerMin = pre.alias("i").select(col("i.b").as("b"))
        .join(rng, col("jb") <= col("b") && col("kb") >= col("b"))
        .groupBy("b", "jb").agg(min("mean_jk").as("m"))
      val fit = innerMin.groupBy("b").agg(max("m").as("fitted"))
      cells.join(fit, Seq("b"))
        .select(col("b").as("score_bin"), col("n"),
          col("p").as("n_pos"),
          (col("p").cast("double") / col("n").cast("double"))
            .as("raw_rate"),
          col("fitted"))
        .withColumn("monotone_ok",
          coalesce(col("fitted")
            >= lag("fitted", 1).over(Window.orderBy("score_bin")),
            lit(true)))
        .orderBy("score_bin")
    },

    // --------------------------------------------------------------- q229
    "q229_token_waterfill" -> QueryDef.sql(
      "Token-budget waterfilling across source domains — the mixture " +
      "ALLOCATOR that precedes q71's mixture sampler: given per-domain " +
      "available token counts and a total budget T (half the corpus " +
      "here), fill every domain to a common water level, capping " +
      "domains that run dry (alloc_d = min(avail_d, level) with " +
      "sum(alloc) = T) — the max-min fair allocation a pretraining " +
      "data plan solves for. EXACT integer waterfilling, no search: " +
      "sort domains by avail, a domain saturates iff its avail times " +
      "the remaining-domain count plus the saturated prefix fits in T " +
      "(prefix-sum test, monotone along the sorted order), level = " +
      "(T - pre_k) div (n - k), and the division remainder goes +1 to " +
      "the first rem unsaturated domains in deterministic (avail, " +
      "source) order -> allocations are exact integers summing to T; " +
      "level < avail for every unsaturated domain by the saturation " +
      "test, so +1 never overfills. Shape at 100 TB: ONE combinable " +
      "token-count rollup is the only data pass; the sort, windows " +
      "and the level election all run on the |domains|-row frame.",
      s"""WITH t AS (SELECT source, $sqlToks AS w FROM documents),
        |d AS (SELECT source, sum(len(w))::BIGINT AS avail
        |  FROM t GROUP BY 1),
        |c AS (SELECT count(*)::BIGINT AS n,
        |    (sum(avail) // 2)::BIGINT AS t_budget FROM d),
        |o AS (SELECT source, avail,
        |    row_number() OVER (ORDER BY avail, source)::BIGINT AS rn,
        |    sum(avail) OVER (ORDER BY avail, source)::BIGINT AS pre
        |  FROM d),
        |sat AS (SELECT o.source, o.avail, o.rn, o.pre,
        |    ((o.pre - o.avail) + o.avail * (c.n - o.rn + 1)
        |      <= c.t_budget) AS saturated
        |  FROM o CROSS JOIN c),
        |kk AS (SELECT
        |    count(CASE WHEN saturated THEN 1 END)::BIGINT AS k,
        |    coalesce(max(CASE WHEN saturated THEN pre END), 0)
        |      ::BIGINT AS pre_k
        |  FROM sat),
        |lv AS (SELECT kk.k, kk.pre_k,
        |    CASE WHEN c.n > kk.k
        |      THEN (c.t_budget - kk.pre_k) // (c.n - kk.k) END AS level,
        |    CASE WHEN c.n > kk.k
        |      THEN (c.t_budget - kk.pre_k) % (c.n - kk.k) END AS rem
        |  FROM kk CROSS JOIN c),
        |al AS (SELECT s.source, s.avail, s.saturated, lv.level,
        |    CASE WHEN s.saturated THEN s.avail
        |      ELSE lv.level
        |        + (CASE WHEN s.rn - lv.k <= lv.rem THEN 1 ELSE 0 END)
        |    END::BIGINT AS alloc
        |  FROM sat s CROSS JOIN lv)
        |SELECT al.source, al.avail AS avail_tokens, al.saturated,
        |  al.alloc AS alloc_tokens, al.level::BIGINT AS water_level,
        |  c.t_budget AS budget_tokens,
        |  al.alloc::DOUBLE / c.t_budget::DOUBLE AS budget_share
        |FROM al CROSS JOIN c
        |ORDER BY al.source""".stripMargin) { (s, d) =>
      tokenWaterfill(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q241
    "q241_vocab_richness" -> QueryDef.sql(
      "Good-Turing / Chao1 vocabulary-richness audit per source (Good " +
      "1953; Chao 1984) — the 'how much vocabulary have we NOT seen " +
      "yet' question a corpus curator asks before buying more of a " +
      "source, distinct from q126's known-vocab coverage and q179's " +
      "observed growth curve: the GOOD-TURING unseen-probability " +
      "mass p_unseen = N1/N (hapax share of tokens) and the CHAO1 " +
      "total-richness floor V + N1^2/(2*N2) (bias-corrected " +
      "V + N1*(N1-1)/2 when N2 = 0) are both SINGLETON-based " +
      "estimators — exact integer counts (N, V, hapax N1, dis " +
      "legomena N2) with single-shape IEEE divisions -> hash-exact. " +
      "Shape at 100 TB: one token explode into a combinable " +
      "(source, term) count, then a combinable frequency-of-" +
      "frequencies rollup — two hash aggs, output |sources| rows.",
      s"""WITH t AS (SELECT source, unnest($sqlToks) AS term
        |  FROM documents),
        |tc AS (SELECT source, term, count(*)::BIGINT AS c FROM t
        |  GROUP BY 1, 2),
        |ff AS (SELECT source, sum(c)::BIGINT AS n_tok,
        |    count(*)::BIGINT AS vocab,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
        |  FROM tc GROUP BY 1)
        |SELECT source, n_tok, vocab, n1, n2,
        |  n1::DOUBLE / n_tok::DOUBLE AS p_unseen,
        |  CASE WHEN n2 > 0
        |    THEN vocab::DOUBLE + (n1 * n1)::DOUBLE / (2 * n2)::DOUBLE
        |    ELSE vocab::DOUBLE + (n1 * (n1 - 1))::DOUBLE / 2.0
        |  END AS chao1
        |FROM ff ORDER BY source""".stripMargin) { (s, d) =>
      vocabRichness(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q243
    "q243_continuation_table" -> QueryDef.sql(
      "Trigram continuation table — the argmax next-token draft table " +
      "a speculative decoder / autocomplete layer reads (distinct " +
      "from q231's symmetric co-occurrence and q81's LM scoring): " +
      "for each context bigram with support >= 5, the most frequent " +
      "continuation token, elected EXACTLY in two phases (max count " +
      "per context, then min token among the maxima — the q227 " +
      "two-phase election, immune to float ties), top-50 contexts " +
      "by (support DESC, context ASC); p_top = c_top/c_ctx is the " +
      "one IEEE division. Shape at 100 TB: one trigram explode into " +
      "a combinable count, two hash aggs on the (ctx) grain, and " +
      "the election join runs on the AGGREGATED trigram table " +
      "(vocab^3-bounded, not corpus-sized); TakeOrdered for the cut.",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
        |tri AS (SELECT unnest(CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w)-2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |    ELSE []::VARCHAR[] END) AS tg FROM t),
        |c3 AS (SELECT string_split(tg, ' ')[1] || ' '
        |      || string_split(tg, ' ')[2] AS ctx,
        |    string_split(tg, ' ')[3] AS w3, count(*)::BIGINT AS c
        |  FROM tri GROUP BY 1, 2),
        |c2 AS (SELECT ctx, sum(c)::BIGINT AS c_ctx,
        |    count(*)::BIGINT AS n_conts FROM c3 GROUP BY 1),
        |mx AS (SELECT ctx, max(c)::BIGINT AS c_top FROM c3 GROUP BY 1),
        |win AS (SELECT c3.ctx, min(c3.w3) AS top_cont FROM c3
        |  JOIN mx ON c3.ctx = mx.ctx AND c3.c = mx.c_top GROUP BY 1),
        |r AS (SELECT c2.ctx, c2.c_ctx, c2.n_conts, win.top_cont,
        |    mx.c_top,
        |    row_number() OVER (ORDER BY c2.c_ctx DESC, c2.ctx)::BIGINT
        |      AS rank
        |  FROM c2 JOIN mx ON c2.ctx = mx.ctx
        |    JOIN win ON c2.ctx = win.ctx
        |  WHERE c2.c_ctx >= 5)
        |SELECT rank, ctx, c_ctx, n_conts, top_cont, c_top,
        |  c_top::DOUBLE / c_ctx::DOUBLE AS p_top
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin) { (s, d) =>
      continuationTable(Tables.documents(s, d), minSupport = 5L, k = 50)
    },

    // --------------------------------------------------------------- q246
    "q246_quantile_normalization" -> QueryDef.sql(
      "Quantile normalization of per-source token-count distributions " +
      "onto the pooled corpus distribution (the microarray-style " +
      "distribution alignment, here the feature-preprocessing step " +
      "that removes per-source length bias before mixing): each doc's " +
      "within-source rank r (ties broken by doc_id) maps to the " +
      "pooled target rank floor((2r-1)*N / (2*n_s)) + 1 — the " +
      "midpoint quantile, ALL integer — and the normalized value is " +
      "the smallest pooled token count whose cumulative count reaches " +
      "that rank, elected by a min over the VALUE-DOMAIN cumulative " +
      "frame (the q203 exact-rank discipline: the token-count domain " +
      "is ~90 values, so the rank->value lookup is a broadcast " +
      "domain join, NEVER a global row_number over the corpus — the " +
      "shape that survives 100 TB where a pooled global sort would " +
      "not; note (2r-1)*N overflows int64 past ~2.1e9 docs (r,N ~ " +
      "3e9 -> product ~2e19 > 9.2e18), so past that corpus size the " +
      "target-rank product lifts to decimal(38,0)/HUGEINT exactly " +
      "as q238/q242/q244 do for their cross-products — capacity " +
      "1e38 covers any conceivable corpus). All exact integers -> " +
      "hash-exact. Per-source windows " +
      "partition by source; the domain cum-sum window runs on the " +
      "|domain|-row frame.",
      s"""WITH t AS (SELECT doc_id, source, len($sqlToks) AS nt
        |  FROM documents),
        |r AS (SELECT doc_id, source, nt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY nt, doc_id)::BIGINT AS rnk,
        |    count(*) OVER (PARTITION BY source)::BIGINT AS n_s,
        |    count(*) OVER ()::BIGINT AS n FROM t),
        |tr AS (SELECT doc_id, source, nt, rnk, n_s,
        |    (((2 * rnk - 1) * n) // (2 * n_s) + 1)::BIGINT
        |      AS target_rank FROM r),
        |dom AS (SELECT nt AS v, count(*)::BIGINT AS c FROM t GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS cc FROM dom)
        |SELECT tr.doc_id, tr.source, tr.nt, tr.rnk, tr.n_s,
        |  tr.target_rank, min(cum.v)::BIGINT AS norm_nt
        |FROM tr JOIN cum ON cum.cc >= tr.target_rank
        |GROUP BY 1, 2, 3, 4, 5, 6
        |ORDER BY tr.doc_id""".stripMargin) { (s, d) =>
      quantileNormalize(Tables.documents(s, d))
    },

    // --------------------------------------------------------------- q231
    "q231_skipgram_assoc" -> QueryDef.sql(
      "Skip-gram co-occurrence association (window +-2) — the " +
      "token-LEVEL counting pass that feeds word-embedding training " +
      "(word2vec/GloVe build exactly this pair-frequency table), " +
      "distinct from q54's document-level adjacent-bigram lift: " +
      "unordered token pairs at position distance 1 and 2 " +
      "(canonicalized least/greatest so both engines count the same " +
      "pair key), support >= 5, ranked by the PMI-analog lift " +
      "c_xy * U^2 / (T * c_x * c_y). The ELECTION key is exact " +
      "integer arithmetic — (c_xy * 10^12) div (c_x * c_y) with " +
      "pair-string tie-break (U, T are rank-constant factors and " +
      "drop out) — so the top-20 is deterministic at any scale; the " +
      "emitted lift double multiplies exact integer casts in ONE " +
      "fixed association order (IEEE-identical cross-engine; " +
      "operands < 2^53 at test SFs, the q213 discipline). Shape at " +
      "100 TB: the pair explode is +-window x corpus tokens (the " +
      "irreducible skip-gram cost) into ONE combinable count, two " +
      "equi-joins stamp unigram counts, top-20 is TakeOrdered + a " +
      "20-row rank window (q226 pattern) — no pair-domain window, " +
      "no cartesian.",
      s"""WITH t AS (SELECT $sqlToks AS w FROM documents),
        |uni AS (SELECT term, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(w) AS term FROM t) GROUP BY 1),
        |tu AS (SELECT sum(c)::BIGINT AS nu FROM uni),
        |p AS (
        |  SELECT unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(generate_series(1, len(w)-1),
        |      i -> least(w[i], w[i+1]) || ' ' || greatest(w[i], w[i+1]))
        |    ELSE []::VARCHAR[] END) AS pair FROM t
        |  UNION ALL
        |  SELECT unnest(CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w)-2),
        |      i -> least(w[i], w[i+2]) || ' ' || greatest(w[i], w[i+2]))
        |    ELSE []::VARCHAR[] END) FROM t),
        |tp AS (SELECT count(*)::BIGINT AS np FROM p),
        |cp AS (SELECT pair, count(*)::BIGINT AS cxy FROM p
        |  GROUP BY 1 HAVING count(*) >= 5),
        |k AS (SELECT cp.pair, string_split(cp.pair, ' ')[1] AS w1,
        |    string_split(cp.pair, ' ')[2] AS w2, cp.cxy,
        |    a.c AS c1, b.c AS c2,
        |    (cp.cxy * 1000000000000) // (a.c * b.c) AS scaled
        |  FROM cp
        |  JOIN uni a ON a.term = string_split(cp.pair, ' ')[1]
        |  JOIN uni b ON b.term = string_split(cp.pair, ' ')[2]),
        |top AS (SELECT * FROM k ORDER BY scaled DESC, pair LIMIT 20)
        |SELECT row_number() OVER (ORDER BY scaled DESC, pair)::BIGINT
        |    AS rank,
        |  pair, w1, w2, cxy AS c_pair, c1 AS c_w1, c2 AS c_w2,
        |  ((cxy::DOUBLE * nu::DOUBLE) * nu::DOUBLE)
        |    / ((np::DOUBLE * c1::DOUBLE) * c2::DOUBLE) AS lift
        |FROM top CROSS JOIN tu CROSS JOIN tp
        |ORDER BY rank""".stripMargin) { (s, d) =>
      skipgramAssoc(Tables.documents(s, d), window = 2, minSupport = 5L,
        k = 20)
    }
  )

  /** The q223 RAKE extractor: gap-trick phrase assembly, integer
    * degree/frequency word scores, position-ordered phrase-score
    * folds, TakeOrdered top-k. */
  def rakeKeywords(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = Seq("the", "and", "of", "to", "a")
    val tok = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos0", "w")))
      .select(col("doc_id"), col("w"),
        (col("pos0") + 1L).cast("long").as("pos"))
    val ns = tok.where(!col("w").isin(stops: _*))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val ph = ns.groupBy("doc_id", "grp")
      .agg(expr("transform(sort_array(collect_list(struct(pos, w))), " +
        "s -> s.w)").as("words"))
    val occ = ph.select(explode(col("words")).as("w"),
      size(col("words")).cast("long").as("plen"))
    val ws = occ.groupBy("w").agg(count(lit(1)).as("freq"),
      sum("plen").cast("long").as("degree"))
    val pd = ph.groupBy(array_join(col("words"), " ").as("phrase"))
      .agg(count(lit(1)).as("n_occ"))
    val pw = pd.select(col("phrase"), col("n_occ"),
        posexplode(split(col("phrase"), " ")).as(Seq("pos0", "w")))
      .select(col("phrase"), col("n_occ"), col("w"),
        (col("pos0") + 1L).cast("long").as("pos"))
    val ps = pw.join(ws, "w")
      .groupBy("phrase", "n_occ")
      .agg(count(lit(1)).as("n_words"),
        sort_array(collect_list(struct(col("pos"),
          (col("degree").cast("double") / col("freq").cast("double"))
            .as("sc")))).as("fs"))
      .select(col("phrase"), col("n_occ"), col("n_words"),
        aggregate(expr("transform(fs, s -> s.sc)"), lit(0.0),
          (a, x) => a + x).as("score"))
    ps.orderBy(col("score").desc, col("phrase")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("phrase"))).cast("long"))
      .select(col("rank"), col("phrase"), col("n_words"), col("n_occ"),
        col("score"))
      .orderBy("rank")
  }

  /** q179's Spark plan: per-doc token counts and per-term first
    * occurrence (two combinable aggregates), each conditionally
    * folded against the broadcast 14-row checkpoint spine — no
    * global sort, no window over the corpus. */
  def vocabGrowth(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val dt = t.select(col("doc_id"), size(col("w")).cast("long").as("n"))
    val fo = t.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("term").agg(min("doc_id").cast("long").as("first_doc"))
    val ks = broadcast(spark.range(0, 14)
      .select(expr("shiftleft(1L, cast(id as int))").as("cp")))
    val d = ks.join(dt, col("doc_id") < col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("n_docs"),
        sum("n").cast("long").as("total_tokens"))
    val v = ks.join(fo, col("first_doc") < col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("n_types"))
    d.join(v, "cp")
      .select(col("cp"), col("n_docs"), col("total_tokens"), col("n_types"),
        expr("(1000000 * n_types) div total_tokens").as("ttr_micro"))
      .orderBy("cp")
  }

  /** The q159 merge-candidate table over an arbitrary documents frame:
    * the k most frequent adjacent character pairs, weighted by word
    * frequency, computed over the VOCABULARY (one word-count aggregate
    * collapses the corpus first — the classic BPE-training trick). */
  private[operators] def bpeMergeCandidates(
      docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val wc = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(length(col("word")) >= 2)
    wc.select(explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> substring(word, i, 2))")).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum("cnt").as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(k)
  }

  /** The q142 quality-budget curve over an arbitrary (doc_id, text)
    * frame: q30's composite quality, decile-ranked best-first, with
    * suffix-cumulative docs/tokens per decile cut. */
  def qualityBudgetCurve(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = tokens(col("text"))
    val punct = charClassRatio(col("text"), "[^.,;:!?]")
    val stop = vocabHits(w, Seq("the", "and", "of", "to", "a")).cast("double") /
      size(w).cast("double")
    val scored = docs.select(col("doc_id"),
      size(w).cast("long").as("n"),
      ((lit(1) - punct) * (lit(0.5) + stop)).as("quality"))
      // lazy checkpoint: the scored projection (3 narrow columns)
      // materializes once, so RangeRank's side passes don't re-run the
      // tokenizer — the same projection a deployment would stage
      .localCheckpoint(false)
    // the decile assignment orders ALL documents — corpus-proportional
    // — so it runs as RangeRank's exact distributed ntile (quantile-
    // boundary buckets + per-bucket windows + broadcast offsets, no
    // single-partition exchange; WindowAuditSpec pins the catalog rule)
    val dec = graft.functions.RangeRank.withNtile(
      scored, "quality", "doc_id", 10, "decile", desc = true)
    val g = dec.groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("n").cast("long").as("n_tokens"),
        min("quality").as("min_quality"))
    val tot = broadcast(g.agg(sum("n_tokens").cast("long").as("total_tokens")))
    g.alias("a").join(g.alias("b"), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"), col("a.n_docs").as("n_docs"),
        col("a.n_tokens").as("n_tokens"), col("a.min_quality").as("min_quality"))
      .agg(sum(col("b.n_docs")).cast("long").as("cum_docs"),
        sum(col("b.n_tokens")).cast("long").as("cum_tokens"))
      .crossJoin(tot)
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        col("min_quality"), col("cum_docs"), col("cum_tokens"),
        (col("cum_tokens").cast("double")
          / col("total_tokens").cast("double")).as("token_share"))
      .orderBy("decile")
  }

  /** The q135 padding-waste audit over an arbitrary (doc_id, text)
    * frame — see the catalog doc for the bucket-partitioned window
    * contract. */
  def paddingWaste(docs: org.apache.spark.sql.DataFrame,
      bucketWidth: Int, batchSize: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n"))
      .withColumn("bucket", expr(s"n div $bucketWidth"))
    val rk = b.withColumn("batch",
      expr(s"(row_number() OVER (PARTITION BY bucket ORDER BY n, doc_id)"
        + s" - 1) div $batchSize").cast("long"))
    rk.groupBy("bucket", "batch")
      .agg(count(lit(1)).as("n_docs"), max("n").as("max_len"),
        sum("n").cast("long").as("sum_len"))
      .select(col("bucket"), col("batch"), col("n_docs"), col("max_len"),
        col("sum_len"), (col("n_docs") * col("max_len")).as("padded"),
        ((col("n_docs") * col("max_len") - col("sum_len")).cast("double")
          / (col("n_docs") * col("max_len")).cast("double"))
          .as("waste_frac"))
      .orderBy("bucket", "batch")
  }

  /** The q115 vocabulary-overlap matrix over an arbitrary
    * (source, text) frame — shared with SkylineTriangleSpec. */
  def sourceOverlap(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val st = docs.select(col("source"),
      explode(tokens(col("text"))).as("t")).distinct()
    val sz = st.groupBy("source").agg(count(lit(1)).as("nv"))
    val pairs = st.select(col("t"), col("source").as("src_a"))
      .join(st.select(col("t"), col("source").as("src_b")), "t")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(sz.select(col("source").as("src_a"), col("nv").as("nv_a"))), "src_a")
      .join(broadcast(sz.select(col("source").as("src_b"), col("nv").as("nv_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"), col("nv_a"), col("nv_b"),
        (col("inter").cast("double")
          / (col("nv_a") + col("nv_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** The q101 TVD-drift operator over an arbitrary (source, text) frame
    * — shared by the catalog entry and SkylineTriangleSpec. Sparse
    * formulation: absent-token mass enters via the closed-form
    * (N - sum_present C_t) * N_s term; see the catalog doc. */
  def sourceDrift(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col("source"),
      explode(tokens(col("text"))).as("t"))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
    val ct = st.groupBy("t").agg(sum("c").as("cc"))
    val ns = st.groupBy("source").agg(sum("c").as("n"))
    val nn = broadcast(ct.agg(sum("cc").as("nn")))
    val present = st.join(ct, "t").crossJoin(nn)
      .join(ns, "source")
      .groupBy(col("source"), col("n"), col("nn"))
      .agg(sum(abs(col("c") * col("nn") - col("cc") * col("n"))).as("num_present"),
        sum("cc").as("cc_present"))
    present
      .select(col("source"), col("n").as("n_tokens"),
        (col("num_present")
          + (col("nn") - col("cc_present")) * col("n")).as("tvd_num"),
        (lit(2L) * col("n") * col("nn")).as("tvd_den"),
        ((col("num_present")
          + (col("nn") - col("cc_present")) * col("n")).cast("double")
          / (lit(2.0) * col("n").cast("double") * col("nn").cast("double")))
          .as("tvd"))
      .orderBy("source")
  }

  /** The q96 operator over an arbitrary documents frame — shared by the
    * catalog entry and HeavyHitterSpec. `capacity` m sets the exact
    * threshold: emits tokens with cnt*m > total occurrences. */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame, capacity: Int)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val cands = toks.as[String]
      .mapPartitions(it => graft.functions.MisraGries.candidates(it, capacity))
      .distinct().toDF("token")
    val tot = broadcast(toks.agg(count(lit(1)).as("total")))
    toks.join(broadcast(cands), "token")
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(tot)
      .where(col("cnt") * capacity > col("total"))
      .select(col("token"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** The q126 vocabulary-coverage operator over an arbitrary
    * (doc_id, text) frame. See the catalog doc for the scale shape:
    * the curve is computed on the top-`cutoffs.max` frequency slice
    * (TakeOrderedAndProject), so the single-partition cumulative
    * window is bounded by the largest cutoff, never the vocabulary. */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame,
      cutoffs: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
    val tot = broadcast(tf.agg(sum("f").cast("long").as("total")))
    val top = tf.orderBy(col("f").desc, col("term")).limit(cutoffs.max)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("f").desc, col("term"))))
    val cum = top.withColumn("cf",
      sum("f").over(Window.orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val ks = spark.createDataFrame(cutoffs.map(Tuple1(_))).toDF("k")
    cum.join(broadcast(ks), col("rn") <= col("k"))
      .crossJoin(tot)
      .groupBy("k")
      .agg(count(lit(1)).as("vocab_used"),
        max("cf").as("covered"), max("total").as("total"))
      .select(col("k"), col("vocab_used"), col("covered"), col("total"),
        (col("covered").cast("double") / col("total").cast("double"))
          .as("coverage"))
      .orderBy("k")
  }

  /** The q127 burstiness operator over an arbitrary (doc_id, text)
    * frame: sample variance-to-mean of per-doc term counts WITH zero
    * docs included — zeros enter only through n_docs in the closed
    * form (N*s2 - f^2)/(f*(N-1)), so no zero-row join ever exists. */
  def termBurstiness(docs: org.apache.spark.sql.DataFrame,
      topK: Int): org.apache.spark.sql.DataFrame = {
    val nd = broadcast(docs.agg(count(lit(1)).cast("long").as("n_docs")))
    val tc = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val tm = tc.groupBy("term")
      .agg(sum("c").cast("long").as("f"),
        sum(col("c") * col("c")).cast("long").as("s2"),
        count(lit(1)).as("df"))
    tm.orderBy(col("f").desc, col("term")).limit(topK)
      .crossJoin(nd)
      .select(col("term"), col("f"), col("s2"), col("df"), col("n_docs"),
        ((col("n_docs") * col("s2") - col("f") * col("f")).cast("double")
          / (col("f") * (col("n_docs") - 1)).cast("double"))
          .as("burstiness"))
      .orderBy(col("f").desc, col("term"))
  }

  /** The q84 Simpson-diversity operator over an arbitrary
    * (doc_id, text) frame — shared by the catalog entry and
    * Bm25LmSpec's diversity anchors. */
  def tokenDiversity(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val tc = t.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val n = tc.groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
    val per = tc.join(n, "doc_id")
      .select(col("doc_id"), col("term"),
        (col("c").cast("double") / col("n").cast("double")).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("p")))).as("ps"),
        max(col("p")).as("top_share"))
      .select(col("doc_id"),
        aggregate(expr("transform(ps, s -> s.p * s.p)"), lit(0.0),
          (a, x) => a + x).as("conc"),
        col("top_share"))
    docs.select("doc_id")
      .join(n, Seq("doc_id"), "left")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        (lit(1.0) - col("conc")).as("simpson"),
        col("top_share"))
      .orderBy("doc_id")
  }

  /** The q79 BM25 operator over an arbitrary (doc_id, text) frame —
    * shared by the catalog entry and Bm25LmSpec so the tests exercise
    * the shipped plan. See the q79 catalog doc for the scale shape. */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.size <= 8,
      "bm25TopK: per-term one-hot columns only stay readable for a " +
        "handful of query terms")
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val dl = t.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).cast("long").as("n"),
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = t.select(col("doc_id"), explode(col("w")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val sc = tf.join(broadcast(dfq), "term").join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("term"),
        (((col("n").cast("double") - col("df").cast("double") + 0.5)
            / (col("df").cast("double") + 0.5))
          * (col("tf").cast("double") * 2.2
            / (col("tf").cast("double")
              + lit(1.2) * (lit(0.25)
                + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
          .as("s"))
    // per-term one-hot conditional sums in the caller's term order
    val oneHot = terms.map(q =>
      sum(when(col("term") === q, col("s"))).as("s_" + q))
    val per = sc.groupBy("doc_id").agg(oneHot.head, oneHot.tail: _*)
    val scored = per.join(dl, "doc_id")
      .withColumn("score",
        terms.map(q => coalesce(col("s_" + q), lit(0.0))).reduceLeft(_ + _))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select((Seq("doc_id", "dl") ++ terms.map("s_" + _)
        ++ Seq("score", "rnk")).map(col): _*)
      .orderBy("rnk")
  }

  /** The q81 bigram-LM scorer over an arbitrary (doc_id, text) frame —
    * trains add-one-smoothed transition counts on the frame itself and
    * scores every document by mean P(w2|w1) with an index-ordered fold.
    * Shared by the catalog entry and Bm25LmSpec. */
  def bigramLmScores(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val b2 = t.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(cast(i AS bigint) AS pos, " +
          "element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("s"))
      .select(col("doc_id"), col("s.pos"), col("s.w1"), col("s.w2"))
      // the bigram stream feeds model training (c2, c1) AND the
      // scoring join; un-materialized, the three consumers re-ran
      // tokenize+explode as concurrent jobs (JobTrace r16). Tokenize
      // once, persist, then train + score — the shape a production
      // LM-filter pipeline uses at corpus scale.
      .localCheckpoint()
    val c2 = b2.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = b2.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vv = t.select(explode(col("w")).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    val p = b2.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vv))
      .select(col("doc_id"), col("pos"),
        ((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double"))
          .as("p"))
    val per = p.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        aggregate(expr("transform(ps, s -> s.p)"), lit(0.0), (a, x) => a + x)
          .as("sump"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("sump") / col("n_bigrams").cast("double")).as("mean_p"))
      .orderBy("doc_id")
  }

  /** Smoothed transition probabilities P(w2|w1) for the q81 model over an
    * arbitrary (doc_id, text) frame — exposed for Bm25LmSpec's
    * rows-sum-to-1 distribution check. */
  private[operators] def bigramLmModel(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val b2 = t.where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"))
        .as("s"))
      .select(col("s.w1"), col("s.w2"))
    val c2 = b2.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = b2.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vv = t.select(explode(col("w")).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    c2.join(c1, "w1").crossJoin(broadcast(vv))
      .select(col("w1"), col("w2"), col("c2"), col("c1"), col("v"),
        ((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double"))
          .as("p"))
  }

  /** The q231 skip-gram pass: pair explode at distances 1..window
    * (canonical least/greatest keys), one combinable pair count, two
    * unigram equi-joins, exact integer-scaled lift election, top-k by
    * TakeOrdered + a k-row rank window. Shared with SkipgramSpec. */
  def skipgramAssoc(docs: org.apache.spark.sql.DataFrame, window: Int,
      minSupport: Long, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(tokens(col("text")).as("w"))
    val uni = t.select(explode(col("w")).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("long").as("c"))
    val tu = broadcast(uni.agg(sum("c").cast("long").as("nu")))
    val p = (1 to window).map { d =>
      t.select(explode(expr(
        s"""CASE WHEN size(w) >= ${d + 1}
           |THEN transform(sequence(1, size(w) - $d),
           |  i -> concat(least(element_at(w, i), element_at(w, i + $d)),
           |    ' ', greatest(element_at(w, i), element_at(w, i + $d))))
           |ELSE array() END""".stripMargin)).as("pair"))
    }.reduce(_ unionByName _)
    val tp = broadcast(p.agg(count(lit(1)).cast("long").as("np")))
    val cp = p.groupBy("pair").agg(count(lit(1)).cast("long").as("cxy"))
      .where(col("cxy") >= minSupport)
    val kf = cp
      .select(col("pair"), split(col("pair"), " ").getItem(0).as("w1"),
        split(col("pair"), " ").getItem(1).as("w2"), col("cxy"))
      .join(uni.select(col("term").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("term").as("w2"), col("c").as("c2")), "w2")
      .select(col("pair"), col("w1"), col("w2"), col("cxy"),
        col("c1"), col("c2"),
        expr("(cxy * 1000000000000) div (c1 * c2)").as("scaled"))
    val top = kf.orderBy(col("scaled").desc, col("pair")).limit(k)
    top.crossJoin(tu).crossJoin(tp)
      .select(
        row_number().over(Window.orderBy(col("scaled").desc, col("pair")))
          .cast("long").as("rank"),
        col("pair"), col("w1"), col("w2"), col("cxy").as("c_pair"),
        col("c1").as("c_w1"), col("c2").as("c_w2"),
        (((col("cxy").cast("double") * col("nu").cast("double"))
          * col("nu").cast("double"))
          / ((col("np").cast("double") * col("c1").cast("double"))
            * col("c2").cast("double"))).as("lift"))
      .orderBy("rank")
  }

  /** The q246 quantile normalizer: within-source midpoint ranks mapped
    * onto the pooled value-domain cumulative frame (broadcast domain
    * join, no global corpus sort). Shared with QuantileNormSpec. */
  def quantileNormalize(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("nt"))
    val tot = broadcast(t.agg(count(lit(1)).cast("long").as("n")))
    val r = t.select(col("doc_id"), col("source"), col("nt"),
        row_number().over(Window.partitionBy("source")
          .orderBy("nt", "doc_id")).cast("long").as("rnk"),
        count(lit(1)).over(Window.partitionBy("source")).cast("long")
          .as("n_s"))
      .crossJoin(tot)
      .withColumn("target_rank",
        expr("((2 * rnk - 1) * n) div (2 * n_s)") + 1L)
    val cum = broadcast(t.groupBy(col("nt").as("v"))
      .agg(count(lit(1)).cast("long").as("c"))
      .select(col("v"), sum("c").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long").as("cc")))
    r.join(cum, col("cc") >= col("target_rank"))
      .groupBy("doc_id", "source", "nt", "rnk", "n_s", "target_rank")
      .agg(min("v").cast("long").as("norm_nt"))
      .orderBy("doc_id")
  }

  /** The q243 continuation table: multiset trigram counts, two-phase
    * exact argmax election per context bigram, top-k by support.
    * Shared with ContinuationSpec. */
  def continuationTable(docs: org.apache.spark.sql.DataFrame,
      minSupport: Long, k: Int): org.apache.spark.sql.DataFrame = {
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
        split(col("tg"), " ").getItem(2).as("w3"))
      .groupBy("ctx", "w3").agg(count(lit(1)).cast("long").as("c"))
    val c2 = c3.groupBy("ctx").agg(sum("c").cast("long").as("c_ctx"),
      count(lit(1)).cast("long").as("n_conts"))
    val mx = c3.groupBy("ctx").agg(max("c").cast("long").as("c_top"))
    val win = c3
      .join(mx.select(col("ctx").as("mctx"), col("c_top").as("mc")),
        col("ctx") === col("mctx") && col("c") === col("mc"))
      .groupBy("ctx").agg(min("w3").as("top_cont"))
    val r = c2.where(col("c_ctx") >= minSupport)
      .join(mx, "ctx").join(win, "ctx")
      .orderBy(col("c_ctx").desc, col("ctx")).limit(k)
    r.select(
        row_number().over(Window.orderBy(col("c_ctx").desc, col("ctx")))
          .cast("long").as("rank"),
        col("ctx"), col("c_ctx"), col("n_conts"), col("top_cont"),
        col("c_top"),
        (col("c_top").cast("double") / col("c_ctx").cast("double"))
          .as("p_top"))
      .orderBy("rank")
  }

  /** The q241 singleton-based richness estimators: Good-Turing unseen
    * mass and the Chao1 floor from one (source, term) count plus one
    * frequency-of-frequencies rollup. Shared with VocabRichnessSpec. */
  def vocabRichness(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tc = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).cast("long").as("c"))
    val ff = tc.groupBy("source").agg(
      sum("c").cast("long").as("n_tok"),
      count(lit(1)).cast("long").as("vocab"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long").as("n1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).cast("long").as("n2"))
    ff.select(col("source"), col("n_tok"), col("vocab"), col("n1"),
        col("n2"),
        (col("n1").cast("double") / col("n_tok").cast("double"))
          .as("p_unseen"),
        when(col("n2") > 0L,
          col("vocab").cast("double")
            + (col("n1") * col("n1")).cast("double")
              / (lit(2L) * col("n2")).cast("double"))
          .otherwise(col("vocab").cast("double")
            + (col("n1") * (col("n1") - 1L)).cast("double") / lit(2.0))
          .as("chao1"))
      .orderBy("source")
  }

  /** The q229 exact integer waterfill: one combinable per-source token
    * rollup, then the sorted prefix-sum saturation test, level division
    * and remainder distribution on the |domains|-row frame. Shared with
    * WaterfillSpec. */
  def tokenWaterfill(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").cast("long").as("avail"))
    val c = broadcast(d.agg(count(lit(1)).cast("long").as("n"),
      expr("sum(avail) div 2").cast("long").as("t_budget")))
    val w = Window.orderBy("avail", "source")
    val o = d.select(col("source"), col("avail"),
      row_number().over(w).cast("long").as("rn"),
      sum("avail").over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).cast("long").as("pre"))
    val sat = o.crossJoin(c).select(col("source"), col("avail"),
      col("rn"), col("pre"),
      ((col("pre") - col("avail"))
        + col("avail") * (col("n") - col("rn") + 1L)
        <= col("t_budget")).as("saturated"))
    val kk = broadcast(sat.agg(
      count(when(col("saturated"), 1L)).cast("long").as("k"),
      coalesce(max(when(col("saturated"), col("pre"))), lit(0L))
        .cast("long").as("pre_k")))
    val lv = broadcast(kk.crossJoin(c).select(col("k"), col("pre_k"),
      when(col("n") > col("k"),
        expr("(t_budget - pre_k) div (n - k)")).as("level"),
      when(col("n") > col("k"),
        (col("t_budget") - col("pre_k")) % (col("n") - col("k")))
        .as("rem")))
    sat.crossJoin(lv).crossJoin(c)
      .select(col("source"), col("avail").as("avail_tokens"),
        col("saturated"),
        when(col("saturated"), col("avail"))
          .otherwise(col("level")
            + when(col("rn") - col("k") <= col("rem"), 1L).otherwise(0L))
          .cast("long").as("alloc_tokens"),
        col("level").cast("long").as("water_level"),
        col("t_budget").as("budget_tokens"))
      .withColumn("budget_share",
        col("alloc_tokens").cast("double")
          / col("budget_tokens").cast("double"))
      .orderBy("source")
  }
}
