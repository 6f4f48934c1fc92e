package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Text-analysis operators over `documents` (SURVEY.md §2.2 EXT /
  * north-star "text analysis"): per-doc token statistics, per-language
  * corpus stats, quality scoring, stopword-profile language ID,
  * rolling-hash fingerprinting, and n-gram frequency. All pure
  * Catalyst built-ins / higher-order functions — the same generalized
  * tokenize→aggregate algebra as the reference's word count
  * (`/root/reference/src/mapper.c:14-42`), no UDFs, every query a
  * single scan + (at most) one shuffle.
  */
object TextAnalysisQueries {

  /** Whitespace tokens with empties dropped — `documents.text` is
    * single-space separated so this equals the reference tokenizer on
    * this corpus, and `string_split(text,' ')` in DuckDB matches it.
    */
  private def toks(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  val q27TokenStats = QueryDef(
    "q27_token_stats",
    "per-document token statistics (count/unique/avg len/max len) via HOFs — no explode, no shuffle",
    """SELECT doc_id,
      |  len(w) AS n_tokens,
      |  len(list_distinct(w)) AS n_uniq,
      |  round(CAST(list_reduce(list_transform(w, t -> CAST(length(t) AS BIGINT)),
      |                         (a, b) -> a + b) AS DOUBLE) / len(w), 4) AS avg_token_len,
      |  list_max(list_transform(w, t -> length(t))) AS max_token_len
      |FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_uniq"),
        // Σ token lengths = length of the separator-free join — a
        // codegen expression (tokens are non-empty and space-free),
        // replacing the interpreted per-token aggregate lambda
        round(length(array_join(col("w"), ""))
          .cast("double") / size(col("w")), 4).as("avg_token_len"),
        array_max(transform(col("w"), t => length(t))).as("max_token_len"))
      .orderBy(col("doc_id"))
  }

  val q28LangStats = QueryDef(
    "q28_lang_stats",
    "per-language corpus statistics: docs, tokens, avg tokens/doc, avg chars",
    """SELECT lang,
      |  count(*) AS n_docs,
      |  CAST(sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))) AS BIGINT) AS total_tokens,
      |  round(CAST(sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))) AS DOUBLE)
      |        / count(*), 4) AS avg_tokens,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), size(toks(col("text"))).as("nt"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        round(sum(col("nt")).cast("double") / count(lit(1)), 4).as("avg_tokens"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
      .orderBy(col("lang"))
  }

  /** Stopword set used by the quality score (subset of the corpus
    * vocabulary plus common English function words).
    */
  private val Stopwords =
    Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Document quality scoring (length, stopword ratio, type-token
    * ratio) — the heuristic filter stage of an LLM-data pipeline.
    * All features are integer basis points (floor(10000·k/n)): the
    * floor of a small-int ratio is bit-identical across engines,
    * whereas `round()` on a double differs between Spark (rounds the
    * shortest decimal string, half-up) and DuckDB (rounds the binary
    * value) exactly on the decimal ties a composite of rounded parts
    * tends to produce. Integer outputs → no float compare at all.
    */
  val q29QualityScore = QueryDef(
    "q29_quality_score",
    "per-document quality features + composite score in integer basis points (LLM-pipeline filter stage)",
    s"""SELECT doc_id, n_tokens, ttr_bp, stop_bp, mean_len_c,
      |  4*ttr_bp + 3*(10000 - stop_bp) + 3*least(10000, 100*n_tokens) AS quality_bp
      |FROM (
      |  SELECT doc_id,
      |    len(w) AS n_tokens,
      |    CAST(floor(10000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS ttr_bp,
      |    CAST(floor(10000.0 * len(list_filter(w, t -> t IN ${sqlList(Stopwords)})) / len(w)) AS BIGINT) AS stop_bp,
      |    CAST(floor(100.0 * list_reduce(list_transform(w, t -> CAST(length(t) AS BIGINT)), (a,b) -> a+b) / len(w)) AS BIGINT) AS mean_len_c
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        floor(lit(10000.0) * size(array_distinct(col("w"))) / size(col("w")))
          .cast("long").as("ttr_bp"),
        floor(lit(10000.0) * size(filter(col("w"), t => t.isin(Stopwords: _*))) /
          size(col("w"))).cast("long").as("stop_bp"),
        floor(lit(100.0) * length(array_join(col("w"), "")) /
          size(col("w"))).cast("long").as("mean_len_c"))
      .withColumn("quality_bp",
        lit(4) * col("ttr_bp") + lit(3) * (lit(10000) - col("stop_bp")) +
          lit(3) * least(lit(10000L), lit(100L) * col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  /** Per-language stopword profiles for the language-ID heuristic. */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "en", "es", "un"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une"))

  /** Language identification by stopword-profile hit counting — the
    * classic cheap lang-ID heuristic (n-gram profiles degenerate to
    * word unigrams on a space-separated corpus). Deterministic argmax
    * with a fixed priority order on ties, spelled identically as a
    * CASE in both engines.
    */
  val q30Langid = QueryDef(
    "q30_langid",
    "heuristic language ID: per-language stopword hit counts + deterministic argmax",
    s"""SELECT doc_id, s_en, s_es, s_de, s_fr,
      |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |       WHEN s_de >= s_fr THEN 'de'
      |       ELSE 'fr' END AS pred_lang
      |FROM (
      |  SELECT doc_id,
      |    len(list_filter(w, t -> t IN ${sqlList(LangProfiles(0)._2)})) AS s_en,
      |    len(list_filter(w, t -> t IN ${sqlList(LangProfiles(1)._2)})) AS s_es,
      |    len(list_filter(w, t -> t IN ${sqlList(LangProfiles(2)._2)})) AS s_de,
      |    len(list_filter(w, t -> t IN ${sqlList(LangProfiles(3)._2)})) AS s_fr
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id") +: LangProfiles.map { case (l, ws) =>
        size(filter(col("w"), t => t.isin(ws: _*))).as(s"s_$l")
      }: _*)
    scored.withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
          col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .orderBy(col("doc_id"))
  }

  /** Split to single characters, dropping the trailing empty string
    * Spark's `split(s, "")` (Java `split` with limit -1) produces —
    * DuckDB's `string_split(s, '')` has no such artifact.
    */
  private def chars(c: Column): Column =
    filter(split(c, ""), ch => length(ch) > 0)

  /** Polynomial rolling hash of a string column: left fold of
    * `acc*31 + codepoint`, optionally mod a prime. Matches DuckDB's
    * `list_reduce` (seeded with the first element ≡ fold from 0).
    */
  private def polyHash(text: Column, mod: Option[Long]): Column = {
    val codes = transform(chars(text), ch => ascii(ch).cast("long"))
    mod match {
      case Some(p) =>
        aggregate(codes, lit(0L), (a, x) => (a * 31 + x) % p)
      case None =>
        aggregate(codes, lit(0L), (a, x) => a * 31 + x)
    }
  }

  /** Document fingerprinting (north-star "document fingerprinting"):
    * a whole-text Karp–Rabin polynomial hash plus a winnowing-style
    * minimum over rolling 8-gram hashes. Both are order-sensitive —
    * near-identical docs that differ anywhere get different
    * poly_hash but usually share min_gram_hash (the winnow survives
    * local edits), which is exactly the fingerprint-dedup trade-off.
    */
  val q31Fingerprint = QueryDef(
    "q31_fingerprint",
    "Karp–Rabin full-text hash + winnowed min 8-gram rolling hash per document",
    """SELECT doc_id,
      |  list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
      |              (acc, x) -> (acc*31 + x) % 1000000007) AS poly_hash,
      |  list_min(list_transform(
      |     list_transform(range(1, length(text)-6), i -> substring(text, i, 8)),
      |     g -> list_reduce(list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT)),
      |                      (acc, x) -> acc*31 + x))) AS min_gram_hash
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        polyHash(col("text"), Some(1000000007L)).as("poly_hash"),
        // texts shorter than one 8-gram have no rolling hashes: the
        // oracle's empty range yields NULL, but Spark's sequence(1, n)
        // with n < 1 DESCENDS (sequence(1,-3) = [1,0,...]) — guard to
        // the oracle's empty-range → NULL semantics
        when(length(col("text")) < 8, lit(null).cast("long"))
          .otherwise(array_min(transform(
            transform(sequence(lit(1), length(col("text")) - 7),
              i => col("text").substr(i, lit(8))),
            g => polyHash(g, None)))).as("min_gram_hash"))
      .orderBy(col("doc_id"))
  }

  /** Word-bigram frequency — the n-gram generalization of the
    * reference word count: per-doc n-gram generation is map-side,
    * the global count is one partial+final HashAggregate.
    */
  val q32NgramStats = QueryDef(
    "q32_ngram_stats",
    "top-100 word bigrams by frequency (ngram explode + groupBy count)",
    """SELECT bigram, count(*) AS cnt
      |FROM (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
      |  FROM (SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents))
      |GROUP BY bigram
      |ORDER BY cnt DESC, bigram
      |LIMIT 100""".stripMargin) { (s, d) =>
    // bigrams map-side from the token array (Ngrams.bigrams — zipped
    // shifted slices, round 17): no token-stream shuffle; the groupBy
    // shuffles aggregated partials only. (The array-HOF
    // transform+concat_ws+slice form runs interpreted — still avoided.)
    graft.functions.Ngrams.bigrams(Tables.documents(s, d))
      .select(concat_ws(" ", col("t"), col("t1")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(100)
  }

  /** TF-IDF top terms per document — the classic term-weighting
    * pipeline: term frequencies per doc (one groupBy), document
    * frequencies per term (one groupBy), idf = ln((N+1)/(df+1)),
    * score = (c/n)·idf. Ranking uses the UNROUNDED double (identical
    * transcendental arithmetic in both engines — decimal-tie rounding
    * hazards only arise from *rounded* inputs); output rounds at 4dp
    * for the hash compare.
    */
  val q55Tfidf = QueryDef(
    "q55_tfidf",
    "TF-IDF: top-5 weighted terms per document (doc_id < 50)",
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
      |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens FROM tf GROUP BY doc_id),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
      |SELECT doc_id, term, round(score, 4) AS tfidf, rn FROM (
      |  SELECT tf.doc_id, tf.term,
      |    (CAST(tf.c AS DOUBLE) / n.n_tokens)
      |      * ln((nd.n_docs + 1.0) / (df.df + 1.0)) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY
      |      (CAST(tf.c AS DOUBLE) / n.n_tokens)
      |        * ln((nd.n_docs + 1.0) / (df.df + 1.0)) DESC, tf.term) AS rn
      |  FROM tf JOIN n USING (doc_id) JOIN df USING (term), nd
      |  WHERE tf.doc_id < 50)
      |WHERE rn <= 5
      |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // doc hash-shuffle before the explode (round 18, the r17 n-grams
    // convention): tokenization runs at full parallelism off a
    // single-file scan, and doc_id clustering pre-satisfies tf and n
    val tok = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val n = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n_tokens"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = tok.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.filter(col("doc_id") < 50)
      .join(n, "doc_id")
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("c").cast("double") / col("n_tokens")) *
          log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("term"), round(col("score"), 4).as("tfidf"),
        col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** BPE-ish pre-tokenization (the GPT-2 pre-tokenizer regex family:
    * contraction suffixes | space?-letters | space?-digits |
    * space?-punctuation | whitespace) counted against plain
    * whitespace tokens — the two token-counting bases an LLM data
    * pipeline budgets with. The input is salted with the source tag,
    * a contraction and "v2.0!" so every regex branch (letters,
    * digits, punctuation, apostrophe suffix) fires on every row.
    * Java regex and DuckDB's RE2 agree on this pattern (no
    * lookaround; \p{L}/\p{N} Unicode classes in both). Spark needs
    * explicit group 0 — its regexp_extract_all defaults to group 1.
    */
  val q66BpeTokens = QueryDef(
    "q66_bpe_tokens",
    "BPE-ish pre-tokenizer counts vs whitespace counts per document",
    """WITH t AS (
      |  SELECT doc_id,
      |    regexp_extract_all(source || ': ' || text || ' it''s v2.0!',
      |      '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+') AS toks,
      |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
      |  FROM documents)
      |SELECT doc_id, len(toks) AS n_bpe, len(list_distinct(toks)) AS n_uniq_bpe,
      |       len(ws) AS n_ws
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pat = """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(
          concat(col("source"), lit(": "), col("text"), lit(" it's v2.0!")),
          lit(pat), lit(0)).as("toks"),
        toks(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq_bpe"),
        size(col("ws")).cast("long").as("n_ws"))
      .orderBy(col("doc_id"))
  }

  /** TextRank keyword extraction: tokens are nodes, adjacent-token
    * co-occurrence counts are undirected edge weights, importance is
    * 3 iterations of `api.PageRank` — in EXACT integer fixed-point,
    * so the DuckDB oracle replays the full iterative loop as unrolled
    * CTEs and hash-checks every score. Scale shape: the corpus is
    * touched once to build the bigram edge list (one shuffle); each
    * PageRank iteration then joins edges ⋈ scores on the key and
    * partial-aggregates — all on the token-graph relation, which is
    * vocabulary-sized, not corpus-sized.
    */
  val q96Textrank = {
    val edgesSql =
      """SELECT l AS src, r AS dst, CAST(count(*) AS BIGINT) AS w FROM (
        |    SELECT w[i] AS l, w[i+1] AS r
        |    FROM (SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |          FROM documents),
        |         unnest(range(1, len(w))) AS u(i))
        |  GROUP BY l, r
        |  UNION ALL
        |  SELECT r, l, CAST(count(*) AS BIGINT) FROM (
        |    SELECT w[i] AS l, w[i+1] AS r
        |    FROM (SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |          FROM documents),
        |         unnest(range(1, len(w))) AS u(i))
        |  GROUP BY l, r""".stripMargin
    QueryDef(
      "q96_textrank",
      "TextRank keywords: top-30 tokens by 3 integer-exact PageRank iterations over the co-occurrence graph",
      s"""${graft.api.PageRank.oracleSql(edgesSql, 3)}
        |SELECT * FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY score DESC, node) AS INT) AS rank,
        |         node AS token, CAST(score AS BIGINT) AS score
        |  FROM s3)
        |WHERE rank <= 30
        |ORDER BY rank""".stripMargin) { (s, d) =>
      val bigrams = Tables.documents(s, d)
        .select(toks(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(posexplode(slice(col("w"), lit(1), size(col("w")) - 1))
          .as(Seq("i", "l")), col("w"))
        .select(col("l"), element_at(col("w"), col("i") + 2).as("r"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("w"))
      val edges = bigrams.select(col("l").as("src"), col("r").as("dst"), col("w"))
        .unionAll(bigrams.select(col("r").as("src"), col("l").as("dst"), col("w")))
      // top-30 via global sort+limit (TakeOrderedAndProject — per-
      // partition top-k then a 30-row merge, never a full-vocab
      // single-reducer window); rank assigned on the 30 survivors.
      graft.api.PageRank.weighted(edges, 3)
        .select(col("node").as("token"), col("score"))
        .orderBy(col("score").desc, col("token"))
        .limit(30)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("token"))).cast("int"))
        .select(col("rank"), col("token"), col("score"))
        .orderBy(col("rank"))
    }
  }

  /** Vocabulary growth curve (Heaps' law audit): distinct-type count
    * vs cumulative token count across 20 equal doc-id slices of the
    * corpus in ingestion order — the curve that tells you whether
    * more data still buys vocabulary (and how a tokenizer's OOV rate
    * will trend).
    *
    * Scale shape: "vocab after prefix b" is NOT a running distinct
    * over the token stream (which would need corpus-ordered state) —
    * each term contributes at its FIRST bucket only (groupBy term →
    * min bucket: one vocabulary-sized aggregate), and the curve is a
    * cumulative sum over the 20-row bucket spine. The only window
    * runs on 20 rows; the corpus is touched by exactly two keyed
    * aggregates (per-bucket token counts, per-term first bucket).
    */
  val q117VocabGrowth = QueryDef(
    "q117_vocab_growth",
    "vocabulary growth curve: cumulative tokens vs distinct types over 20 corpus slices, first-occurrence aggregation",
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |  FROM documents),
      |mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS nd FROM documents),
      |tb AS (SELECT CAST((doc_id * 20) // nd AS BIGINT) AS bucket, term FROM tok, mx),
      |per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_toks FROM tb GROUP BY bucket),
      |fb AS (SELECT term, min(bucket) AS fb FROM tb GROUP BY term),
      |nv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_terms FROM fb GROUP BY fb)
      |SELECT bucket,
      |  CAST(sum(n_toks) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(sum(coalesce(new_terms, 0)) OVER w AS BIGINT) AS cum_vocab
      |FROM per LEFT JOIN nv USING (bucket)
      |WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val mx = Tables.documents(s, d)
      .agg((max(col("doc_id")) + 1L).as("nd"))
    val tb = tok.crossJoin(broadcast(mx))
      .select(expr("(doc_id * 20) div nd").as("bucket"), col("term"))
    val per = tb.groupBy(col("bucket")).agg(count(lit(1)).as("n_toks"))
    val nv = tb.groupBy(col("term")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
    // the cumulative window runs on the 20-row bucket spine only
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.join(nv, Seq("bucket"), "left_outer")
      .select(col("bucket"),
        sum(col("n_toks")).over(w).as("cum_tokens"),
        sum(coalesce(col("new_terms"), lit(0L))).over(w).as("cum_vocab"))
      .orderBy(col("bucket"))
  }

  /** Readability gating — Flesch–Kincaid grade per document,
    * aggregated per language: the curation filter that catches text
    * too simple (boilerplate lists) or too complex (OCR garbage) for
    * a pretraining mix, next to q29's surface-quality score. Syllables
    * are approximated as `[aeiouy]+` vowel groups per token — the
    * standard cheap estimator, identical regex semantics in both
    * engines; sentence count is `max(1, #'.' tokens)` so the formula
    * stays defined on this punctuation-free corpus. Per-doc grade is
    * ONE fixed-shape double of three exact integers floored to
    * micro-grades; the per-language mean floors the exact LONG sum
    * over n (floor-of-double — portable where integer `div` is not,
    * because summed grades can be negative and Spark truncates where
    * DuckDB floors).
    */
  val q171Readability = QueryDef(
    "q171_readability",
    "Flesch-Kincaid readability per language: vowel-group syllables, integer micro-grades, floored mean",
    """WITH d AS (SELECT lang, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |           FROM documents),
      |m AS (SELECT lang,
      |        CAST(len(w) AS BIGINT) AS nw,
      |        CAST(list_sum(list_transform(w, t -> len(regexp_extract_all(t, '[aeiouy]+')))) AS BIGINT) AS syl,
      |        greatest(CAST(1 AS BIGINT), CAST(len(list_filter(w, t -> t = '.')) AS BIGINT)) AS ns
      |      FROM d WHERE len(w) > 0),
      |fk AS (SELECT lang,
      |         CAST(floor(1000000.0 * (0.39 * (CAST(nw AS DOUBLE) / ns)
      |                                + 11.8 * (CAST(syl AS DOUBLE) / nw) - 15.59)) AS BIGINT) AS fk_micro
      |       FROM m)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(floor(CAST(sum(fk_micro) AS DOUBLE) / count(*)) AS BIGINT) AS avg_fk_micro,
      |  CAST(min(fk_micro) AS BIGINT) AS min_fk_micro,
      |  CAST(max(fk_micro) AS BIGINT) AS max_fk_micro
      |FROM fk GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val m = Tables.documents(s, d)
      .select(col("lang"), toks(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("lang"),
        size(col("w")).cast("long").as("nw"),
        aggregate(col("w"), lit(0L),
          (a, t) => a + size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))))
          .as("syl"),
        greatest(lit(1L),
          size(filter(col("w"), t => t === ".")).cast("long")).as("ns"))
    val fk = m.select(col("lang"),
      floor(lit(1000000.0) * (lit(0.39) * (col("nw").cast("double") / col("ns"))
        + lit(11.8) * (col("syl").cast("double") / col("nw")) - lit(15.59)))
        .cast("long").as("fk_micro"))
    fk.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        floor(sum(col("fk_micro")).cast("double") / count(lit(1)))
          .cast("long").as("avg_fk_micro"),
        min(col("fk_micro")).as("min_fk_micro"),
        max(col("fk_micro")).as("max_fk_micro"))
      .orderBy(col("lang"))
  }

  /** Language-label confusion audit — the label-error detector: cross-
    * tabulate the RECORDED `lang` column against q30's stopword-
    * profile prediction and report each cell's share of its recorded-
    * language row. An off-diagonal cell with a large share is either
    * a mislabeled shard or a drifting detector — both things a
    * curation pipeline must catch before per-language sampling trusts
    * the labels. One corpus scan (the per-doc scoring is row-local),
    * one (lang, pred) partial-aggregable shuffle, a broadcast join
    * back to the ≤|langs| totals; shares are exact integer bp.
    */
  val q172LangConfusion = QueryDef(
    "q172_lang_confusion",
    "recorded-vs-detected language confusion matrix with per-recorded-lang shares in bp",
    s"""WITH p AS (
      |  SELECT lang,
      |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |         WHEN s_de >= s_fr THEN 'de'
      |         ELSE 'fr' END AS pred_lang
      |  FROM (
      |    SELECT lang,
      |      len(list_filter(w, t -> t IN ${sqlList(LangProfiles(0)._2)})) AS s_en,
      |      len(list_filter(w, t -> t IN ${sqlList(LangProfiles(1)._2)})) AS s_es,
      |      len(list_filter(w, t -> t IN ${sqlList(LangProfiles(2)._2)})) AS s_de,
      |      len(list_filter(w, t -> t IN ${sqlList(LangProfiles(3)._2)})) AS s_fr
      |    FROM (SELECT lang, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |          FROM documents))),
      |c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      |      FROM p GROUP BY lang, pred_lang),
      |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY lang)
      |SELECT c.lang, c.pred_lang, c.n,
      |  (10000 * c.n) // t.total AS share_bp
      |FROM c JOIN t ON t.lang = c.lang
      |ORDER BY c.lang, c.pred_lang""".stripMargin) { (s, d) =>
    val scored = Tables.documents(s, d)
      .select(col("lang"), toks(col("text")).as("w"))
      .select(col("lang") +: LangProfiles.map { case (l, ws) =>
        size(filter(col("w"), t => t.isin(ws: _*))).as(s"s_$l")
      }: _*)
    val p = scored.select(col("lang"),
      when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
        col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
        .when(col("s_de") >= col("s_fr"), "de")
        .otherwise("fr").as("pred_lang"))
    val c = p.groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val t = c.groupBy(col("lang")).agg(sum(col("n")).as("total"))
    c.join(broadcast(t), "lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("(10000 * n) div total").as("share_bp"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** PMI collocation mining — the multi-word-expression detector a
    * tokenizer/vocab pipeline runs before merging phrases ("new york",
    * "machine learning") into single units: bigrams whose observed
    * frequency beats the independence expectation. Ranking uses the
    * exact integer LIFT in ppm,
    *
    *   lift_ppm = c(xy)·N·10⁶ div (c(x)·c(y)),
    *
    * which orders identically to PMI = ln(lift/10⁶) (ln is monotone)
    * without touching the transcendental-portability trap the memo's
    * tolerance class documents — the cross-engine contract stays
    * hash-exact. Products run in DECIMAL(38,0) (DuckDB HUGEINT): at
    * web scale c(x)·c(y) alone passes 2⁶³. The ≥5 min-count filter
    * (the standard collocation support floor) prunes the bigram tail
    * BEFORE the unigram joins.
    *
    * Scale shape: one scan → per-doc windowed bigram pairing (no
    * global window), one (x,y) partial-aggregable count shuffle, two
    * token-keyed joins against the vocabulary-sized unigram relation,
    * one broadcast scalar for N, and a TakeOrdered top-50 — nothing
    * corpus-sized is sorted or collected.
    */
  val q187PmiCollocations = QueryDef(
    "q187_pmi_collocations",
    "PMI collocations: top-50 bigrams by exact-integer lift over independence (min count 5)",
    """WITH ws AS (SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |           FROM documents),
      |tok AS (SELECT unnest(w) AS t FROM ws),
      |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
      |b0 AS (SELECT w, unnest(range(1, len(w))) AS i FROM ws),
      |bg AS (SELECT w[CAST(i AS INT)] AS t1, w[CAST(i AS INT) + 1] AS t2 FROM b0),
      |bigc AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cxy
      |         FROM bg GROUP BY t1, t2),
      |nb AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM bigc)
      |SELECT t1, t2, cxy,
      |  CAST(CAST(cxy AS HUGEINT) * n * 1000000
      |       // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm
      |FROM bigc, nb
      |JOIN uni u1 ON u1.t = bigc.t1
      |JOIN uni u2 ON u2.t = bigc.t2
      |WHERE cxy >= 5
      |ORDER BY lift_ppm DESC, t1, t2
      |LIMIT 50""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
    // bigrams map-side (Ngrams.bigrams, round 17): the historical
    // window-lead form shuffled the whole token stream; now both uni
    // and bigc shuffle aggregated partials only
    val bigc = graft.functions.Ngrams.bigrams(Tables.documents(s, d))
      .select(col("t").as("t1"), col("t1").as("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("cxy"))
    val nb = bigc.agg(sum(col("cxy")).as("n"))
    bigc.filter(col("cxy") >= 5)
      .join(uni.select(col("t").as("t1"), col("c").as("c1")), "t1")
      .join(uni.select(col("t").as("t2"), col("c").as("c2")), "t2")
      .crossJoin(broadcast(nb))
      .select(col("t1"), col("t2"), col("cxy"),
        expr("cast(cast(cxy as decimal(38,0)) * n * 1000000L" +
          " div (cast(c1 as decimal(38,0)) * c2) as bigint)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("t1"), col("t2"))
      .limit(50)
  }

  /** Multinomial Naive Bayes language classifier — TRAINED IN-ENGINE
    * (the fastText/CCNet-style learned filter, vs q30's fixed
    * stopword heuristic and q172's fixed scoring): fit per-class
    * token log-probabilities with Laplace smoothing on the even-
    * doc_id half of the corpus, then score every held-out (odd) doc
    * and emit its argmax class. The full fit→apply split a curation
    * pipeline runs, not resubstitution.
    *
    * Exactness: all counts are integers; each log-prob is fixed-point
    * MICROS (floor(1e6·ln((c+1)/(T_lang+V))), the q121 idiom with its
    * documented ~1-ulp `ln` caveat), so per-(doc, class) scores are
    * INTEGER sums — partial-aggregable, partitioning-invariant — and
    * the argmax is deterministic with the (score desc, lang asc)
    * tiebreak. Held-out tokens absent from the training vocabulary
    * are ignored (the standard OOV convention; an inner join drops
    * them identically in both engines).
    *
    * Scale shape: the model is VOCAB×CLASSES-bounded (one token-
    * stream aggregate + a vocab×class grid via a 5-row broadcast);
    * scoring is one token-stream⋈model equi join (AQE broadcasts the
    * model when it fits) + one partial-aggregable (doc, class) sum +
    * a 5-row-per-doc max_by — never a per-doc window over the corpus.
    */
  /** Memoized held-out Naive-Bayes score matrix (doc_id, lang=class,
    * score_micro) — the q199 model (fit on even doc_ids, Laplace-
    * smoothed micro log-probs) scored over the odd held-out docs,
    * shared by q199's argmax accuracy read and q248's confident-
    * learning label-noise audit so the fit + score join is paid once
    * per (session, corpus).
    */
  private[graft] def nbScores(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.SessionMemo.getOrCompute(s, "text.nbscores:" + d) {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(toks(col("text"))).as("t"))
      val trtok = tok.filter(col("doc_id") % 2 === 0)
      val cls = docs.filter(col("doc_id") % 2 === 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = docs.filter(col("doc_id") % 2 === 0)
        .agg(count(lit(1)).as("n_all"))
      val cnt = trtok.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c"))
      val ltot = cnt.groupBy(col("lang")).agg(sum(col("c")).as("tc"))
      val voc = trtok.agg(countDistinct(col("t")).as("v"))
      // vocab × classes grid via a 5-row broadcast (never a cartesian
      // of two data-sized relations)
      val grid = trtok.select(col("t")).distinct()
        .crossJoin(broadcast(cls.select(col("lang"))))
      val lp = grid
        .join(ltot, "lang")
        .crossJoin(broadcast(voc))
        .join(cnt, Seq("lang", "t"), "left_outer")
        .select(col("t"), col("lang"),
          floor(lit(1000000.0) *
            log((coalesce(col("c"), lit(0L)) + lit(1.0)) / (col("tc") + col("v"))))
            .cast("long").as("lp"))
      val pri = cls.crossJoin(broadcast(tot))
        .select(col("lang"),
          floor(lit(1000000.0) * log(col("n_docs").cast("double") / col("n_all")))
            .cast("long").as("prior"))
      // drop the true label before scoring: `lang` below is the CLASS
      // dimension from the model, not the document's label
      tok.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("t"))
        .join(lp, "t")
        .join(broadcast(pri), "lang")
        .groupBy(col("doc_id"), col("lang"))
        .agg((sum(col("lp")) + first(col("prior"))).as("score"))
        .localCheckpoint()
    }

  val q199NaiveBayesLangid = QueryDef(
    "q199_naive_bayes_langid",
    "multinomial Naive Bayes lang classifier: Laplace-smoothed micro log-probs fit on even docs, argmax scoring of held-out odd docs",
    """WITH w AS (SELECT doc_id, lang,
      |         list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |       FROM documents),
      |tok AS (SELECT doc_id, lang, unnest(w) AS t FROM w),
      |trtok AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
      |cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all
      |        FROM documents WHERE doc_id % 2 = 0),
      |cnt AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
      |        FROM trtok GROUP BY lang, t),
      |ltot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM cnt GROUP BY lang),
      |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM trtok),
      |grid AS (SELECT vt.t, c.lang
      |         FROM (SELECT DISTINCT t FROM trtok) vt CROSS JOIN (SELECT lang FROM cls) c),
      |lp AS (SELECT g.t, g.lang,
      |         CAST(floor(1000000.0 * ln((coalesce(cnt.c, 0) + 1.0) / (ltot.tc + voc.v))) AS BIGINT) AS lp
      |       FROM grid g JOIN ltot ON ltot.lang = g.lang CROSS JOIN voc
      |       LEFT JOIN cnt ON cnt.lang = g.lang AND cnt.t = g.t),
      |pri AS (SELECT cls.lang,
      |          CAST(floor(1000000.0 * ln(CAST(cls.n_docs AS DOUBLE) / tot.n_all)) AS BIGINT) AS prior
      |        FROM cls CROSS JOIN tot),
      |sc AS (SELECT tok.doc_id, lp.lang,
      |         CAST(sum(lp.lp) AS BIGINT) + any_value(pri.prior) AS score
      |       FROM tok JOIN lp ON lp.t = tok.t JOIN pri ON pri.lang = lp.lang
      |       WHERE tok.doc_id % 2 = 1
      |       GROUP BY tok.doc_id, lp.lang),
      |pred AS (SELECT doc_id, lang AS pred, score,
      |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      |         FROM sc)
      |SELECT d.doc_id, d.lang, p.pred, p.score AS score_micro,
      |  CAST(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM documents d JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sc = nbScores(s, d)
    // argmax with (score desc, lang asc) tiebreak: min_by over the
    // (−score, lang) key — the string class can't be negated, so the
    // whole ordering is inverted instead (the q192 argmax convention)
    val pred = sc.groupBy(col("doc_id"))
      .agg(min_by(struct(col("lang").as("pred"), col("score")),
        struct((-col("score")).as("ns"), col("lang"))).as("m"))
    docs.join(pred, "doc_id")
      .select(col("doc_id"), col("lang"), col("m.pred").as("pred"),
        col("m.score").as("score_micro"),
        when(col("m.pred") === col("lang"), 1L).otherwise(0L).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Distinctive-terms profiling — Monroe/Colaresi/Quinn-style
    * smoothed LOG-ODDS of each term's rate in a source vs the rest of
    * the corpus: the "what makes this feed different" read that raw
    * per-source top terms (dominated by corpus-wide stopwords) and
    * per-doc TF-IDF (q55) don't give. Per (source, term):
    *
    *   δ = ln( (c_sv+1)·(N−n_s+V) / ((n_s+V)·(c_v−c_sv+1)) )
    *
    * — the +1-smoothed odds of the term in-source against
    * out-of-source, as ONE double ratio of exact longs, micro-floored
    * (the q121 integer-ln convention), so ranking and the hash gate
    * are deterministic. Top-5 per source, ties by term.
    *
    * Scale shape: two partial-aggregable token aggregates ((source,
    * term) and term) + three broadcast scalars; per-source top-5 via
    * the scale-safe grouped ranking ([[graft.api.Ranking.withRank]] —
    * range partition + K-row offsets, never a corpus-wide
    * PARTITION BY window funneling one reducer per source).
    */
  val q217SourceSaliency = QueryDef(
    "q217_source_saliency",
    "distinctive terms per source: smoothed log-odds vs rest-of-corpus (integer micro), scale-safe top-5 per source",
    """WITH tok AS (
      |  SELECT source, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |  FROM documents),
      |sv AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c_sv
      |       FROM tok GROUP BY source, term),
      |cv AS (SELECT term, CAST(count(*) AS BIGINT) AS c_v FROM tok GROUP BY term),
      |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM tok GROUP BY source),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(count(DISTINCT term) AS BIGINT) AS v FROM tok),
      |sc AS (SELECT sv.source, sv.term, sv.c_sv,
      |         CAST(floor(1000000.0 * ln(
      |           CAST((sv.c_sv + 1) * (g.n - ns.n_s + g.v) AS DOUBLE) /
      |           CAST((ns.n_s + g.v) * (cv.c_v - sv.c_sv + 1) AS DOUBLE)))
      |           AS BIGINT) AS delta_micro
      |       FROM sv JOIN cv USING (term) JOIN ns USING (source) CROSS JOIN g),
      |rk AS (SELECT source, term, c_sv, delta_micro,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY delta_micro DESC, term) AS rn
      |       FROM sc)
      |SELECT source, CAST(rn AS BIGINT) AS rn, term, c_sv, delta_micro
      |FROM rk WHERE rn <= 5
      |ORDER BY source, rn""".stripMargin) { (s, d) =>
    // ONE corpus scan: the (source, term) counts are the finest
    // statistic — cv/ns/g all DERIVE from the vocab×sources-bounded
    // sv relation (persisting the raw exploded token stream instead
    // read 3.5× on the 10× ladder; this shape is scan-bound)
    val sv = graft.AutoUnpersist.scoped(Tables.documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c_sv")))
    val cv = sv.groupBy(col("term")).agg(sum(col("c_sv")).as("c_v"))
    val ns = sv.groupBy(col("source")).agg(sum(col("c_sv")).as("n_s"))
    val g = sv.agg(sum(col("c_sv")).as("n"), countDistinct(col("term")).as("v"))
    // sc feeds the bounded top-5 aggregate AND the c_sv re-fetch join
    // below — persist for the query's scope
    val sc = graft.AutoUnpersist.scoped(
      sv.join(cv, "term").join(ns, "source").crossJoin(broadcast(g))
        .select(col("source"), col("term"), col("c_sv"),
          floor(lit(1000000.0) * log(
            ((col("c_sv") + 1L) * (col("n") - col("n_s") + col("v"))).cast("double") /
            ((col("n_s") + col("v")) * (col("c_v") - col("c_sv") + 1L)).cast("double")))
            .cast("long").as("delta_micro")))
    // per-source top-5 via the BOUNDED top-k aggregate with string
    // ids (guide §2.4): one partial-aggregable groupBy — ≤ 5
    // pairs of state per (partition, source) — replaces the
    // range-repartition ranking machinery (range exchange + pid
    // window + boundary-offset broadcast join, ~6 stages). delta fits
    // a double exactly (|delta_micro| ≪ 2⁵³), and (score DESC, term
    // ASC binary UTF-8) is exactly the replaced row_number order; the
    // 5·|sources| winners re-fetch c_sv on a broadcast equi join.
    graft.plans.GraftFunctions.register(s)
    val winners = sc.groupBy(col("source"))
      .agg(graft.plans.GraftFunctions.topkByScore(
        col("delta_micro").cast("double"), col("term"), 5).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1L).as("rn"),
        col("e.id").as("term"))
    sc.join(broadcast(winners), Seq("source", "term"))
      .select(col("source"), col("rn"), col("term"), col("c_sv"),
        col("delta_micro"))
      .orderBy(col("source"), col("rn"))
  }

  /** ZIPF-law fit — the corpus-health diagnostic next to q117's
    * Heaps-style vocab growth: natural text has token frequencies
    * ∝ rank^(−s) with s ≈ 1; a far-off exponent flags synthetic,
    * boilerplate-heavy, or truncated-vocabulary corpora before
    * training sees them. Fits ln(freq) on ln(rank) by OLS over the
    * whole vocabulary.
    *
    * Exactness: ranks are integers (ties by term — total), both logs
    * are micro-floored integers (the q121 convention), and the OLS
    * slope numerator/denominator are EXACT DECIMAL(38,0) sums (micro²
    * products overflow BIGINT at production vocab sizes — the q194
    * HUGEINT-sum lesson); only the final ratio converts to double
    * (identically on both engines) for the micro-floored slope.
    *
    * Scale shape: one token aggregate → vocab-bounded relation; the
    * rank is the scale-safe [[graft.api.Ranking.withRank]]; the fit
    * is one partial-aggregable 5-sum aggregate. Nothing collects.
    */
  val q222ZipfFit = QueryDef(
    "q222_zipf_fit",
    "Zipf exponent of the token frequency distribution: exact-decimal OLS of ln(freq) on ln(rank), micro units",
    """WITH tok AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |  FROM documents),
      |cv AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
      |rk AS (SELECT term, c,
      |         row_number() OVER (ORDER BY c DESC, term) AS r FROM cv),
      |xy AS (SELECT CAST(floor(1000000.0 * ln(r)) AS BIGINT) AS x,
      |              CAST(floor(1000000.0 * ln(c)) AS BIGINT) AS y
      |       FROM rk),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CAST(x AS HUGEINT)) AS DECIMAL(38,0)) AS sx,
      |        CAST(sum(CAST(y AS HUGEINT)) AS DECIMAL(38,0)) AS sy,
      |        CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
      |        CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx
      |      FROM xy),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
      |SELECT s.n AS vocab, tt.n_tokens,
      |  CAST(floor(1000000.0 *
      |    (CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE) /
      |     CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE))) AS BIGINT) AS slope_micro
      |FROM s CROSS JOIN tt""".stripMargin) { (s, d) =>
    // one corpus scan: the vocab counts are the finest statistic and
    // the corpus total derives from them (vocab-bounded relation)
    val cv = graft.AutoUnpersist.scoped(Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c")))
    val rk = graft.api.Ranking.withRank(cv, Seq.empty,
      Seq(col("c").desc, col("term")), rankCol = "r")
    val xy = rk.select(
      floor(lit(1000000.0) * log(col("r").cast("double"))).cast("long").as("x"),
      floor(lit(1000000.0) * log(col("c").cast("double"))).cast("long").as("y"))
    val sums = xy.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x").cast("decimal(38,0)") * col("y"))).as("sxy"),
      sum((col("x").cast("decimal(38,0)") * col("x"))).as("sxx"))
    // coalesce: the twin's count(*) reads 0 on an empty corpus where
    // sum() reads NULL
    val tt = cv.agg(coalesce(sum(col("c")), lit(0L)).as("n_tokens"))
    sums.crossJoin(broadcast(tt))
      .select(col("n").as("vocab"), col("n_tokens"),
        floor(lit(1000000.0) *
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
           (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .cast("long").as("slope_micro"))
  }

  /** Within-document code-switch segmentation — the per-WINDOW
    * refinement of q30's per-doc language ID: a document is cut into
    * fixed 10-token windows, each window language-ID'd by the same
    * stopword-profile argmax, and the doc summarized by its window-
    * language sequence (window count, switch count, distinct
    * languages, dominant language + share). Multilingual curation
    * needs this because per-doc lang ID silently mislabels mixed
    * documents — a 60/40 en/es doc is neither, and both the
    * mixing-ratio audit (route to a bitext pipeline) and the
    * quality gate (drop heavy switchers) key off the WINDOW
    * sequence, not the doc argmax.
    *
    * Scale shape: entirely map-side — tokenize, window, score, and
    * summarize are higher-order functions over the token array of
    * one row (the q27 no-explode idiom), so the plan is scan →
    * project → sort; ZERO shuffles before the output order. Window
    * scoring is O(tokens · |profiles|) per doc, independent of
    * corpus size.
    *
    * Determinism: window count ⌈n/10⌉ and all shares are exact
    * integers; window/dominant argmax ties break on the fixed
    * en→es→de→fr priority exactly like q30; the switch count guards
    * nw=1 explicitly because Spark's `sequence(2, 1)` DESCENDS
    * where DuckDB's `range(2, 2)` is empty.
    */
  val q239CodeSwitch = QueryDef(
    "q239_code_switch",
    "within-doc code-switching audit: 10-token windows language-ID'd, switch count + dominant-language share per doc",
    s"""WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |            FROM documents),
      |d AS (SELECT doc_id, w, CAST((len(w) + 9) // 10 AS BIGINT) AS nw
      |      FROM w0 WHERE len(w) > 0),
      |l AS (SELECT doc_id, nw,
      |  list_transform(range(0, nw), g ->
      |    CASE WHEN len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(0)._2)}))
      |              >= len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(1)._2)}))
      |         AND len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(0)._2)}))
      |              >= len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(2)._2)}))
      |         AND len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(0)._2)}))
      |              >= len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(3)._2)})) THEN 'en'
      |         WHEN len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(1)._2)}))
      |              >= len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(2)._2)}))
      |         AND len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(1)._2)}))
      |              >= len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(3)._2)})) THEN 'es'
      |         WHEN len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(2)._2)}))
      |              >= len(list_filter(list_slice(w, g*10+1, g*10+10), t -> t IN ${sqlList(LangProfiles(3)._2)})) THEN 'de'
      |         ELSE 'fr' END) AS langs
      |  FROM d),
      |c AS (SELECT doc_id, nw, langs,
      |        CAST(CASE WHEN nw <= 1 THEN 0
      |             ELSE len(list_filter(range(2, nw + 1), i -> langs[i] <> langs[i-1])) END AS BIGINT) AS n_switches,
      |        CAST(len(list_distinct(langs)) AS BIGINT) AS n_langs,
      |        CAST(len(list_filter(langs, x -> x = 'en')) AS BIGINT) AS c_en,
      |        CAST(len(list_filter(langs, x -> x = 'es')) AS BIGINT) AS c_es,
      |        CAST(len(list_filter(langs, x -> x = 'de')) AS BIGINT) AS c_de,
      |        CAST(len(list_filter(langs, x -> x = 'fr')) AS BIGINT) AS c_fr
      |      FROM l)
      |SELECT doc_id, nw AS n_windows, n_switches, n_langs,
      |  CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
      |       WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
      |       WHEN c_de >= c_fr THEN 'de'
      |       ELSE 'fr' END AS dom_lang,
      |  (10000 * greatest(c_en, c_es, c_de, c_fr)) // nw AS dom_share_bp
      |FROM c
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    def winCount(sw: Column, ws: Seq[String]): Column =
      size(filter(sw, t => t.isin(ws: _*))).cast("long")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("nw", expr("(size(w) + 9) div 10").cast("long"))
    val withLangs = base.withColumn("langs",
      transform(sequence(lit(0L), col("nw") - 1), g => {
        val sw = slice(col("w"), (g * 10 + 1).cast("int"), lit(10))
        val Seq(en, es, de, fr) = LangProfiles.map { case (_, ws) => winCount(sw, ws) }
        when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr")
      }))
    val counted = withLangs.select(
      col("doc_id"), col("nw"),
      when(col("nw") <= 1, lit(0L))
        .otherwise(size(filter(sequence(lit(2L), col("nw")),
          i => element_at(col("langs"), i.cast("int")) =!=
            element_at(col("langs"), (i - 1).cast("int")))).cast("long"))
        .as("n_switches"),
      size(array_distinct(col("langs"))).cast("long").as("n_langs"),
      size(filter(col("langs"), x => x === "en")).cast("long").as("c_en"),
      size(filter(col("langs"), x => x === "es")).cast("long").as("c_es"),
      size(filter(col("langs"), x => x === "de")).cast("long").as("c_de"),
      size(filter(col("langs"), x => x === "fr")).cast("long").as("c_fr"))
    counted.select(col("doc_id"), col("nw").as("n_windows"),
        col("n_switches"), col("n_langs"),
        when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") &&
          col("c_en") >= col("c_fr"), "en")
          .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr"), "es")
          .when(col("c_de") >= col("c_fr"), "de")
          .otherwise("fr").as("dom_lang"),
        expr("(10000 * greatest(c_en, c_es, c_de, c_fr)) div nw")
          .as("dom_share_bp"))
      .orderBy(col("doc_id"))
  }

  /** Pairwise source-distribution divergence — the lexical
    * similarity matrix a mixture designer reads before weighting
    * sources (q88/q133 set the WEIGHTS; this says which sources are
    * statistically redundant vs complementary): Jensen–Shannon
    * divergence between every two sources' unigram distributions.
    * JSD (symmetric, bounded by ln 2, defined on disjoint supports)
    * is the standard corpus-comparison divergence where raw KL blows
    * up on any token one side lacks. Distinct from q173 (doc-HASH
    * overlap — near-identical documents) and q153 (PSI on one
    * metric): two sources can share zero documents yet be lexically
    * interchangeable, and that redundancy is exactly what this
    * surfaces.
    *
    * Scale shape: ONE (source, token) partial-aggregable shuffle off
    * the corpus scan; everything after lives on the vocab×|sources|
    * dense grid (vocabulary-bounded metadata, NOT corpus-bounded) —
    * the pair stage is |sources|²·|vocab| rows of integers. Totals
    * ride a broadcast.
    *
    * Determinism: per-(pair, token) JSD terms floor to integer
    * MICROS — IEEE double ratio + `ln` on identical spelled
    * expressions (the q121 micro-log convention, hash-proven at
    * three scales) — so the per-pair sums are order-independent
    * integer adds.
    */
  val q242SourceDivergence = QueryDef(
    "q242_source_divergence",
    "pairwise Jensen-Shannon divergence between source unigram distributions (integer micros, vocab-bounded grid)",
    """WITH cv AS (SELECT source, t AS token, CAST(count(*) AS BIGINT) AS c
      |            FROM (SELECT source, unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS t
      |                  FROM documents)
      |            GROUP BY source, t),
      |tok AS (SELECT DISTINCT token FROM cv),
      |src AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM cv GROUP BY source),
      |grid AS (SELECT s.source, s.t, tok.token, coalesce(cv.c, 0) AS c
      |         FROM src s CROSS JOIN tok
      |         LEFT JOIN cv ON cv.source = s.source AND cv.token = tok.token),
      |pair AS (SELECT a.source AS src_a, b.source AS src_b,
      |           CAST(a.c AS DOUBLE) / a.t AS pa, CAST(b.c AS DOUBLE) / b.t AS pb,
      |           a.c AS ca, b.c AS cb
      |         FROM grid a JOIN grid b ON a.token = b.token AND a.source < b.source
      |         WHERE a.c + b.c > 0),
      |term AS (SELECT src_a, src_b, ca, cb,
      |           CAST(floor(1000000.0 * (
      |             (CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END
      |            + CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END) / 2.0)) AS BIGINT) AS m
      |         FROM pair)
      |SELECT src_a, src_b,
      |  CAST(count(*) AS BIGINT) AS union_tokens,
      |  CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS shared_tokens,
      |  CAST(sum(m) AS BIGINT) AS jsd_micro
      |FROM term
      |GROUP BY src_a, src_b
      |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    // vocab×|sources|-bounded; feeds three branches — persist for the
    // query's scope so the corpus tokenization runs once
    val cv = graft.AutoUnpersist.scoped(Tables.documents(s, d)
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c")))
    val tok = cv.select(col("token")).distinct()
    val src = cv.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val grid = src.crossJoin(broadcast(tok))
      .join(cv, Seq("source", "token"), "left_outer")
      .select(col("source"), col("t"), col("token"),
        coalesce(col("c"), lit(0L)).as("c"))
    val a = grid.select(col("source").as("src_a"), col("t").as("ta"),
      col("token"), col("c").as("ca"))
    val b = grid.select(col("source").as("src_b"), col("t").as("tb"),
      col("token").as("token_b"), col("c").as("cb"))
    a.join(b, col("token") === col("token_b") && col("src_a") < col("src_b"))
      .filter(col("ca") + col("cb") > 0)
      .select(col("src_a"), col("src_b"), col("ca"), col("cb"),
        (col("ca").cast("double") / col("ta")).as("pa"),
        (col("cb").cast("double") / col("tb")).as("pb"))
      .select(col("src_a"), col("src_b"), col("ca"), col("cb"),
        floor(lit(1000000.0) * (
          (when(col("pa") > 0,
            col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))))
            .otherwise(lit(0.0)) +
           when(col("pb") > 0,
             col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
            .otherwise(lit(0.0))) / lit(2.0)))
          .cast("long").as("m"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("union_tokens"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
          .as("shared_tokens"),
        sum(col("m")).as("jsd_micro"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Confident-learning label-noise audit (Northcutt et al. 2021's
    * counting idea on the q199 classifier): a held-out document with
    * GIVEN label i is a noise CANDIDATE toward class j ≠ i when its
    * class-j score clears class j's self-confidence threshold — the
    * mean class-j score over documents actually labeled j. The
    * (given, predicted-confidently) grid is the estimated joint of
    * given vs true labels; its off-diagonal mass is the label-noise
    * rate a relabeling pass should budget for. The mean-threshold
    * comparison is kept EXACT INTEGER by cross-multiplying
    * (score·n_j ≥ Σ_j, both in decimal(38,0)) — no division, so no
    * truncate-vs-floor hazard on the negative log-scores.
    *
    * Scale shape: one read of the memoized [[nbScores]] matrix (paid
    * once with q199), a |classes|-row threshold aggregate broadcast
    * back, and a |classes|²-cell output aggregate — after the shared
    * score join, everything is class-grid metadata.
    */
  val q248LabelNoise = QueryDef(
    "q248_label_noise",
    "confident-learning label-noise audit: given-vs-confident class grid off the shared NB score matrix, integer cross-multiplied thresholds",
    """WITH w AS (SELECT doc_id, lang,
      |         list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |       FROM documents),
      |tok AS (SELECT doc_id, lang, unnest(w) AS t FROM w),
      |trtok AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
      |cls AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all
      |        FROM documents WHERE doc_id % 2 = 0),
      |cnt AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c
      |        FROM trtok GROUP BY lang, t),
      |ltot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM cnt GROUP BY lang),
      |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM trtok),
      |grid AS (SELECT vt.t, c.lang
      |         FROM (SELECT DISTINCT t FROM trtok) vt CROSS JOIN (SELECT lang FROM cls) c),
      |lp AS (SELECT g.t, g.lang,
      |         CAST(floor(1000000.0 * ln((coalesce(cnt.c, 0) + 1.0) / (ltot.tc + voc.v))) AS BIGINT) AS lp
      |       FROM grid g JOIN ltot ON ltot.lang = g.lang CROSS JOIN voc
      |       LEFT JOIN cnt ON cnt.lang = g.lang AND cnt.t = g.t),
      |pri AS (SELECT cls.lang,
      |          CAST(floor(1000000.0 * ln(CAST(cls.n_docs AS DOUBLE) / tot.n_all)) AS BIGINT) AS prior
      |        FROM cls CROSS JOIN tot),
      |sc AS (SELECT tok.doc_id, lp.lang,
      |         CAST(sum(lp.lp) AS BIGINT) + any_value(pri.prior) AS score
      |       FROM tok JOIN lp ON lp.t = tok.t JOIN pri ON pri.lang = lp.lang
      |       WHERE tok.doc_id % 2 = 1
      |       GROUP BY tok.doc_id, lp.lang),
      |hd AS (SELECT doc_id, lang AS given FROM documents WHERE doc_id % 2 = 1),
      |jj AS (SELECT sc.doc_id, sc.lang AS cls, sc.score, hd.given
      |       FROM sc JOIN hd ON hd.doc_id = sc.doc_id),
      |th AS (SELECT cls, CAST(sum(score) AS HUGEINT) AS sj,
      |              CAST(count(*) AS BIGINT) AS nj
      |       FROM jj WHERE cls = given GROUP BY cls),
      |cand AS (SELECT jj.given, jj.cls,
      |           CASE WHEN CAST(jj.score AS HUGEINT) * th.nj >= th.sj
      |                THEN 1 ELSE 0 END AS conf
      |         FROM jj JOIN th ON th.cls = jj.cls)
      |SELECT given AS lang_given, cls AS lang_pred,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(conf) AS BIGINT) AS n_confident,
      |  CAST(CASE WHEN given = cls THEN 0 ELSE sum(conf) END AS BIGINT) AS n_noise
      |FROM cand GROUP BY given, cls
      |ORDER BY given, cls""".stripMargin) { (s, d) =>
    val hd = Tables.documents(s, d)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang").as("given"))
    val jj = nbScores(s, d).select(col("doc_id"),
        col("lang").as("cls"), col("score"))
      .join(hd, "doc_id")
    val th = jj.filter(col("cls") === col("given"))
      .groupBy(col("cls"))
      .agg(sum(col("score")).cast("decimal(38,0)").as("sj"),
        count(lit(1)).as("nj"))
    jj.join(broadcast(th), "cls")
      .select(col("given"), col("cls"),
        when(col("score").cast("decimal(38,0)") * col("nj") >= col("sj"), 1L)
          .otherwise(0L).as("conf"))
      .groupBy(col("given"), col("cls"))
      .agg(count(lit(1)).as("n_docs"), sum(col("conf")).as("n_confident"))
      .select(col("given").as("lang_given"), col("cls").as("lang_pred"),
        col("n_docs"), col("n_confident"),
        when(col("given") === col("cls"), 0L)
          .otherwise(col("n_confident")).as("n_noise"))
      .orderBy(col("lang_given"), col("lang_pred"))
  }

  /** Per-document UNIGRAM ENTROPY — the compression-ratio proxy the
    * big curation pipelines threshold (a doc whose token distribution
    * compresses too well is templated/spammy boilerplate): order-0
    * Shannon entropy of the doc's own token distribution, H = ln n −
    * (Σ c·ln c)/n in micro-nats, plus the NORMALIZED efficiency
    * H / ln(v) in basis points (repetition signal independent of doc
    * length and vocabulary size — 10000 = every token distinct, 0 =
    * one token repeated). Complements q73's Gopher rules (top-gram
    * MASS — sensitive to one dominant gram) and q121/q204's LM scores
    * (cross-entropy under a corpus model — this is the doc's OWN
    * distribution, model-free): a lorem-ipsum cycler passes q73's
    * top-gram caps but its efficiency collapses here.
    *
    * Exactness: mln(x) = ⌊10⁶·ln x⌋ on INTEGER counts (the q121/q222
    * idiom — IEEE-identical both engines), Σ c·mln(c) is an exact
    * LONG sum (≤ n·mln(n) ≈ 2·10¹⁶ even at 10⁹-token docs), the per-
    * doc division is integer `div` on non-negatives (truncate ≡
    * floor), and eff_bp guards v = 1 with an explicit CASE (mln(1) =
    * 0 — DuckDB raises on integer //0 where Spark returns NULL). keep
    * = efficiency ≥ 5000 bp (half the achievable entropy).
    * Shared-ulp assumption (the q121/q222 idiom's stated risk): ⌊10⁶·
    * ln x⌋ agrees across engines only because JVM `Math.log` and
    * DuckDB's libm `ln` both stay within 1 ulp of true; an integer
    * count whose 10⁶·ln(c) lands within ~1 ulp of an integer boundary
    * could flip h_micro/eff_bp by 1 between engines. No fuzz cell has
    * tripped it across q121/q222/q253; if one ever does, gate the
    * compare at ±1 micro-nat rather than abandoning the integer form.
    *
    * Scale shape: one (doc_id, term) partial-aggregable count — the
    * wordcount shuffle keyed by doc — then one doc-keyed aggregate;
    * both map-side combine, nothing corpus-sized crosses unreduced,
    * no window, no join. At 100 TB this is exactly the wordcount
    * plan with a composite key.
    */
  val q253UnigramEntropy = QueryDef(
    "q253_unigram_entropy",
    "per-doc order-0 token entropy (micro-nats) + normalized efficiency bp: the compression-proxy quality gate",
    """WITH tc AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id,
      |      unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |per AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v,
      |    CAST(sum(c * CAST(floor(1000000.0 * ln(c)) AS BIGINT)) AS BIGINT) AS s
      |  FROM tc GROUP BY doc_id),
      |h AS (
      |  SELECT doc_id, n, v,
      |    CAST(floor(1000000.0 * ln(n)) AS BIGINT) - s // n AS h_micro,
      |    CASE WHEN v > 1 THEN
      |      (10000 * (CAST(floor(1000000.0 * ln(n)) AS BIGINT) - s // n))
      |        // CAST(floor(1000000.0 * ln(v)) AS BIGINT)
      |    END AS eff_bp
      |  FROM per)
      |SELECT doc_id, n AS n_tokens, v AS vocab, h_micro, eff_bp,
      |  coalesce(eff_bp >= 5000, false) AS keep
      |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
    def mln(c: Column): Column =
      floor(lit(1000000.0) * log(c.cast("double"))).cast("long")
    // doc shuffle before the explode: parallel tokenization AND
    // doc_id clustering pre-satisfies both per-doc aggregates
    val tc = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val per = tc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n"), count(lit(1)).as("v"),
      sum(col("c") * mln(col("c"))).as("s"))
    per
      .withColumn("mln_v", mln(col("v")))
      .withColumn("h_micro", mln(col("n")) - expr("s div n"))
      // h_micro ≥ 0 by construction (s div n ≤ ⌊10⁶·ln n⌋), so the
      // truncating div equals DuckDB's flooring // on every input
      .withColumn("eff_bp",
        when(col("v") > 1, expr("(10000 * h_micro) div mln_v")))
      .select(col("doc_id"), col("n").as("n_tokens"), col("v").as("vocab"),
        col("h_micro"), col("eff_bp"),
        coalesce(col("eff_bp") >= 5000L, lit(false)).as("keep"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryDef] = Seq(
    q27TokenStats, q28LangStats, q29QualityScore, q30Langid,
    q31Fingerprint, q32NgramStats, q55Tfidf, q66BpeTokens, q96Textrank,
    q117VocabGrowth, q171Readability, q172LangConfusion,
    q187PmiCollocations, q199NaiveBayesLangid, q217SourceSaliency,
    q222ZipfFit, q239CodeSwitch, q242SourceDivergence, q248LabelNoise,
    q253UnigramEntropy)
}
