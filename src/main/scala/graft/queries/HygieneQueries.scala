package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Training-data hygiene operators — the curation steps a large-scale
  * LLM-data pipeline runs between raw scrape and training shard
  * (north-star "text analysis"/"dedup" family, pipeline side):
  * benchmark decontamination, repetition-based quality filtering
  * (Gopher-style rules), and PII redaction. Each is a single scan plus
  * at most one hash-shuffle aggregate or broadcast join, so every plan
  * survives a 1000-executor 100 TB corpus unchanged.
  */
object HygieneQueries {

  /** Corpus tokenizer — identical contract to TextAnalysisQueries:
    * the synthetic corpus is single-space separated, so a split on
    * ' ' with empties dropped equals DuckDB `string_split(text,' ')`
    * filtered the same way.
    */
  private def toks(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Word trigrams, built MAP-SIDE from the token array
    * ([[graft.functions.Ngrams.trigrams]] — zipped shifted slices,
    * plain codegen projection; round 17). The historical window-`lead`
    * form shuffled and sorted the entire exploded token stream first;
    * now only the DOCUMENTS rows shuffle (by doc_id, which also
    * pre-satisfies the consumers' per-doc aggregates — q72/q118 group
    * by doc_id — and spreads the per-token work off a single-file
    * scan).
    */
  private def trigrams(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sp = docs.sparkSession.sparkContext.defaultParallelism
    graft.functions.Ngrams.trigrams(docs.repartition(sp, col("doc_id")))
      .select(col("doc_id"), concat_ws(" ", col("t"), col("t1"), col("t2")).as("g"))
  }

  /** Benchmark decontamination — the n-gram-overlap check every
    * training pipeline runs against its eval sets (the GPT-3/PaLM
    * 13-gram recipe; this corpus's ~31-word vocabulary makes 3-grams
    * the discriminative window, documented deviation). A deterministic
    * slice of the corpus (doc_id % 20 = 7) plays the benchmark; its
    * DISTINCT trigrams are broadcast (eval sets are bounded — MMLU+
    * friends are ~1e6 n-grams, far under the broadcast threshold at
    * any corpus scale), and one left join + per-doc aggregate scores
    * every training doc. No shuffle touches the corpus beyond the
    * per-doc aggregate; ratios are integer basis points
    * (floor(10000·k/n)) — bit-identical in both engines, immune to
    * the round() decimal-tie divergence.
    */
  val q72Decontamination = QueryDef(
    "q72_decontamination",
    "benchmark decontamination: trigram overlap vs held-out eval slice, per-doc hit stats",
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |  FROM w),
      |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 7),
      |train AS (SELECT doc_id, g FROM g WHERE doc_id % 20 <> 7)
      |SELECT t.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_ngrams,
      |  CAST(count(b.g) AS BIGINT) AS n_hits,
      |  CAST(count(DISTINCT b.g) AS BIGINT) AS n_distinct_hits,
      |  CAST(floor(10000.0 * count(b.g) / count(*)) AS BIGINT) AS contamination_bps
      |FROM train t LEFT JOIN bench b ON t.g = b.g
      |GROUP BY t.doc_id
      |HAVING count(b.g) > 0
      |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val g = trigrams(Tables.documents(s, d))
    val bench = g.filter(col("doc_id") % 20 === 7).select(col("g").as("bg")).distinct()
    g.filter(col("doc_id") % 20 =!= 7)
      .join(broadcast(bench), col("g") === col("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        count(col("bg")).as("n_hits"),
        countDistinct(col("bg")).as("n_distinct_hits"))
      .withColumn("contamination_bps",
        floor(lit(10000.0) * col("n_hits") / col("n_ngrams")).cast("long"))
      .filter(col("n_hits") > 0)
      .orderBy(col("doc_id"))
  }

  /** Repetition-based quality filter — the Gopher/MassiveText rules
    * re-expressed per document: duplicate-word mass, most-common-word
    * share, most-common-bigram share, each as integer basis points.
    * Three per-doc hash aggregates joined back on doc_id (all three
    * shuffle on the same key — AQE coalesces; nothing is quadratic,
    * nothing collects). The keep flag applies Gopher-shaped
    * thresholds recalibrated to this corpus's 31-word vocabulary.
    */
  val q73RepetitionQuality = QueryDef(
    "q73_repetition_quality",
    "Gopher-style repetition stats: dup-word / top-word / top-bigram mass in basis points + keep flag",
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS t
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(count(DISTINCT t) AS BIGINT) AS n_distinct
      |  FROM tok GROUP BY doc_id),
      |wc AS (
      |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_word_cnt
      |  FROM (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t)
      |  GROUP BY doc_id),
      |bg AS (
      |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_cnt, CAST(sum(c) AS BIGINT) AS n_bigrams
      |  FROM (
      |    SELECT doc_id, b, count(*) AS c
      |    FROM (
      |      SELECT doc_id,
      |        unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
      |      FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |            FROM documents))
      |    GROUP BY doc_id, b)
      |  GROUP BY doc_id)
      |SELECT base.doc_id, n_tokens,
      |  CAST(floor(10000.0 * (n_tokens - n_distinct) / n_tokens) AS BIGINT) AS dup_word_bps,
      |  CAST(floor(10000.0 * top_word_cnt / n_tokens) AS BIGINT) AS top_word_bps,
      |  CAST(floor(10000.0 * top_bigram_cnt / n_bigrams) AS BIGINT) AS top_bigram_bps,
      |  CAST(CASE WHEN floor(10000.0 * top_word_cnt / n_tokens) < 1500
      |        AND floor(10000.0 * top_bigram_cnt / n_bigrams) < 800
      |       THEN 1 ELSE 0 END AS INT) AS keep
      |FROM base
      |JOIN wc ON base.doc_id = wc.doc_id
      |JOIN bg ON base.doc_id = bg.doc_id
      |ORDER BY base.doc_id""".stripMargin) { (s, d) =>
    // one docs shuffle by doc_id up front (round 17): explode/bigram
    // builds preserve the clustering, so every per-doc aggregate below
    // (base, wc's two levels, bg's two levels) and the final doc_id
    // joins plan with no further exchange — the reused repartition is
    // the plan's ONLY corpus-sized shuffle
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("t"))
    val base = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("t")).as("n_distinct"))
    val wc = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_cnt"))
    // bigrams map-side (Ngrams.bigrams, round 17) — no token-stream shuffle
    val bg = graft.functions.Ngrams.bigrams(docs)
      .select(col("doc_id"), concat_ws(" ", col("t"), col("t1")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_cnt"), sum(col("c")).as("n_bigrams"))
    val topWordBps = floor(lit(10000.0) * col("top_word_cnt") / col("n_tokens"))
    val topBigramBps = floor(lit(10000.0) * col("top_bigram_cnt") / col("n_bigrams"))
    base.join(wc, "doc_id").join(bg, "doc_id")
      .select(
        col("doc_id"), col("n_tokens"),
        floor(lit(10000.0) * (col("n_tokens") - col("n_distinct")) / col("n_tokens"))
          .cast("long").as("dup_word_bps"),
        topWordBps.cast("long").as("top_word_bps"),
        topBigramBps.cast("long").as("top_bigram_bps"),
        when(topWordBps < 1500 && topBigramBps < 800, 1).otherwise(0)
          .cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction — regex scrub of emails and phone-shaped tokens
    * with per-doc redaction counts, the audit artifact a compliance
    * pipeline keeps. The corpus has no organic PII, so a deterministic
    * contact line derived from doc_id is appended identically in both
    * engines (the q48 synthesis idiom) — the operator under test is
    * the redaction itself: Spark `regexp_replace` replaces all
    * matches; DuckDB needs the explicit 'g' flag (parity trap).
    * Single scan, no shuffle, fully codegen'd.
    */
  val q74PiiRedaction = QueryDef(
    "q74_pii_redaction",
    "PII redaction: email/phone regex scrub + per-doc redaction counts",
    """WITH blob AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@mail.example.com or call 555-' ||
      |      lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') ||
      |      CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END AS s
      |  FROM documents),
      |red AS (
      |  SELECT doc_id, s,
      |    regexp_replace(regexp_replace(s, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
      |      '555-[0-9]{4}', '<PHONE>', 'g') AS r
      |  FROM blob)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(s, '[a-z0-9._]+@[a-z0-9.-]+')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(s, '555-[0-9]{4}')) AS INT) AS n_phones,
      |  CAST(length(r) AS INT) AS redacted_len,
      |  substr(r, greatest(length(r) - 59, 1), 60) AS redacted_tail
      |FROM red
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val blob = Tables.documents(s, d).select(col("doc_id"),
      concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call 555-"),
        lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
        when(col("doc_id") % 3 === 0, " cc admin@example.org").otherwise("")
      ).as("s"))
    val redacted = regexp_replace(
      regexp_replace(col("s"), lit("[a-z0-9._]+@[a-z0-9.-]+"), lit("<EMAIL>")),
      lit("555-[0-9]{4}"), lit("<PHONE>"))
    // tail window start is pinned to greatest(len-59, 1) on BOTH
    // engines: for sub-60-char docs Spark's substring(-60) clamps to
    // the whole string while DuckDB's negative substr counts from the
    // end — the fuzz `unicode` variant's short-doc divergence
    blob.withColumn("r", redacted)
      .select(
        col("doc_id"),
        regexp_count(col("s"), lit("[a-z0-9._]+@[a-z0-9.-]+")).cast("int").as("n_emails"),
        regexp_count(col("s"), lit("555-[0-9]{4}")).cast("int").as("n_phones"),
        length(col("r")).cast("int").as("redacted_len"),
        expr("substring(r, greatest(length(r) - 59, 1), 60)").as("redacted_tail"))
      .orderBy(col("doc_id"))
  }

  /** Unicode normalization — dedup/fingerprint pipelines must
    * canonicalize text first or "é" (U+00E9) and "e"+U+0301 count as
    * different documents. Spark has no built-in, so this drives the
    * native codegen'd `unicode_normalize` expression
    * (graft.plans.UnicodeNormalize, java.text.Normalizer under the
    * hood); DuckDB's `nfc_normalize` is the oracle twin. The corpus
    * is ASCII, so a decomposed suffix ("cafe"+U+0301) is appended
    * identically in both engines and the NFC pass must compose
    * exactly one character away per doc. Single scan, no shuffle.
    */
  val q75UnicodeNormalize = QueryDef(
    "q75_unicode_normalize",
    "NFC normalization via native unicode_normalize expression (DuckDB nfc_normalize twin)",
    """WITH r AS (
      |  SELECT doc_id, text || ' cafe' || chr(769) || ' latte' AS raw FROM documents),
      |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM r)
      |SELECT doc_id,
      |  CAST(length(raw) AS INT) AS len_raw,
      |  CAST(length(nfc) AS INT) AS len_nfc,
      |  substr(nfc, length(nfc) - 11, 12) AS nfc_tail
      |FROM n
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.plans.GraftFunctions.register(s)
    // decomposed on purpose: 'e' + combining acute (U+0301) so the
    // NFC pass has real composition work, matching the oracle's
    // text || ' cafe' || chr(769) || ' latte'
    val raw = concat(col("text"), lit(" cafe\u0301 latte"))
    val nfc = graft.plans.GraftFunctions.unicodeNormalize(raw, "NFC")
    Tables.documents(s, d).select(
      col("doc_id"),
      length(raw).cast("int").as("len_raw"),
      length(nfc).cast("int").as("len_nfc"),
      substring(nfc, -12, 12).as("nfc_tail"))
      .orderBy(col("doc_id"))
  }

  /** Sub-document (line-level) dedup — the CCNet/RefinedWeb-style
    * boilerplate pass that document-level dedup (q33–q36) cannot do:
    * each doc is cut into consecutive 10-token chunks (the corpus has
    * no newlines, so fixed windows stand in for lines), chunks are
    * counted across documents, and every doc gets its duplicated-chunk
    * ratio in integer basis points — the signal a cleaning pipeline
    * thresholds to strip shared boilerplate.
    *
    * Scale shape: explode to ~n_tokens/10 chunk rows per doc, one hash
    * shuffle on chunk text for the document-frequency count, a keyed
    * join back, and a per-doc partial+final aggregate — three keyed
    * shuffles, no windows, no all-pairs. (At 100 TB the chunk-text
    * shuffle key would be `xxhash64(chunk)` — 8 bytes instead of the
    * string; the oracle keys on the text itself so both engines group
    * identically.)
    */
  val q85LineDedup = QueryDef(
    "q85_line_dedup",
    "sub-document boilerplate: 10-token chunk document frequency, per-doc duplicated-chunk ratio",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |ch AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(0, CAST((len(w) + 9) // 10 AS BIGINT)),
      |           i -> array_to_string(w[(i*10+1):(i*10+10)], ' '))) AS chunk
      |  FROM tok WHERE len(w) > 0),
      |df AS (SELECT chunk, count(*) AS df FROM ch GROUP BY chunk),
      |per AS (
      |  SELECT ch.doc_id, count(*) AS n_chunks,
      |         sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS dup_chunks
      |  FROM ch JOIN df USING (chunk) GROUP BY ch.doc_id)
      |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
      |  CAST(dup_chunks AS BIGINT) AS dup_chunks,
      |  CAST(floor(10000.0 * dup_chunks / n_chunks) AS BIGINT) AS dup_bp
      |FROM per
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("nc", expr("(size(w) + 9) div 10").cast("long"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), col("nc") - 1),
          i => array_join(slice(col("w"), (i * 10 + 1).cast("int"), lit(10)), " ")))
          .as("chunk"))
      .distinct()
    val df = chunks.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
    chunks.join(df, "chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
        floor(lit(10000.0) * col("dup_chunks") / col("n_chunks"))
          .cast("long").as("dup_bp"))
      .orderBy(col("doc_id"))
  }

  /** Per-language RELATIVE quality gate: keep documents longer than
    * their language's exact median length — the "top half per
    * stratum" filter real curation applies so low-resource languages
    * aren't judged by high-resource thresholds.
    *
    * The median is computed WITHOUT per-group value buffering
    * (Spark's exact `percentile` holds every value of a group in one
    * aggregation buffer — the memory cliff at corpus scale): the
    * table compresses to (lang, n_chars, count) — distinct values per
    * language, orders of magnitude below row count — and
    * [[graft.api.Ranking.withRunningTotal]] (range repartition +
    * metadata offsets, the q145 CDF primitive) yields cumulative
    * positions over it with every task busy; the type-7 interpolated
    * median is then the mean of the values at positions ⌊(n−1)/2⌋ and
    * ⌈(n−1)/2⌉, exactly `quantile_cont(0.5)`. Scale shape: one
    * partial+final count aggregate, one range-partitioned CDF pass,
    * one broadcast join back; the corpus itself is never windowed or
    * buffered, and no per-language sort ever lands on a single task.
    */
  val q109MedianFilter = QueryDef(
    "q109_median_filter",
    "per-language quality gate: docs above their language's exact interpolated median length",
    """WITH m AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS lang_median
      |  FROM documents GROUP BY lang)
      |SELECT doc_id, d.lang AS lang, n_chars, round(lang_median, 4) AS lang_median
      |FROM documents d JOIN m ON d.lang = m.lang
      |WHERE n_chars > lang_median
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // compressed per-(lang, value) counts: the only corpus-scale agg.
    // NULL lengths are excluded like the oracle's quantile_cont does —
    // a NULL would otherwise ride the CDF as a phantom value (SURVEY
    // §5, fuzz class A)
    val comp = docs.filter(col("n_chars").isNotNull)
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    // exact per-language median via [[graft.api.Quantiles.median2]]
    // (range-partitioned CDF — never `partitionBy(lang)` straight
    // over the compressed relation, which would funnel each
    // language's whole distinct-length set through one task)
    val med = graft.api.Quantiles.median2(
        comp, Seq("lang"), "n_chars", "c")
      .select(col("lang"), round(col("med2") / 2.0, 4).as("lang_median"))
    docs.join(broadcast(med), "lang")
      .filter(col("n_chars") > col("lang_median"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("lang_median"))
      .orderBy(col("doc_id"))
  }

  /** N-gram novelty score — the LM-coverage quality signal: how much
    * of each document is NOT built from the corpus's most common
    * trigram stock. Low novelty ⇒ boilerplate/templated text; high
    * novelty ⇒ fresh content (or noise — both ends are what a
    * curation pipeline inspects).
    *
    * Scale shape: the reference set (top-500 trigrams by corpus
    * frequency, ties broken lexically) is sort+limit bounded metadata
    * — broadcast, like q72's eval-set n-grams. Each doc's distinct
    * trigrams anti-join that broadcast map-side; the only corpus
    * shuffles are the trigram frequency count and the per-doc
    * aggregate. Ratios are integer basis points (floor(10000·k/n)) —
    * bit-identical in both engines.
    */
  val q118NgramNovelty = QueryDef(
    "q118_ngram_novelty",
    "n-gram novelty: fraction of per-doc distinct trigrams outside the corpus top-500 set, basis points",
    """WITH g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
      |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |        FROM documents)),
      |top AS (SELECT g FROM (
      |  SELECT g, count(*) AS c FROM g GROUP BY g ORDER BY c DESC, g LIMIT 500)),
      |dg AS (SELECT DISTINCT doc_id, g FROM g),
      |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM dg GROUP BY doc_id),
      |nov AS (SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_novel
      |        FROM dg ANTI JOIN top USING (g) GROUP BY dg.doc_id)
      |SELECT nt.doc_id, nt.n_grams,
      |  CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel,
      |  CAST(floor(10000.0 * coalesce(nov.n_novel, 0) / nt.n_grams) AS BIGINT) AS novelty_bp
      |FROM nt LEFT JOIN nov USING (doc_id)
      |ORDER BY nt.doc_id""".stripMargin) { (s, d) =>
    val g = graft.Reuse.query(trigrams(Tables.documents(s, d)))
    val top = g.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g"))
      .limit(500)
      .select(col("g"))
    val dg = g.distinct()
    val nt = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val nov = dg.join(broadcast(top), Seq("g"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    nt.join(nov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        floor(lit(10000.0) * coalesce(col("n_novel"), lit(0L)) / col("n_grams"))
          .cast("long").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  /** The corpus bigram stream (doc_id, l, r) q121 (self-scored LM
    * quality) and q204 (held-out perplexity) both consume — one
    * documents scan into a MAP-SIDE bigram build
    * ([[graft.functions.Ngrams.bigrams]]; no token-stream shuffle,
    * round 17), memoized per (session, dir) and localCheckpointed so
    * the pair pays the tokenize once (the hourlySeries/
    * clusterAssignments convention).
    */
  private[queries] def corpusBigrams(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Reuse.session(s, "hyg.bigrams:" + d) {
      graft.functions.Ngrams.bigrams(
          Tables.documents(s, d).repartition(
            s.sparkContext.defaultParallelism, col("doc_id")))
        .select(col("doc_id"), col("t").as("l"), col("t1").as("r"))
    }

  /** Bigram-LM quality score — the CCNet/KenLM-style perplexity
    * filter: score every document by its average negative log-prob
    * under a bigram language model trained on the corpus itself
    * (atypical word sequences ⇒ high NLP ⇒ candidate junk; extremely
    * low NLP ⇒ boilerplate). No smoothing needed: every scored bigram
    * is by construction in the training counts.
    *
    * Scale shape: the model is VOCABULARY²-bounded (two aggregates of
    * the bigram stream), joined back to the stream on the bigram key
    * — AQE broadcasts it when it fits, shuffle-joins when it doesn't.
    * Log-probs are fixed-point MICROS (floor(1e6·ln p) as BIGINT), so
    * the per-doc score is an INTEGER sum — commutative, invariant
    * under partitioning; no floating aggregate exists anywhere in the
    * plan. The average is integer division of positive longs
    * (identical truncation semantics both engines). Cross-engine
    * caveat (same documented tolerance as q151/q153): each floored
    * log-prob comes from a runtime `ln`, ~1-ulp accurate in both
    * engines, so a probability whose 1e6·ln lands within an ulp of an
    * integer could floor one micro apart across engines — unobserved
    * on the driver's pairing, but the exact-hash gate carries that
    * residual per-bigram risk.
    */
  val q121LmQuality = QueryDef(
    "q121_lm_quality",
    "bigram-LM quality score: per-doc avg negative log-prob in integer micros, model joined back on the bigram key",
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |bi AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
      |       FROM w, unnest(range(1, len(w))) AS u(i)),
      |m AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c_lr FROM bi GROUP BY l, r),
      |ml AS (SELECT l, CAST(sum(c_lr) AS BIGINT) AS c_l FROM m GROUP BY l),
      |lp AS (SELECT m.l, m.r,
      |         CAST(floor(1000000.0 * ln(CAST(m.c_lr AS DOUBLE) / ml.c_l)) AS BIGINT) AS lp_micro
      |       FROM m JOIN ml ON ml.l = m.l)
      |SELECT bi.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(-sum(lp.lp_micro) AS BIGINT) AS nlp_micro_sum,
      |  CAST((-sum(lp.lp_micro)) // count(*) AS BIGINT) AS avg_nlp_micro
      |FROM bi JOIN lp ON lp.l = bi.l AND lp.r = bi.r
      |GROUP BY bi.doc_id
      |ORDER BY bi.doc_id""".stripMargin) { (s, d) =>
    val bi = corpusBigrams(s, d)
    val m = bi.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c_lr"))
    val ml = m.groupBy(col("l")).agg(sum(col("c_lr")).as("c_l"))
    val lp = m.join(ml, "l")
      .select(col("l"), col("r"),
        floor(lit(1000000.0) * log(col("c_lr").cast("double") / col("c_l")))
          .cast("long").as("lp_micro"))
    bi.join(lp, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp_micro"))).as("nlp_micro_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("nlp_micro_sum"),
        expr("nlp_micro_sum div n_bigrams").as("avg_nlp_micro"))
      .orderBy(col("doc_id"))
  }

  /** Duplicated-span coverage — the token-level generalization of
    * q85's fixed-chunk boilerplate detector, following the
    * exact-substring dedup recipe of "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al., 2022): slide a
    * stride-1 window of K=8 tokens over every document, count each
    * span's occurrences across the WHOLE corpus (within-doc repeats
    * included — a doc repeating its own paragraph is a dup too), and
    * report per document how many token positions are covered by at
    * least one duplicated span. Stride-1 spans overlap, so coverage
    * is an interval-union: with duplicated span starts sorted per
    * doc, each start contributes `min(K, i − prev_i)` new tokens —
    * the q132 interval-merge identity specialized to equal-length
    * intervals.
    *
    * Scale shape: the span stream is ~n_tokens rows (K− 1 fewer per
    * doc); one hash shuffle on the span text for the occurrence
    * count (at 100 TB the key would be `portable_hash64(span)` — 8
    * bytes; the oracle keys on the text so both engines group
    * identically, the q85 convention), one keyed semi-join back, one
    * per-doc window (doc_id is high-cardinality — every task busy),
    * one partial+final aggregate. No all-pairs stage anywhere: the
    * suffix-array machinery of the paper exists to find VARIABLE-
    * length duplicates; fixed-K coverage needs only counting.
    */
  val q150SpanDedup = QueryDef(
    "q150_span_dedup",
    "ExactSubstr-style duplicated 8-token-span coverage per document, interval-union over stride-1 spans",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |sp AS (SELECT doc_id, CAST(unnest(range(0, len(w) - 7)) AS BIGINT) AS i, w
      |       FROM tok WHERE len(w) >= 8),
      |s2 AS (SELECT doc_id, i, array_to_string(w[(i+1):(i+8)], ' ') AS span FROM sp),
      |dup AS (SELECT span FROM s2 GROUP BY span HAVING count(*) >= 2),
      |ds AS (SELECT doc_id, i FROM s2 JOIN dup USING (span)),
      |cov AS (SELECT doc_id, i,
      |          lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi
      |        FROM ds),
      |per AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN pi IS NULL OR i - pi >= 8 THEN 8
      |                        ELSE i - pi END) AS BIGINT) AS dup_tokens
      |        FROM cov GROUP BY doc_id),
      |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
      |      FROM tok WHERE len(w) > 0)
      |SELECT n.doc_id, n.n_tokens,
      |  coalesce(per.dup_tokens, 0) AS dup_tokens,
      |  CAST(floor(10000.0 * coalesce(per.dup_tokens, 0) / n.n_tokens) AS BIGINT) AS dup_bp
      |FROM n LEFT JOIN per ON per.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    val K = 8
    // token arrays feed the span stream AND the per-doc token counts
    val tok = graft.Reuse.query(
      Tables.documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("w"))
        .filter(size(col("w")) > 0))
    val s2 = tok.filter(size(col("w")) >= K)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), size(col("w")) - K),
          i => struct(i.as("i"),
            array_join(slice(col("w"), (i + 1).cast("int"), lit(K)), " ")
              .as("span")))).as("sp"))
      .select(col("doc_id"), col("sp.i").as("i"), col("sp.span").as("span"))
    val dup = s2.groupBy(col("span")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("span"))
    val ds = s2.join(dup, Seq("span"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val per = ds.withColumn("pi", lag(col("i"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("pi").isNull || col("i") - col("pi") >= K, K.toLong)
        .otherwise(col("i") - col("pi"))).as("dup_tokens"))
    tok.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        floor(lit(10000.0) * coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"))
          .cast("long").as("dup_bp"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate catalog — the HUMAN-facing face of q150's machinery:
    * the top-20 most repeated 8-token spans with occurrence and
    * distinct-document counts, i.e. "WHAT is the boilerplate" where
    * q150 answers "how much of each doc is boilerplate". A curation
    * run eyeballs this before committing to span removal (navigation
    * chrome and license headers are safe to strip; a repeated quote
    * in legitimate articles is not).
    *
    * Scale shape: one partial-aggregable groupBy on the span text
    * (count + distinct-doc count — a hot boilerplate span is ONE
    * group whose count partial-aggregates map-side, never a skew
    * hazard), then a global top-20 by sort+limit (Spark's
    * TakeOrderedAndProject — K rows per partition cross the wire).
    * Deterministic: (occ DESC, span) is a total order.
    */
  val q180BoilerplateCatalog = QueryDef(
    "q180_boilerplate_catalog",
    "top-20 duplicated 8-token spans by occurrence with distinct-doc counts — the what-to-strip audit",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |sp AS (SELECT doc_id, CAST(unnest(range(0, len(w) - 7)) AS BIGINT) AS i, w
      |       FROM tok WHERE len(w) >= 8),
      |s2 AS (SELECT doc_id, array_to_string(w[(i+1):(i+8)], ' ') AS span FROM sp),
      |g AS (SELECT span, CAST(count(*) AS BIGINT) AS occ,
      |        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |      FROM s2 GROUP BY span HAVING count(*) >= 2)
      |SELECT span, occ, n_docs FROM g
      |ORDER BY occ DESC, span LIMIT 20""".stripMargin) { (s, d) =>
    val K = 8
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .filter(size(col("w")) >= K)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0L), size(col("w")) - K),
          i => array_join(slice(col("w"), (i + 1).cast("int"), lit(K)), " ")))
          .as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("occ") >= 2)
      .orderBy(col("occ").desc, col("span"))
      .limit(20)
  }

  /** Variable-length ExactSubstr dedup — the ACTUAL Lee et al. 2022
    * contract (q150's fixed K=8 is its coverage approximation...
    * which this query proves is not an approximation at all: the two
    * coverages are provably equal, HygieneSpec pins it): for every
    * token position, the length of the LONGEST substring starting
    * there that occurs ≥ 2 times anywhere in the corpus (within-doc
    * repeats included, overlapping occurrences included — the q150
    * counting convention), then per document the MERGED maximal
    * removal spans (start-sorted interval union of `[i, i+lcp_i)`
    * over positions with `lcp_i ≥ 8`), their count, total coverage,
    * the longest removal span, and the longest single duplicated
    * substring.
    *
    * Algorithm — the distributed suffix-array adjacency identity:
    * sort all suffixes (truncated to the `MaxSuffixConf` cap,
    * default 64 tokens — see the conf's scaladoc; Lee et al. dedup
    * at 50-100 byte windows, so 64 tokens is far past any span the
    * policy acts on, and only `longest_dup` saturates at the cap,
    * never the spans or coverage, because dup STARTS chain: every
    * position inside a long clone also starts a ≥ 8-token dup; the
    * ORACLE is pinned at the default). For each suffix the
    * longest duplicated prefix equals max(LCP with sorted-previous,
    * LCP with sorted-next) — the classic suffix-array property, so
    * NO all-pairs stage exists: [[graft.api.Neighbors]] attaches the
    * two neighbors via range repartition + within-partition lag/lead
    * + a K-row boundary patch, and the LCP is a counted zip_with
    * over the two token arrays. Suffix ORDER rides the space-joined
    * STRING (space sorts below every token character, so string
    * order = token-lexicographic order — tokens are
    * whitespace-split and can't contain one).
    *
    * Scale shape: suffix materialization is ~MaxDupLen× the token
    * stream — the same order as the paper's suffix arrays — spread
    * over one range exchange (all tasks busy); everything after is
    * per-doc windows on the high-cardinality doc_id and
    * partial-aggregable groupBys. The DuckDB twin replays the same
    * identity with a single-node ORDER BY (oracle-side only; the
    * Spark plan is gated against global windows in HygieneSpec).
    */
  /** `spark.graft.exactsubstr.maxSuffix` (round-11 verdict task 3):
    * suffix-truncation length for the sorted-suffix LCP. Spans longer
    * than the cap are still FOUND (dup starts chain — every position
    * inside a long clone starts a ≥K-token dup, so coverage and the
    * merged spans are exact), but `longest_dup` saturates at the cap
    * and two distinct long clones sharing a cap-length prefix could
    * merge into one island. The ORACLE is pinned at the default 64
    * (the q60 convention: conf overrides, the default stays fixed);
    * HygieneSpec proves the >cap behavior at two settings and
    * BASELINE.md carries an sf1 ladder row at 128.
    */
  val MaxSuffixConf = "spark.graft.exactsubstr.maxSuffix"
  val MaxSuffixDefault = 64

  private def maxSuffix(s: org.apache.spark.sql.SparkSession): Int = {
    val v = s.conf.get(MaxSuffixConf, MaxSuffixDefault.toString).toInt
    require(v >= 8, s"invalid $MaxSuffixConf=$v (need >= K=8)")
    v
  }

  /** Whitespace-token arrays per doc, empty docs dropped — the shared
    * entry stage of the ExactSubstr family (q150/q179/q197).
    */
  private[graft] def tokenized(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("w"))
      .filter(size(col("w")) > 0)

  /** The distributed suffix-array adjacency core shared by q179 and
    * q197: (doc_id, i, l) where l = longest duplicated prefix of the
    * suffix starting at token i — max(LCP with sorted-previous, LCP
    * with sorted-next) over the globally sorted (truncated) suffixes.
    * See q179's scaladoc for the algorithm; this is the expensive
    * stage (suffix materialization ≈ maxSfx × token stream, one range
    * exchange).
    */
  /** Token-level LCP of two space-joined suffix strings — the native
    * [[graft.plans.LcpTokens]] kernel (round 18; previously an
    * interpreted `zip_with` fold over token ARRAYS, which also forced
    * the token array to ride the suffix exchange alongside the joined
    * string). Null neighbor (corpus ends) → 0, like the old form.
    * Shared by the same-corpus adjacency (suffixLcp) and the
    * cross-side contamination LCP (q207).
    */
  private def lcpStr(a: Column, b: Column): Column =
    coalesce(graft.plans.GraftFunctions.lcpTokens(a, b), lit(0L))

  private[graft] def suffixLcp(tok: org.apache.spark.sql.DataFrame,
      maxSfx: Int): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftFunctions.register(tok.sparkSession)
    // Explode token POSITIONS and build each (capped) suffix STRING in
    // the same codegen stage — the suffix range exchange then carries
    // (doc_id, i, s) only: no token-array twin of the payload (≈2×
    // fewer bytes through the heaviest exchange of the ExactSubstr
    // family), and no per-doc interpreted `transform` materializing
    // all n slices before the explode (round 18; guide §2.3/§4).
    // The compact DOCUMENT rows hash-shuffle once first (the r17
    // n-grams convention): the ~cap× suffix expansion — and the range
    // partitioner's sampling pass over it — then run at full
    // parallelism instead of at the file count of the scan (job trace:
    // both passes were single-task 1.2 s jobs on the one-file corpus).
    val sp = tok.sparkSession.sparkContext.defaultParallelism
    val suf = tok.repartition(sp, col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("w")) - 1)).as("i0"), col("w"))
      .select(col("doc_id"), col("i0").cast("long").as("i"),
        array_join(slice(col("w"), col("i0") + 1, lit(maxSfx)), " ").as("s"))
    val withNb = graft.api.Neighbors.withNeighbors(
      suf, Seq(col("s"), col("doc_id"), col("i")), "s", "p", "nx")
    withNb.select(col("doc_id"), col("i"),
      greatest(lcpStr(col("s"), col("p")), lcpStr(col("s"), col("nx")))
        .as("l"))
  }

  /** Memoized corpus suffix-LCP per (session, dir, cap) — q179 (the
    * report) and q197 (the removal transform) both consume it, so the
    * suffix sort is paid once per session, and with
    * `spark.graft.memo.dir` set once per CORPUS SNAPSHOT through
    * [[graft.api.MemoCatalog]] (fingerprint of (doc_id, text); the
    * cap IS in the memo name — unlike the spec-only dedup caps it
    * changes the relation's meaning, so each cap gets its own memo).
    * The persisted relation is the ~token-stream-sized (doc_id, i, l)
    * adjacency (NOT the maxSfx× suffix blowup, which dies with the
    * stage) — at 100 TB exactly the intermediate table a pipeline
    * materializes once per snapshot.
    */
  private[graft] def corpusSuffixLcp(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // conf-capped; the q179/q197 oracle SQL is PINNED at the default 64
    // (the q60 convention) — parity is only defined at default conf
    val cap = maxSuffix(s)
    graft.Reuse.session(s, s"suflcp:$d:$cap",
        Seq(Tables.documents(s, d).select(col("doc_id"), col("text")))) {
      suffixLcp(tokenized(Tables.documents(s, d)), cap)
    }
  }

  /** Merged maximal removal spans: start-sorted interval union of
    * `[i, i+l)` over positions with l ≥ K → (doc_id, s, e) with the
    * per-doc intervals disjoint and maximal. Per-doc windows on the
    * high-cardinality doc_id — every task busy, no global sort.
    */
  private[graft] def removalSpans(lcp: org.apache.spark.sql.DataFrame,
      K: Int): org.apache.spark.sql.DataFrame = {
    val ds = lcp.filter(col("l") >= K)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val m = ds.withColumn("pmax",
      max(col("i") + col("l")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
    val isl = m.withColumn("island",
      sum(when(col("pmax").isNull || col("i") > col("pmax"), 1L).otherwise(0L))
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), max(col("i") + col("l")).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** The APPLY step (Lee et al. 2022's actual deliverable): excise
    * the merged removal spans from the token stream and re-join —
    * (doc_id, n_tokens, kept_tokens, clean_text, clean_md5). The
    * cleaned text is the kept-token stream joined with single spaces
    * (whitespace-normalized — the same single-space token convention
    * as the rest of the suite, identical in both engines). Docs whose
    * every token is duplicated come out as '' (kept, not dropped —
    * dropping is a policy decision left to the caller).
    *
    * Scale shape: spans per doc collapse to ONE broadcast-sized
    * struct array per doc via a partial-aggregable collect_list,
    * joined back on the high-cardinality doc_id; the excision is a
    * per-row higher-order filter (codegen'd, no shuffle).
    */
  private[graft] def cleanedDocs(tok: org.apache.spark.sql.DataFrame,
      spans: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spArr = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    tok.join(spArr, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        filter(col("w"), (_, i) =>
          !exists(coalesce(col("spans"),
              array().cast("array<struct<s:bigint,e:bigint>>")),
            sp => i.cast("long") >= sp.getField("s") &&
              i.cast("long") < sp.getField("e"))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        array_join(col("kept"), " ").as("clean_text"))
      .withColumn("clean_md5", md5(col("clean_text")))
  }

  val q179ExactSubstrSpans = QueryDef(
    "q179_exactsubstr_spans",
    "variable-length ExactSubstr dedup: sorted-suffix neighbor LCP, merged maximal removal spans, longest duplicated substring",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |pos AS (SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS i, w
      |        FROM tok WHERE len(w) > 0),
      |suf AS (SELECT doc_id, i, w[(i+1):least(i+64, len(w))] AS sfx FROM pos),
      |ord2 AS (SELECT doc_id, i, sfx,
      |          lag(sfx) OVER (ORDER BY array_to_string(sfx, ' ')) AS p,
      |          lead(sfx) OVER (ORDER BY array_to_string(sfx, ' ')) AS nx
      |         FROM suf),
      |lcp AS (SELECT doc_id, i,
      |          greatest(
      |            CASE WHEN p IS NULL THEN 0
      |                 WHEN list_position(list_transform(
      |                        range(1, least(len(p), len(sfx)) + 1),
      |                        j -> p[j] = sfx[j]), false) > 0
      |                 THEN list_position(list_transform(
      |                        range(1, least(len(p), len(sfx)) + 1),
      |                        j -> p[j] = sfx[j]), false) - 1
      |                 ELSE least(len(p), len(sfx)) END,
      |            CASE WHEN nx IS NULL THEN 0
      |                 WHEN list_position(list_transform(
      |                        range(1, least(len(nx), len(sfx)) + 1),
      |                        j -> nx[j] = sfx[j]), false) > 0
      |                 THEN list_position(list_transform(
      |                        range(1, least(len(nx), len(sfx)) + 1),
      |                        j -> nx[j] = sfx[j]), false) - 1
      |                 ELSE least(len(nx), len(sfx)) END) AS l
      |        FROM ord2),
      |ds AS (SELECT doc_id, i, l FROM lcp WHERE l >= 8),
      |m AS (SELECT doc_id, i, l,
      |        max(i + l) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM ds),
      |isl AS (SELECT doc_id, i, l,
      |          sum(CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY doc_id ORDER BY i
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |        FROM m),
      |sp AS (SELECT doc_id, island, min(i) AS s, max(i + l) AS e
      |       FROM isl GROUP BY doc_id, island),
      |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |          CAST(sum(e - s) AS BIGINT) AS dup_tokens,
      |          CAST(max(e - s) AS BIGINT) AS longest_span
      |        FROM sp GROUP BY doc_id),
      |ld AS (SELECT doc_id, CAST(max(l) AS BIGINT) AS longest_dup FROM lcp GROUP BY doc_id),
      |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
      |      FROM tok WHERE len(w) > 0)
      |SELECT n.doc_id, n.n_tokens,
      |  coalesce(per.n_spans, 0) AS n_spans,
      |  coalesce(per.dup_tokens, 0) AS dup_tokens,
      |  coalesce(per.longest_span, 0) AS longest_span,
      |  coalesce(ld.longest_dup, 0) AS longest_dup,
      |  CAST(floor(10000.0 * coalesce(per.dup_tokens, 0) / n.n_tokens) AS BIGINT) AS dup_bp
      |FROM n LEFT JOIN per ON per.doc_id = n.doc_id
      |       LEFT JOIN ld ON ld.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    val K = 8
    // single consumer now (the final n_tokens join) — no persist;
    // the heavy stage is the memoized corpusSuffixLcp, shared with
    // q197's removal transform and conf-capped at maxSuffix
    val tok = tokenized(Tables.documents(s, d))
    val lcp = corpusSuffixLcp(s, d)
    val per = removalSpans(lcp, K)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("dup_tokens"),
        max(col("e") - col("s")).as("longest_span"))
    val ld = lcp.groupBy(col("doc_id")).agg(max(col("l")).as("longest_dup"))
    tok.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left_outer")
      .join(ld, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"),
        coalesce(col("longest_dup"), lit(0L)).as("longest_dup"),
        floor(lit(10000.0) * coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"))
          .cast("long").as("dup_bp"))
      .orderBy(col("doc_id"))
  }

  /** ExactSubstr span REMOVAL — the cleaned-corpus transform q179
    * only reports (round-11 verdict task 2; Lee et al. 2022's actual
    * pipeline output): every token inside a merged ≥8-token
    * duplicated span is excised from every document (ALL occurrences
    * go, the ExactSubstr convention — the duplicated text survives
    * nowhere), and the kept tokens re-join into the cleaned text.
    * Emits the cleaned text itself plus its md5 so the oracle
    * hash-gates the exact bytes; `kept_tokens = n_tokens −
    * q179.dup_tokens` by construction (pinned cross-query in
    * HygieneSpec, along with idempotence: cleaning the cleaned
    * corpus removes nothing).
    *
    * Scale shape: rides the memoized suffix-LCP (paid once with
    * q179), then one partial-aggregable span collect per doc, one
    * doc_id-keyed join, and a codegen'd higher-order token filter —
    * no new shuffle class beyond q179's.
    */
  val q197ExactSubstrRemoval = QueryDef(
    "q197_exactsubstr_removal",
    "ExactSubstr span removal: cleaned corpus with merged duplicated spans excised (md5-gated)",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |pos AS (SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS i, w
      |        FROM tok WHERE len(w) > 0),
      |suf AS (SELECT doc_id, i, w[(i+1):least(i+64, len(w))] AS sfx FROM pos),
      |ord2 AS (SELECT doc_id, i, sfx,
      |          lag(sfx) OVER (ORDER BY array_to_string(sfx, ' ')) AS p,
      |          lead(sfx) OVER (ORDER BY array_to_string(sfx, ' ')) AS nx
      |         FROM suf),
      |lcp AS (SELECT doc_id, i,
      |          greatest(
      |            CASE WHEN p IS NULL THEN 0
      |                 WHEN list_position(list_transform(
      |                        range(1, least(len(p), len(sfx)) + 1),
      |                        j -> p[j] = sfx[j]), false) > 0
      |                 THEN list_position(list_transform(
      |                        range(1, least(len(p), len(sfx)) + 1),
      |                        j -> p[j] = sfx[j]), false) - 1
      |                 ELSE least(len(p), len(sfx)) END,
      |            CASE WHEN nx IS NULL THEN 0
      |                 WHEN list_position(list_transform(
      |                        range(1, least(len(nx), len(sfx)) + 1),
      |                        j -> nx[j] = sfx[j]), false) > 0
      |                 THEN list_position(list_transform(
      |                        range(1, least(len(nx), len(sfx)) + 1),
      |                        j -> nx[j] = sfx[j]), false) - 1
      |                 ELSE least(len(nx), len(sfx)) END) AS l
      |        FROM ord2),
      |ds AS (SELECT doc_id, i, l FROM lcp WHERE l >= 8),
      |m AS (SELECT doc_id, i, l,
      |        max(i + l) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM ds),
      |isl AS (SELECT doc_id, i, l,
      |          sum(CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY doc_id ORDER BY i
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |        FROM m),
      |sp AS (SELECT doc_id, island, min(i) AS s, max(i + l) AS e
      |       FROM isl GROUP BY doc_id, island),
      |tkn AS (SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS i,
      |          unnest(w) AS tk
      |        FROM tok WHERE len(w) > 0),
      |kept AS (SELECT t.doc_id, t.i, t.tk FROM tkn t
      |         WHERE NOT EXISTS (SELECT 1 FROM sp
      |                           WHERE sp.doc_id = t.doc_id
      |                             AND t.i >= sp.s AND t.i < sp.e)),
      |cln AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
      |          array_to_string(list(tk ORDER BY i), ' ') AS clean_text
      |        FROM kept GROUP BY doc_id),
      |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
      |      FROM tok WHERE len(w) > 0)
      |SELECT n.doc_id, n.n_tokens,
      |  coalesce(c.kept_tokens, 0) AS kept_tokens,
      |  coalesce(c.clean_text, '') AS clean_text,
      |  md5(coalesce(c.clean_text, '')) AS clean_md5
      |FROM n LEFT JOIN cln c ON c.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    val K = 8
    val tok = tokenized(Tables.documents(s, d))
    cleanedDocs(tok, removalSpans(corpusSuffixLcp(s, d), K))
      .orderBy(col("doc_id"))
  }

  /** HELD-OUT bigram perplexity — q121 with the fit/apply discipline
    * a production perplexity filter (CCNet/KenLM) actually runs: the
    * bigram LM is trained on the even-doc_id half only (Laplace-
    * smoothed: p(r|l) = (c_lr+1)/(c_l+V)), then every ODD doc is
    * scored under it. Unlike q121 (self-scored, smoothing-free),
    * held-out docs contain UNSEEN bigrams, so smoothing and an OOV
    * policy are load-bearing: a bigram is scored iff both tokens are
    * in the training vocabulary AND its left token has observed
    * continuations (c_l known); an unseen pair gets the smoothed
    * floor 1/(c_l+V). High avg_nlp = atypical under the corpus LM =
    * candidate junk — without the optimistic bias of scoring the
    * training data itself.
    *
    * Exactness: the q121 integer-micro contract — every log-prob is
    * floor(1e6·ln p) with integer inputs, per-doc scores are integer
    * sums, the average is positive-integer division; the same ~1-ulp
    * `ln` caveat carries.
    *
    * Scale shape: the model is VOCAB²-bounded (one bigram aggregate
    * on the train half); scoring is the held-out bigram stream
    * through one (l,r)-keyed left join + one l-keyed join (AQE
    * broadcasts when the model fits) + a partial-aggregable per-doc
    * sum. No window, no driver loop.
    */
  val q204HeldoutPerplexity = QueryDef(
    "q204_heldout_perplexity",
    "held-out bigram NLP score: Laplace LM fit on even docs, odd docs scored with smoothed-floor unseen pairs, integer micros",
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |       FROM documents),
      |bi AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
      |       FROM w, unnest(range(1, len(w))) AS u(i)),
      |trbi AS (SELECT * FROM bi WHERE doc_id % 2 = 0),
      |voc AS MATERIALIZED (SELECT DISTINCT t FROM (SELECT l AS t FROM trbi UNION SELECT r FROM trbi)),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM voc),
      |m AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c_lr FROM trbi GROUP BY l, r),
      |ml AS (SELECT l, CAST(sum(c_lr) AS BIGINT) AS c_l FROM m GROUP BY l),
      |lp AS (SELECT m.l, m.r,
      |         CAST(floor(1000000.0 * ln((m.c_lr + 1.0) / (ml.c_l + nv.v))) AS BIGINT) AS lp
      |       FROM m JOIN ml ON ml.l = m.l CROSS JOIN nv),
      |ho AS (SELECT bi.* FROM bi
      |       JOIN voc vl ON vl.t = bi.l JOIN voc vr ON vr.t = bi.r
      |       WHERE bi.doc_id % 2 = 1),
      |sc AS (SELECT ho.doc_id,
      |         coalesce(lp.lp,
      |           CAST(floor(1000000.0 * ln(1.0 / (ml.c_l + nv.v))) AS BIGINT)) AS lpv
      |       FROM ho JOIN ml ON ml.l = ho.l CROSS JOIN nv
      |       LEFT JOIN lp ON lp.l = ho.l AND lp.r = ho.r)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(-sum(lpv) AS BIGINT) AS nlp_micro_sum,
      |  CAST((-sum(lpv)) // count(*) AS BIGINT) AS avg_nlp_micro
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bi = corpusBigrams(s, d)
    val trbi = bi.filter(col("doc_id") % 2 === 0)
    val voc = trbi.select(col("l").as("t"))
      .union(trbi.select(col("r").as("t"))).distinct()
    val nv = voc.agg(count(lit(1)).as("v"))
    val m = trbi.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c_lr"))
    val ml = m.groupBy(col("l")).agg(sum(col("c_lr")).as("c_l"))
    val lp = m.join(ml, "l").crossJoin(broadcast(nv))
      .select(col("l"), col("r"),
        floor(lit(1000000.0) * log((col("c_lr") + lit(1.0)) / (col("c_l") + col("v"))))
          .cast("long").as("lp"))
    val ho = bi.filter(col("doc_id") % 2 === 1)
      .join(voc.select(col("t").as("l")), Seq("l"), "left_semi")
      .join(voc.select(col("t").as("r")), Seq("r"), "left_semi")
    val sc = ho.join(ml, "l").crossJoin(broadcast(nv))
      .join(lp, Seq("l", "r"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("lp"),
          floor(lit(1000000.0) * log(lit(1.0) / (col("c_l") + col("v"))))
            .cast("long")).as("lpv"))
    sc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lpv"))).as("nlp_micro_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("nlp_micro_sum"),
        expr("nlp_micro_sum div n_bigrams").as("avg_nlp_micro"))
      .orderBy(col("doc_id"))
  }

  /** SUBSTRING-level benchmark contamination — the decontamination
    * check q72's n-gram recipe cannot make: q72 counts shared
    * trigrams (any 3 tokens anywhere), while the Lee et al. 2022 /
    * GPT-4-report standard asks for long EXACT overlaps — "does this
    * training doc contain a ≥K-token verbatim substring of an eval
    * document?" — which n-gram hit counts only bound, never localize.
    * This query answers it with merged spans per train doc.
    *
    * Algorithm — the cross-side suffix-array adjacency identity: sort
    * the suffixes of BOTH corpora (train + the doc_id%20=7 eval slice,
    * q72's slice convention) in ONE global order; for a train suffix,
    * its longest common prefix with ANY bench suffix is attained at
    * the nearest bench suffix in sort order (for sorted suffixes
    * a<b<c, LCP(a,c) = min over adjacent LCPs, so farther bench
    * neighbors can only tie or shrink). "Nearest bench in either
    * direction" is exactly a nearest-non-null scan over the sorted
    * stream with the suffix nulled out on train rows —
    * [[graft.api.Neighbors.withNearestNonNull]], one range exchange,
    * never a global `last_value IGNORE NULLS` window. Positions with
    * cross-LCP ≥ K=8 then merge into maximal per-doc spans through
    * the same interval-union stage as q179 (`removalSpans`).
    *
    * Output: every train doc (empty docs dropped, the tokenized
    * convention) with its merged contaminated-span count, token
    * coverage, longest span, longest single overlap (saturates at the
    * `maxSuffix` cap like q179's longest_dup; the ORACLE is pinned at
    * the default 64), and coverage in integer basis points.
    *
    * Scale shape: suffix materialization is the q179 bound (~cap ×
    * token stream over one range exchange, all tasks busy); both
    * direction scans ride THAT one exchange (two window sorts within
    * partitions + a ≤K-row broadcast carry); everything after is
    * per-doc windows on high-cardinality doc_id and partial-aggregable
    * groupBys. At 100 TB the eval slice is tiny but its suffixes ride
    * the same sort — no broadcast of the corpus, no all-pairs stage.
    */
  val q207CrossContamination = QueryDef(
    "q207_cross_contamination",
    "substring-level eval contamination: per-train-doc merged >=8-token verbatim overlaps with the eval slice, via cross-side sorted-suffix LCP",
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |  FROM documents),
      |pos AS (SELECT doc_id, CAST(unnest(range(0, len(w))) AS BIGINT) AS i, w
      |        FROM tok WHERE len(w) > 0),
      |suf AS (SELECT doc_id, i, w[(i+1):least(i+64, len(w))] AS sfx,
      |               (doc_id % 20 = 7) AS is_bench FROM pos),
      |nb AS (SELECT doc_id, i, sfx, is_bench,
      |         last_value(CASE WHEN is_bench THEN sfx END IGNORE NULLS)
      |           OVER (ORDER BY array_to_string(sfx, ' '), doc_id, i
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
      |         first_value(CASE WHEN is_bench THEN sfx END IGNORE NULLS)
      |           OVER (ORDER BY array_to_string(sfx, ' '), doc_id, i
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nbx
      |       FROM suf),
      |lcp AS (SELECT doc_id, i,
      |          greatest(
      |            CASE WHEN pb IS NULL THEN 0
      |                 WHEN list_position(list_transform(
      |                        range(1, least(len(pb), len(sfx)) + 1),
      |                        j -> pb[j] = sfx[j]), false) > 0
      |                 THEN list_position(list_transform(
      |                        range(1, least(len(pb), len(sfx)) + 1),
      |                        j -> pb[j] = sfx[j]), false) - 1
      |                 ELSE least(len(pb), len(sfx)) END,
      |            CASE WHEN nbx IS NULL THEN 0
      |                 WHEN list_position(list_transform(
      |                        range(1, least(len(nbx), len(sfx)) + 1),
      |                        j -> nbx[j] = sfx[j]), false) > 0
      |                 THEN list_position(list_transform(
      |                        range(1, least(len(nbx), len(sfx)) + 1),
      |                        j -> nbx[j] = sfx[j]), false) - 1
      |                 ELSE least(len(nbx), len(sfx)) END) AS l
      |        FROM nb WHERE NOT is_bench),
      |ds AS (SELECT doc_id, i, l FROM lcp WHERE l >= 8),
      |m AS (SELECT doc_id, i, l,
      |        max(i + l) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM ds),
      |isl AS (SELECT doc_id, i, l,
      |          sum(CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY doc_id ORDER BY i
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |        FROM m),
      |sp AS (SELECT doc_id, island, min(i) AS s, max(i + l) AS e
      |       FROM isl GROUP BY doc_id, island),
      |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |          CAST(sum(e - s) AS BIGINT) AS contaminated_tokens,
      |          CAST(max(e - s) AS BIGINT) AS longest_span
      |        FROM sp GROUP BY doc_id),
      |lm AS (SELECT doc_id, CAST(max(l) AS BIGINT) AS longest_overlap
      |       FROM lcp GROUP BY doc_id),
      |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
      |      FROM tok WHERE len(w) > 0 AND doc_id % 20 <> 7)
      |SELECT n.doc_id, n.n_tokens,
      |  coalesce(per.n_spans, 0) AS n_spans,
      |  coalesce(per.contaminated_tokens, 0) AS contaminated_tokens,
      |  coalesce(per.longest_span, 0) AS longest_span,
      |  coalesce(lm.longest_overlap, 0) AS longest_overlap,
      |  CAST(floor(10000.0 * coalesce(per.contaminated_tokens, 0) / n.n_tokens)
      |    AS BIGINT) AS contamination_bp
      |FROM n LEFT JOIN per ON per.doc_id = n.doc_id
      |       LEFT JOIN lm ON lm.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    val K = 8
    // conf-capped like q179; the oracle SQL above is PINNED at the
    // default 64 — running with a non-default cap changes where
    // longest_overlap saturates, so oracle parity is only defined at
    // default conf (round-11 ADVICE; the q60 pinned-default convention)
    val cap = maxSuffix(s)
    graft.plans.GraftFunctions.register(s)
    val tok = tokenized(Tables.documents(s, d))
    // suffix STRINGS only through the range exchange (the suffixLcp
    // round-18 shape); the bench-side copy is null on 95% of rows;
    // the pre-explode doc hash-shuffle parallelizes the cap× suffix
    // expansion and the range sampling pass (see suffixLcp)
    val sp = s.sparkContext.defaultParallelism
    val suf = tok.repartition(sp, col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("w")) - 1)).as("i0"), col("w"))
      .select(col("doc_id"), col("i0").cast("long").as("i"),
        array_join(slice(col("w"), col("i0") + 1, lit(cap)), " ").as("s2"),
        (col("doc_id") % 20 === 7).as("is_bench"))
      .withColumn("bs", when(col("is_bench"), col("s2")))
    val nb = graft.api.Neighbors.withNearestNonNull(
      suf, Seq(col("s2"), col("doc_id"), col("i")), "bs", "pb", "nbx")
    val lcp = nb.filter(!col("is_bench"))
      .select(col("doc_id"), col("i"),
        greatest(lcpStr(col("s2"), col("pb")), lcpStr(col("s2"), col("nbx")))
          .as("l"))
    val per = removalSpans(lcp, K)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("contaminated_tokens"),
        max(col("e") - col("s")).as("longest_span"))
    val lm = lcp.groupBy(col("doc_id")).agg(max(col("l")).as("longest_overlap"))
    tok.filter(col("doc_id") % 20 =!= 7)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left_outer")
      .join(lm, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("contaminated_tokens"), lit(0L)).as("contaminated_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"),
        coalesce(col("longest_overlap"), lit(0L)).as("longest_overlap"),
        floor(lit(10000.0) * coalesce(col("contaminated_tokens"), lit(0L)) /
          col("n_tokens")).cast("long").as("contamination_bp"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated KNESER–NEY bigram scoring — the smoothing a
    * production perplexity filter (KenLM) actually ships, next to
    * q204's Laplace baseline: absolute discount D = 3/4 off every
    * seen bigram, redistributed through the CONTINUATION probability
    * p_cont(r) = N1+(·r)/T (how many distinct left-contexts r
    * follows, over total bigram types) — the insight that makes KN
    * the strongest count-based smoother: "Francisco" is frequent but
    * follows only "San", so its unseen-context probability should be
    * tiny, which raw-frequency backoff (and q204's Laplace) gets
    * wrong.
    *
    *   p(r|l) = (c_lr − D)⁺/c_l + D·N1+(l·)/c_l · N1+(·r)/T
    *
    * Exactness: with D = 3/4 the probability is the integer ratio
    *   [(4·c_lr − 3)⁺·T + 3·N1+(l·)·N1+(·r)] / (4·c_l·T)
    * — numerator and denominator are exact longs, so both engines
    * take ln of the identical double ratio (the q121/q204 ~1-ulp
    * caveat). Fit on even docs, scored on odd docs (the q204
    * discipline); a bigram is scored iff l was a seen context AND r a
    * seen continuation (the OOV policy; a deeper unigram backoff is
    * the documented extension).
    *
    * Scale shape: the model is VOCAB²-bounded (same one bigram
    * aggregate as q204, riding the memoized corpusBigrams); scoring
    * is the held-out stream through l-, r- and (l,r)-keyed joins (AQE
    * broadcasts the vocab-bounded sides) + one partial-aggregable
    * per-doc sum. No window, no driver loop.
    */
  val q213KneserNey = QueryDef(
    "q213_kneser_ney",
    "interpolated Kneser-Ney bigram NLP: D=3/4 discount + continuation-probability backoff, integer-exact ratio, fit-even/score-odd",
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
      |       FROM documents),
      |bi AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
      |       FROM w, unnest(range(1, len(w))) AS u(i)),
      |trbi AS (SELECT * FROM bi WHERE doc_id % 2 = 0),
      |m AS MATERIALIZED (SELECT l, r, CAST(count(*) AS BIGINT) AS c_lr
      |     FROM trbi GROUP BY l, r),
      |ml AS (SELECT l, CAST(sum(c_lr) AS BIGINT) AS c_l,
      |         CAST(count(*) AS BIGINT) AS n1l FROM m GROUP BY l),
      |mr AS (SELECT r, CAST(count(*) AS BIGINT) AS n1r FROM m GROUP BY r),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM m),
      |ho AS (SELECT bi.doc_id, bi.l, bi.r FROM bi WHERE doc_id % 2 = 1),
      |sc AS (SELECT ho.doc_id,
      |         CAST(floor(1000000.0 * ln(
      |           CAST(greatest(4 * coalesce(m.c_lr, 0) - 3, 0) * tt.tt
      |                + 3 * ml.n1l * mr.n1r AS DOUBLE) /
      |           CAST(4 * ml.c_l * tt.tt AS DOUBLE))) AS BIGINT) AS lpv
      |       FROM ho JOIN ml ON ml.l = ho.l
      |               JOIN mr ON mr.r = ho.r
      |               CROSS JOIN tt
      |               LEFT JOIN m ON m.l = ho.l AND m.r = ho.r)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(-sum(lpv) AS BIGINT) AS kn_nlp_micro_sum,
      |  CAST((-sum(lpv)) // count(*) AS BIGINT) AS avg_kn_nlp_micro
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bi = corpusBigrams(s, d)
    val trbi = bi.filter(col("doc_id") % 2 === 0)
    // persisted: feeds ml, mr, the type total AND the scored join —
    // vocab²-bounded, self-releasing (the ngramCandidateCounts shape)
    val m = graft.Reuse.query(
      trbi.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c_lr")))
    val ml = m.groupBy(col("l"))
      .agg(sum(col("c_lr")).as("c_l"), count(lit(1)).as("n1l"))
    val mr = m.groupBy(col("r")).agg(count(lit(1)).as("n1r"))
    val tt = m.agg(count(lit(1)).as("tt"))
    val sc = bi.filter(col("doc_id") % 2 === 1)
      .join(ml, "l")
      .join(mr, "r")
      .crossJoin(broadcast(tt))
      .join(m, Seq("l", "r"), "left_outer")
      .select(col("doc_id"),
        floor(lit(1000000.0) * log(
          (greatest(lit(4L) * coalesce(col("c_lr"), lit(0L)) - 3L, lit(0L)) *
            col("tt") + lit(3L) * col("n1l") * col("n1r")).cast("double") /
          (lit(4L) * col("c_l") * col("tt")).cast("double")))
          .cast("long").as("lpv"))
    sc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(col("lpv"))).as("kn_nlp_micro_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("kn_nlp_micro_sum"),
        expr("kn_nlp_micro_sum div n_bigrams").as("avg_kn_nlp_micro"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryDef] =
    Seq(q72Decontamination, q73RepetitionQuality, q74PiiRedaction,
      q75UnicodeNormalize, q85LineDedup, q109MedianFilter,
      q118NgramNovelty, q121LmQuality, q150SpanDedup,
      q179ExactSubstrSpans, q180BoilerplateCatalog,
      q197ExactSubstrRemoval, q204HeldoutPerplexity,
      q207CrossContamination, q213KneserNey)
}
