package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions

/** The reference's one concrete job — Unicode word count
  * (`/root/reference/src/mapper.c:14-42` map, `reducer.c:23-38` reduce)
  * — plus the text-analysis extension operators over `documents`.
  */
object TextQueries {

  /** Word count: tokenize → explode → groupBy(word).count. The entire
    * reference pipeline (read → map → combine → shuffle → reduce) in
    * one declarative plan; Spark's partial+final HashAggregate is the
    * mapper combiner (mapper.c:75-88) + reducer merge (reducer.c:23-38).
    *
    * Case folding is the locale-independent SIMPLE 1:1 mapping (İ→i)
    * that C `towlower` (the reference, mapper.c:28) and DuckDB's
    * utf8proc `lower()` both apply, so the engine output hash-matches
    * the oracle on EVERY corpus including fuzz-unicode (the formerly
    * red İ cell).
    */
  val wordcount = QueryDef(
    "wordcount",
    "reference-parity word count over documents.text",
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+')) AS word
      |      FROM documents)
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY word""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(TextFunctions.explodeTokensSimple(col("text")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))
  }

  val all: Seq[QueryDef] = Seq(wordcount)
}
