package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives re-expressing the reference's tokenizer semantics
  * (`/root/reference/src/mapper.c:14-42`: maximal `iswalnum` runs,
  * `towlower`-lowercased) as codegen'd Catalyst built-ins — no UDFs in
  * the hot path, so whole-stage codegen stays intact and the same
  * column expressions run unchanged on a 1000-executor cluster.
  */
object TextFunctions {

  /** Token delimiter: any run of non-letter/non-digit chars. Java regex
    * `\p{L}`/`\p{N}` matches the reference's locale-aware `iswalnum`
    * (`mapper.c:23,28,120`) for Unicode input.
    */
  val TokenDelim = "[^\\p{L}\\p{N}]+"

  /** Lowercased token array of a text column (reference `map()`,
    * `mapper.c:14-42`) under SIMPLE case folding: the 1:1
    * UnicodeData.txt mapping that C `towlower` (the reference,
    * mapper.c:28), utf8proc, and therefore DuckDB's `lower()` apply.
    * It differs from the JVM's full lowercase on exactly one
    * non-locale mapping, U+0130 İ (full: "i"+U+0307, two codepoints;
    * simple: "i"), so İ→i is pre-substituted before the JVM lower.
    * Empty tokens from leading delimiters are kept here; callers
    * filter (`mapper.c:32` drops them).
    */
  def tokensSimple(text: Column): Column =
    split(lower(translate(text, "İ", "i")), TokenDelim)

  /** One row per token of [[tokensSimple]] — the reference's flatMap
    * contract.
    */
  def explodeTokensSimple(text: Column): Column = explode(tokensSimple(text))

  /** Whitespace token count without exploding (cheap path for quality
    * scoring): number of non-empty whitespace-separated tokens.
    */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > lit(0)))

  /** Word n-grams from a token-array column: join each sliding window
    * of `n` tokens with a single space.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
}
