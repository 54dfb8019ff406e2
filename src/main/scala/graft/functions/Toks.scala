package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared tokenization / shingling used by the dedup + text-analysis
  * operators (SURVEY-adjacent training-data ops). Every expression here has
  * an exactly-equivalent DuckDB SQL form (kept next to each oracle query) —
  * the pair is the correctness contract, so keep them in lock-step:
  *
  *   tokens(text)    == list_filter(string_split(text, ' '), x -> x <> '')
  *   shingles3(toks) == [t[i]||' '||t[i+1]||' '||t[i+2]
  *                       for i in generate_series(1, len(t)-2)]
  *
  * All downstream hashing is md5 (identical hex output in Spark and DuckDB);
  * all scores are integers — no floats ever reach an oracled column.
  */
object Toks {

  /** Whitespace tokens, empties dropped (split on single space — the
    * documents table is single-space normalized; for raw text normalize
    * first with Charset.normalizeWs).
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Word 3-shingles over a token array, in order; empty if fewer than 3. */
  def shingles3(toks: Column): Column =
    when(
      size(toks) >= 3,
      transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
      )
    ).otherwise(array().cast("array<string>"))

  /** Integer-quantized embedding: floor(double(x) * 100) per element.
    * Double math on both sides (DuckDB list floats must be cast the same
    * way) — exact, deterministic, and dot products stay in Long range.
    */
  def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * 100).cast("long"))

  /** Exact integer dot product of two quantized vectors (ordered fold —
    * bit-deterministic at any parallelism).
    */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  // ---- SQL mirror snippets (DuckDB) ----

  val SQL_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** DuckDB shingle expression over a token-array column named `t`. */
  val SQL_SHINGLES =
    "[t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]"

  /** DuckDB quantized-embedding expression over a list column named `e`. */
  val SQL_QUANT =
    "[CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT) for x in e]"
}
