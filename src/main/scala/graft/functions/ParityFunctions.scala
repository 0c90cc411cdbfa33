package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders re-expressing the reference's row-level transforms
  * (`src/kafka_client/transformations.py`) as declarative Spark expressions —
  * they stay inside whole-stage codegen instead of running per-row Python.
  * None uses a lambda (`transform`/`filter`): those are `CodegenFallback`
  * in Spark 4.1 and would evaluate every element interpreted.
  */
object ParityFunctions {

  /** T3 (`transformations.py:6-21`): merge two nullable string columns with a
    * newline; empty string and NULL are both "absent"; both absent → NULL.
    * `concat_ws` skips NULLs, the outer `nullif` restores NULL-when-both-empty
    * (semantics verified against the reference, SURVEY §2a).
    */
  def mergeColumns(a: Column, b: Column): Column =
    nullif(concat_ws("\n", nullif(a, lit("")), nullif(b, lit(""))), lit(""))

  private val datePattern = "(\\d{2}/\\d{2}/\\d{4})"

  /** T4 (`transformations.py:24-41`): extract a commercialisation date range
    * from free text, with the reference's EXACT branch structure: exactly
    * two DD/MM/YYYY hits → (first, second); 3+ hits → both NULL (the
    * reference checks `len(patterns) == 2`, not `>= 2`); exactly one hit →
    * an if/elif chain, so "depuis le" wins and "jusqu" only sets the end
    * when "depuis le" is absent. Returns a 2-field struct (`start`, `end`).
    */
  def splitDateRange(text: Column): Column = {
    val hits = regexp_extract_all(text, lit(datePattern))
    val n = size(hits)
    val lowerText = lower(text)
    val start = when(n === 2, element_at(hits, 1))
      .when(n === 1 && lowerText.contains("depuis le"), element_at(hits, 1))
    val end = when(n === 2, element_at(hits, 2))
      .when(n === 1 && !lowerText.contains("depuis le") && lowerText.contains("jusqu"),
        element_at(hits, 1))
    struct(start.as("start"), end.as("end"))
  }

  /** Order-independent membership fingerprint of a grouped id column:
    * md5 over the sorted, comma-joined ids. The cross-engine contract —
    * DuckDB mirror: `md5(list_aggregate(list_sort(list(id)), 'string_agg',
    * ','))` — lives HERE in one place; the sort makes the digest
    * aggregation-order-independent, so it is shuffle-safe. Used by the
    * sampling/pipeline faces (q117/q118/q120) to pin exact sample
    * membership, not just counts. */
  def idsFingerprint(id: Column): Column =
    md5(array_join(array_sort(collect_list(id)).cast("array<string>"), ",")
      .cast("binary"))

  /** Whitespace tokenization with lowercasing — shared by the text-analysis
    * and dedup operators. Empty tokens (from repeated spaces) are dropped;
    * `split` yields no null elements.
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), " "), "")

  /** Distinct word n-grams (shingles) of `n` consecutive tokens, joined by a
    * single space, each at its first occurrence — the native [[Shingles]]
    * kernel. `ts` may be [[tokens]] or the raw `split(lower(text), " ")`:
    * the kernel drops empty tokens itself.
    */
  def shinglesFromTokens(ts: Column, n: Int): Column = Shingles.shingles(ts, n, distinct = true)

  /** All n-token shingles IN ORDER, duplicates kept (term-frequency
    * vectors, span counts). */
  def shingleSeq(ts: Column, n: Int): Column = Shingles.shingles(ts, n, distinct = false)

  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(split(lower(text), " "), n)
}
