package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import graft.expressions.PhoneIntl

/** Phone-number normalization to international format.
  *
  * Re-expresses the reference's `parse_phone_number`
  * (`insert.py:28-67`) as one native expression,
  * [[graft.expressions.PhoneIntl]]: a single code-point pass per row
  * inside whole-stage codegen. Branch-for-branch semantics:
  *
  *  1. stringify; `'.'→'-'`, `')'→'-'`, drop `'('`        (insert.py:34-35)
  *  2. split on `'x'`: base = part 0, extension = part 1  (insert.py:37-38)
  *  3. base split on `'-'` == 3 parts → `"+1 {base}"`     (insert.py:43-45)
  *  4. 4 parts with part0 ∈ {001, +1} → `"+1 p1-p2-p3"`   (insert.py:46-47)
  *  5. whole cleaned string (INCLUDING extension) length 10, not starting
  *     '0' → `"+1 xxx-xxx-xxxx"` — overrides 3-4          (insert.py:49-50)
  *  6. length 9 → `"+33 x xx xx xx xx"` — overrides all   (insert.py:52-54)
  *  7. re-append `"x{extension}"`                          (insert.py:57-58)
  *  8. validity: the reference calls libphonenumber's `is_possible_number`
  *     (insert.py:60-67), which for a parsed international number is an
  *     NSN length check against per-region metadata. [[isPossibleNumber]]
  *     reimplements that generally: a literal possible-NSN-lengths table
  *     per calling code (from libphonenumber's published metadata —
  *     public data), with the ITU E.164 length envelope (4 ≤ NSN and
  *     CC+NSN ≤ 15 digits) as the fallback for unlisted codes. For the
  *     two regions [[normalized]] can emit this reduces to NSN 10 (+1)
  *     / NSN 9 (+33). Impossible or empty → NULL.
  *
  * Lengths and positions count code points, as Spark's `length` and
  * `substring` do. The DuckDB oracle of `phone_normalize` replicates the
  * same steps in SQL.
  *
  * Known divergences (documented, covered by unit tests):
  *  - null input → NULL (the reference stringifies NaN to "nan", which then
  *    also fails validation → None; observable behavior identical);
  *  - pathological non-digit extensions (e.g. "x8-9") pass our digit-count
  *    validation but may fail libphonenumber's extension grammar.
  *
  * Scale: one partition-local projection, zero shuffle.
  */
object Phone {

  /** libphonenumber-style `is_possible_number` over an international
    * string `"+CC nsn…[xext]"` (step 8). Non-international strings (no
    * `"+CC "` prefix) are not possible numbers; NULL stays NULL. */
  def isPossibleNumber(intl: Column): Column = PhoneIntl.phone_possible(intl)

  /** `df` with column `out` set to the international normalization of
    * column `in`, NULL for invalid numbers (`out` may equal `in`; an
    * existing `out` keeps its position). */
  def normalized(df: DataFrame, in: String, out: String): DataFrame =
    df.withColumn(out, PhoneIntl.phone_intl(col(in)))
}
