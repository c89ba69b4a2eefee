package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Phone-number normalization to international format.
  *
  * Re-expresses the reference's `parse_phone_number`
  * (`insert.py:28-67`) as one native kernel, [[intl]]: a single
  * code-point pass per row, called inside whole-stage codegen through
  * [[Shim.kernel]] (interpreted evaluation calls the same method).
  * Branch-for-branch semantics:
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
  *     NSN length check against per-region metadata. [[isPossible]]
  *     reimplements that generally: a literal possible-NSN-lengths table
  *     per calling code ([[NsnLengths]], from libphonenumber's published
  *     metadata — public data), with the ITU E.164 length envelope
  *     (4 ≤ NSN and CC+NSN ≤ 15 digits) as the fallback for unlisted
  *     codes. For the two regions [[normalized]] can emit this reduces to
  *     NSN 10 (+1) / NSN 9 (+33). Impossible or empty → NULL.
  *
  * Lengths and positions count code points, as Spark's `length` and
  * `substring` do (pinned to the equivalent Column chain by
  * PhonePropertySpec, on both eval paths). A non-string input is cast to
  * string first. The DuckDB oracle of `phone_normalize` replicates the
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

  /** Possible NSN (national significant number) lengths per calling
    * code — the general-description possible-lengths sets from
    * libphonenumber's published PhoneNumberMetadata (public data),
    * covering the majority-traffic calling codes. Variable-length plans
    * (DE, IT, CN…) carry their full published ranges. */
  val NsnLengths: Map[String, Set[Int]] = Map(
    "1"  -> Set(10),           // NANP (US/CA/…): fixed 10
    "7"  -> Set(10),           // RU/KZ
    "20" -> Set(8, 9, 10),     // EG
    "33" -> Set(9),            // FR
    "34" -> Set(9),            // ES
    "39" -> (6 to 11).toSet,   // IT: variable-length plan
    "44" -> Set(7, 9, 10),     // UK
    "49" -> (6 to 11).toSet,   // DE: variable-length plan
    "55" -> Set(10, 11),       // BR
    "61" -> Set(5, 8, 9, 10),  // AU
    "81" -> Set(8, 9, 10),     // JP
    "82" -> (8 to 11).toSet,   // KR
    "86" -> (5 to 12).toSet,   // CN
    "91" -> Set(7, 8, 9, 10))  // IN

  /** libphonenumber-style `is_possible_number` over an international
    * string `"+CC nsn…[xext]"` (step 8). Non-international strings (no
    * `"+CC "` prefix) are not possible numbers; NULL stays NULL. */
  def isPossibleNumber(intl: Column): Column =
    Shim.kernel(this, "isPossible", BooleanType, Seq(StringType))(intl)

  /** `df` with column `out` set to the international normalization of
    * column `in`, NULL for invalid numbers (`out` may equal `in`; an
    * existing `out` keeps its position). */
  def normalized(df: DataFrame, in: String, out: String): DataFrame =
    df.withColumn(out, Shim.kernel(this, "intl", StringType, Seq(StringType),
      returnNullable = true)(col(in)))

  /** Kernel: steps 1-8 — the formatted international string, or null
    * when it is not a possible number. */
  def intl(raw: UTF8String): UTF8String = {
    val r = format(raw.toString)
    if (possible(r)) UTF8String.fromString(r) else null
  }

  /** Kernel: step 8 alone. */
  def isPossible(intl: UTF8String): Boolean = possible(intl.toString)

  /** Steps 1-7. */
  private def format(raw: String): String = {
    // 1. '.' and ')' -> '-', drop '('
    val b = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (ch == '.' || ch == ')') b.append('-')
      else if (ch != '(') b.append(ch)
      i += 1
    }
    val cleaned = b.toString
    // 2. base = before the first 'x'; extension = up to the second 'x'
    val x1 = cleaned.indexOf('x')
    val base = if (x1 < 0) cleaned else cleaned.substring(0, x1)
    // 3-6, the later reference statements first (insert.py:43-54)
    val len = cleaned.codePointCount(0, cleaned.length)
    val formatted =
      if (len == 9) "+33 " + cp(cleaned, 0, 1) + " " + cp(cleaned, 1, 3) +
        " " + cp(cleaned, 3, 5) + " " + cp(cleaned, 5, 7) + " " +
        cp(cleaned, 7, 9)
      else if (len == 10 && !cleaned.startsWith("0"))
        "+1 " + cp(cleaned, 0, 3) + "-" + cp(cleaned, 3, 6) + "-" +
          cp(cleaned, 6, 10)
      else {
        val d1 = base.indexOf('-')
        val dashes = base.length - base.replace("-", "").length
        if (dashes == 2) "+1 " + base
        else if (dashes == 3 && (d1 == 3 && base.startsWith("001") ||
            d1 == 2 && base.startsWith("+1")))
          "+1 " + base.substring(d1 + 1)
        else ""
      }
    // 7. re-append the extension
    if (x1 < 0) formatted
    else {
      val x2 = cleaned.indexOf('x', x1 + 1)
      formatted + "x" +
        cleaned.substring(x1 + 1, if (x2 < 0) cleaned.length else x2)
    }
  }

  /** Step 8 over `"+CC nsn…[xext]"`: the calling code is the first
    * space-delimited token minus its '+' (1-3 ASCII digits, and something
    * must follow the token); the NSN is every ASCII digit after it,
    * before the first 'x'. Its count must be in the code's [[NsnLengths]]
    * set; unlisted codes fall back to the E.164 envelope. */
  private def possible(intl: String): Boolean = {
    val x = intl.indexOf('x')
    val beforeExt = if (x < 0) intl else intl.substring(0, x)
    val sp = beforeExt.indexOf(' ')
    if (sp < 2 || sp > 4 || beforeExt.charAt(0) != '+') return false
    val cc = beforeExt.substring(1, sp)
    if (digits(cc) != cc.length) return false
    val nsn = digits(beforeExt) - cc.length
    NsnLengths.get(cc) match {
      case Some(lens) => lens.contains(nsn)
      case None => nsn >= 4 && nsn + cc.length <= 15
    }
  }

  /** ASCII digits in `s`. */
  private def digits(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch >= '0' && ch <= '9') n += 1
      i += 1
    }
    n
  }

  /** Code points `[from, until)` of `s`. */
  private def cp(s: String, from: Int, until: Int): String =
    s.substring(s.offsetByCodePoints(0, from), s.offsetByCodePoints(0, until))
}
