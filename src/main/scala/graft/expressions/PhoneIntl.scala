package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the international normalization of a
  * phone string, NULL unless it is a possible number — steps 1-8 of
  * [[graft.etl.Phone]] as one code-point pass per row.
  *
  * The reference conforms every contact's phone before loading, so this
  * runs over every E1 source row: `doGenCode` calls the same
  * [[PhoneIntl.intl]] the interpreted `eval` calls, inside whole-stage
  * codegen, with no intermediate split arrays or re-evaluated substrings.
  * Lengths and positions count code points, as Spark's `length` and
  * `substring` do (pinned to the equivalent Column chain by
  * PhonePropertySpec, on both eval paths). A non-string input is cast to
  * string first. */
case class PhoneIntl(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "phone_intl"

  override def nullSafeEval(input: Any): Any = {
    val r = PhoneIntl.intl(input.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val r = ctx.freshName("intl")
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      UTF8String ${ev.value} = null;
      if (!${c.isNull}) {
        String $r = graft.expressions.PhoneIntl.intl(${c.value}.toString());
        if ($r != null) {
          ${ev.isNull} = false;
          ${ev.value} = UTF8String.fromString($r);
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: step 8 alone — is an international
  * string `"+CC nsn…[xext]"` a possible number ([[PhoneIntl.isPossible]]).
  * NULL in, NULL out. */
case class PhonePossible(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "phone_possible"

  override def nullSafeEval(input: Any): Any =
    PhoneIntl.isPossible(input.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.PhoneIntl.isPossible($s.toString());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PhoneIntl {

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

  /** Steps 1-8 of [[graft.etl.Phone]]: the formatted international
    * string, or null when it is not a possible number. */
  def intl(raw: String): String = {
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
    val out =
      if (x1 < 0) formatted
      else {
        val x2 = cleaned.indexOf('x', x1 + 1)
        formatted + "x" +
          cleaned.substring(x1 + 1, if (x2 < 0) cleaned.length else x2)
      }
    // 8. the validity gate
    if (isPossible(out)) out else null
  }

  /** libphonenumber-style `is_possible_number` over `"+CC nsn…[xext]"`:
    * the calling code is the first space-delimited token minus its '+'
    * (1-3 ASCII digits, and something must follow the token); the NSN
    * is every ASCII digit after it, before the first 'x'. Its count must
    * be in the code's [[NsnLengths]] set; unlisted codes fall back to
    * the ITU E.164 envelope (NSN ≥ 4 and CC+NSN ≤ 15 digits). */
  def isPossible(intl: String): Boolean = {
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

  /** Column-API entry points. */
  def phone_intl(c: Column): Column = Shim.column(PhoneIntl(Shim.expression(c)))
  def phone_possible(c: Column): Column =
    Shim.column(PhonePossible(Shim.expression(c)))
}
