package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel: BPE-ish pre-tokenizer token count — the number of
  * matches of `[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9\s]` — as a single
  * code-point state machine instead of a regex engine pass.
  *
  * Token-counting runs over EVERY document byte in a training pipeline
  * (quality gates, packing budgets), so it must be scan-speed: the call
  * runs inside whole-stage codegen ([[Shim.kernel]]) — no Pattern
  * allocation, no Matcher state, no boxing (measured ~2× on
  * text_token_stats vs regexp_count; the semantics are pinned to the
  * regex by a property test in TokenCountSpec).
  */
object TokenCount {

  /** The state machine both eval paths call. Classes: lowercase run,
    * uppercase run, single-token (digit or symbol), whitespace
    * (`\s` = space, \t, \n, \x0B, \f, \r — the Java/RE2 ASCII set). */
  def count(text: UTF8String): Int = {
    val s = text.toString
    var cnt = 0
    var prev = -1
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      val cls =
        if (cp >= 'a' && cp <= 'z') 0
        else if (cp >= 'A' && cp <= 'Z') 1
        else if (cp == 32 || (cp >= 9 && cp <= 13)) 3
        else 2
      if (cls == 2) cnt += 1
      else if (cls != 3 && cls != prev) cnt += 1
      prev = cls
    }
    cnt
  }

  /** Column-API entry point (a non-string input is cast to string). */
  def token_count(c: Column): Column =
    Shim.kernel(this, "count", IntegerType, Seq(StringType))(c)
}
