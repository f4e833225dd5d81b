package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text-count expressions.
  *
  * The text-analysis queries (eq7 token stats, eq8 quality score, eq9
  * language ID) only need COUNTS — tokens, alphabetic chars, marker-word
  * hits — yet the column formulations materialize them through
  * `regexp_extract_all` / `regexp_replace` / `split`+`filter`, i.e. a
  * regex engine pass plus array allocation per document per metric. That
  * was a bench hot spot (eq8 4.9 s, eq7 3.5 s at
  * sf0.1 — 6.6× the next-worst query). Each expression here is one tight
  * byte scan over the UTF-8 payload: no regex, no arrays, no per-element
  * interpretation. Like [[ShingleExpressions]] they are CodegenFallback —
  * the fallback costs one virtual call per ROW, not per element.
  *
  * Semantics are pinned to the column formulations they replace (and
  * thereby to the DuckDB oracles, which hash-match those formulations):
  *
  *  - whitespace is Java regex `\s` = `[ \t\n\x0B\f\r]` — all ASCII, so
  *    byte comparison is exact even mid-multibyte (UTF-8 continuation
  *    bytes are ≥ 0x80);
  *  - "one token/char" counts per CODE POINT: only UTF-8 lead bytes are
  *    counted, continuation bytes are skipped;
  *  - callers pass text through `lower()` first (the public wrappers do),
  *    matching the `lower(text)` in the originals — ASCII-only folding in
  *    the scan would diverge on code points whose lowercase IS ASCII
  *    (e.g. Kelvin sign U+212A → k).
  */
object TextCountExpressions {

  // Java regex \s (default flags): space, tab, LF, VT, FF, CR.
  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  private def isContinuation(b: Byte): Boolean = (b & 0xC0) == 0x80

  /** = `size(split(trim(lower(text)), "\s+"))` (Spark split = Java split
    * with limit -1, which KEEPS leading/trailing empty fields after the
    * space-only trim): fields = maximal `\s+` runs + 1; empty string → 1. */
  private[graft] def wsTokenCount(s: UTF8String): Int = {
    val b = s.trim.getBytes // trim strips 0x20 only, = Spark `trim`
    var runs = 0
    var prevWs = false
    var i = 0
    while (i < b.length) {
      val ws = isWs(b(i))
      if (ws && !prevWs) runs += 1
      prevWs = ws
      i += 1
    }
    runs + 1
  }

  /** = `size(regexp_extract_all(lowered, "[a-z]+|[0-9]|[^a-z0-9\s]", 0))`:
    * maximal a-z runs count 1, each digit counts 1, every other
    * non-whitespace code point counts 1. */
  private[graft] def reTokenCount(lowered: UTF8String): Int = {
    val b = lowered.getBytes
    var cnt = 0
    var inLetterRun = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= 'a' && c <= 'z') {
        if (!inLetterRun) { cnt += 1; inLetterRun = true }
      } else {
        inLetterRun = false
        if (c >= '0' && c <= '9') cnt += 1
        else if (isWs(c)) ()
        else if (!isContinuation(c)) cnt += 1 // ASCII punct or UTF-8 lead
      }
      i += 1
    }
    cnt
  }

  /** = `length(regexp_replace(lowered, "[^a-z]", ""))`: count of a-z code
    * points. */
  private[graft] def alphaCount(lowered: UTF8String): Int = {
    val b = lowered.getBytes
    var cnt = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= 'a' && c <= 'z') cnt += 1
      i += 1
    }
    cnt
  }

  /** = `size(filter(split(trim(lowered), "\s+"), t => t.isin(words)))`:
    * count of whitespace-delimited tokens byte-equal to one of `words`
    * (the empty fields Java split can produce never match a word). */
  private[graft] def tokenSetCount(lowered: UTF8String, words: Array[Array[Byte]]): Int = {
    val b = lowered.getBytes
    var cnt = 0
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || isWs(b(i))) {
        if (i > start) { // a maximal non-ws run [start, i)
          var w = 0
          var hit = false
          while (!hit && w < words.length) {
            val word = words(w)
            if (word.length == i - start) {
              var j = 0
              while (j < word.length && b(start + j) == word(j)) j += 1
              hit = j == word.length
            }
            w += 1
          }
          if (hit) cnt += 1
        }
        start = i + 1
      }
      i += 1
    }
    cnt
  }

  sealed abstract class CountExpr extends UnaryExpression with CodegenFallback
      with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    // analysis-time check for the SQL surface (GraftFunctions)
    override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
    override def dataType: DataType = IntegerType
  }

  case class WsTokenCount(child: Expression) extends CountExpr {
    override def nullSafeEval(input: Any): Any =
      wsTokenCount(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class ReTokenCount(child: Expression) extends CountExpr {
    override def nullSafeEval(input: Any): Any =
      reTokenCount(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class AlphaCount(child: Expression) extends CountExpr {
    override def nullSafeEval(input: Any): Any =
      alphaCount(input.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class TokenSetCount(child: Expression, words: Seq[String]) extends CountExpr {
    private lazy val wordBytes: Array[Array[Byte]] =
      words.map(_.getBytes("UTF-8")).toArray
    override def nullSafeEval(input: Any): Any =
      tokenSetCount(input.asInstanceOf[UTF8String], wordBytes)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private def wrap(f: Expression => Expression)(text: Column): Column =
    ColumnBridge.column(f(ColumnBridge.expression(lower(text))))

  /** Whitespace token count of the lowercased text. */
  def ws_token_count(text: Column): Column = wrap(WsTokenCount(_))(text)

  /** BPE-ish token count (letter runs | digits | other chars) of the
    * lowercased text. */
  def re_token_count(text: Column): Column = wrap(ReTokenCount(_))(text)

  /** Count of a-z code points in the lowercased text. */
  def alpha_count(text: Column): Column = wrap(AlphaCount(_))(text)

  /** Count of whitespace tokens of the lowercased text equal to one of
    * `words`. */
  def token_set_count(text: Column, words: Seq[String]): Column =
    wrap(TokenSetCount(_, words))(text)
}
