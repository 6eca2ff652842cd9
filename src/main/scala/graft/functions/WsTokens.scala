package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The whitespace tokenizer of graft's text operators: one byte-walking
  * kernel behind every `\s+` split, token count and whitespace collapse,
  * and the token walk of the fused scorers (stopword probes, the LM
  * build and scoring walks, SimHash, the perceptron, word grams).
  *
  * Whitespace is Java regex `\s` without UNICODE_CHARACTER_CLASS — the
  * six bytes space, \t, \n, 0x0B, \f, \r — so U+00A0 and U+2003 stay
  * inside tokens exactly as Spark's regex forms keep them. Every UTF-8
  * lead and continuation byte is ≥ 0x80, so the walk never splits a
  * multi-byte character. The Column forms are bit-identical to Spark's
  * regex forms on valid UTF-8 (pinned in TextExprPropertySpec); Spark's
  * regex path decodes to a Java String first, so it would replace
  * malformed bytes with U+FFFD where the kernel keeps them.
  */
object WsTokens {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Java regex `\s`: ' ' or one of \t \n 0x0B \f \r (9 to 13). */
  def isWs(b: Byte): Boolean = b == ' '.toByte || (b >= '\t'.toByte && b <= '\r'.toByte)

  /** Calls `span(start, end)` on every maximal run of non-whitespace
    * bytes of `bytes[from, until)`, in order — the non-empty tokens of
    * `split(s, "\\s+")`. */
  def foreachToken(bytes: Array[Byte], from: Int, until: Int)(span: (Int, Int) => Unit): Unit = {
    var i = from
    while (i < until) {
      if (isWs(bytes(i))) i += 1
      else {
        val s = i
        while (i < until && !isWs(bytes(i))) i += 1
        span(s, i)
      }
    }
  }

  /** `split(s, "\\s+")` (limit −1) emits an empty first token for "" and
    * for a leading whitespace run... */
  def leadingEmpty(bytes: Array[Byte], from: Int, until: Int): Boolean =
    from == until || isWs(bytes(from))

  /** ...and an empty last token for a trailing whitespace run. */
  def trailingEmpty(bytes: Array[Byte], from: Int, until: Int): Boolean =
    until > from && isWs(bytes(until - 1))

  /** `split(c, "\\s+")`: Spark's regex split at limit −1, codegen'd. */
  def split(c: Column): Column = ColumnBridge.column(WsSplitExpr(ColumnBridge.expression(c)))

  /** `regexp_replace(c, "\\s+", " ")`: every whitespace run becomes one
    * space, codegen'd. */
  def collapse(c: Column): Column =
    ColumnBridge.column(WsCollapseExpr(ColumnBridge.expression(c)))

  /** The token count of `TextAnalysis.tokenCount`, codegen'd: 0 when
    * `trim(c)` is empty, else `size(split(trim(c), "\\s+"))`; null for a
    * null input under either ANSI setting. */
  def count(c: Column): Column =
    ColumnBridge.column(WsTokenCountExpr(ColumnBridge.expression(c)))

  /** The pieces of `split(s, "\\s+")`, as [[split]] returns them. */
  def splitBytes(bytes: Array[Byte]): Array[UTF8String] = {
    val len = bytes.length
    val out = new java.util.ArrayList[UTF8String]()
    if (leadingEmpty(bytes, 0, len)) out.add(UTF8String.EMPTY_UTF8)
    foreachToken(bytes, 0, len)((s, e) => out.add(UTF8String.fromBytes(bytes, s, e - s)))
    if (trailingEmpty(bytes, 0, len)) out.add(UTF8String.EMPTY_UTF8)
    out.toArray(new Array[UTF8String](out.size))
  }

  /** [[count]] over raw bytes: Spark's `trim` strips 0x20 only, so a
    * tab or newline left at either end still yields its empty token. */
  def tokenCount(bytes: Array[Byte]): Int = {
    var s = 0
    var e = bytes.length
    while (s < e && bytes(s) == ' '.toByte) s += 1
    while (e > s && bytes(e - 1) == ' '.toByte) e -= 1
    if (s == e) 0
    else {
      var n = 0
      foreachToken(bytes, s, e)((_, _) => n += 1)
      if (leadingEmpty(bytes, s, e)) n += 1
      if (trailingEmpty(bytes, s, e)) n += 1
      n
    }
  }

  /** [[collapse]] over raw bytes; returns `bytes` itself when no run
    * needs rewriting. */
  def collapseBytes(bytes: Array[Byte]): Array[Byte] = {
    val len = bytes.length
    var i = 0
    // fast path: every separator is already a lone space
    var clean = true
    while (clean && i < len) {
      val b = bytes(i)
      if (isWs(b) && (b != ' '.toByte || (i + 1 < len && isWs(bytes(i + 1))))) clean = false
      i += 1
    }
    if (clean) return bytes
    val out = new Array[Byte](len)
    var n = 0
    if (leadingEmpty(bytes, 0, len) && len > 0) { out(0) = ' '.toByte; n = 1 }
    var first = true
    foreachToken(bytes, 0, len) { (s, e) =>
      if (!first) { out(n) = ' '.toByte; n += 1 }
      first = false
      System.arraycopy(bytes, s, out, n, e - s)
      n += e - s
    }
    // a whitespace-only input already has its one space from the front
    if (trailingEmpty(bytes, 0, len) && !first) { out(n) = ' '.toByte; n += 1 }
    java.util.Arrays.copyOf(out, n)
  }
}

/** `split(s, "\\s+")` over [[WsTokens]]: the pieces are views over one
  * per-row copy of the input bytes. */
case class WsSplitExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any = WsSplitExpr.split(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.WsSplitExpr.split($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ws_split"
}

object WsSplitExpr {
  /** Called from codegen. */
  def split(s: UTF8String): GenericArrayData = {
    // the pieces must not alias a buffer the input may share with its row
    val b = s.getBytes
    val own = if (b eq s.getBaseObject) b.clone() else b
    new GenericArrayData(WsTokens.splitBytes(own).asInstanceOf[Array[Any]])
  }
}

/** `TextAnalysis.tokenCount` over [[WsTokens]]. */
case class WsTokenCountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    WsTokens.tokenCount(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WsTokens.tokenCount($c.getBytes());")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ws_token_count"
}

/** `regexp_replace(s, "\\s+", " ")` over [[WsTokens]]. */
case class WsCollapseExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any = WsCollapseExpr.collapse(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.WsCollapseExpr.collapse($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ws_collapse"
}

object WsCollapseExpr {
  /** Called from codegen; returns the input itself when nothing changes. */
  def collapse(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val out = WsTokens.collapseBytes(b)
    if (out eq b) s else UTF8String.fromBytes(out)
  }
}
