package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass kernels behind the suffix-family SEED/WINDOW generators
  * (r16 optimization round). The declarative forms they replace were the
  * interpreted-HOF cost pattern the r15 kernels retired on the MATCH path:
  *
  *  - packed doubling seed: `transform(sequence(1, _len), i ->
  *    aggregate(sequence(0, w-1), 0L, (acc, j) -> acc*128 +
  *    coalesce(try_element_at(_codes, i+j), 0)))` over `_codes =
  *    transform(split(text, ''), c -> ascii(c))` — per character this ran a
  *    w-step interpreted fold over boxed longs, after materializing one
  *    single-char string + one ascii() per character. [[PackedCharWindows]]
  *    emits the same packed longs in one byte walk (codepoint walk for
  *    non-ASCII, matching `ascii()`'s first-codepoint semantics exactly).
  *    Width 1 equals the plain code array, so it also replaces the width-1
  *    fallback's O(len²) `ascii(substring(text, i, 1))` re-scans.
  *
  *  - literal windows: `transform(sequence(1, length - (w-1)), i ->
  *    substring(text, i, w))` (full windows; the dup/decontam direct path)
  *    and the suffix-truncated variant without the `- (w-1)` (the wide
  *    literal doubling seed). [[CharWindows]] emits the same strings from
  *    one precomputed codepoint-offset walk — O(n + windows·w) bytes, no
  *    interpreted lambda, no per-window sequence/boxing.
  *
  * Parity is EXACT for valid UTF-8 (ASCII fast path, codepoint fallback with
  * identical semantics — SuffixSeedSpec pins both against the declarative
  * forms on random mixed-alphabet strings; the suffix/dedup oracles replay
  * end-to-end in DuckDB). On a multi-byte sequence cut short by the end of
  * the text, the packed codes still equal `ascii()` (U+FFFD), and a window
  * ends at the text's last byte, where Spark's `substring` reads past it.
  */
object SuffixSeedOps extends Serializable {

  /** Byte offsets of each codepoint start, plus n = codepoint count.
    * For pure-ASCII input returns null (callers use identity offsets).
    */
  private def codepointOffsets(b: Array[Byte]): Array[Int] = {
    var ascii = true
    var i = 0
    while (ascii && i < b.length) { if ((b(i) & 0x80) != 0) ascii = false; i += 1 }
    if (ascii) return null
    val offs = new Array[Int](b.length + 1)
    var n = 0
    i = 0
    while (i < b.length) {
      offs(n) = i
      n += 1
      val c = b(i) & 0xFF
      i += (if (c < 0x80) 1 else if (c < 0xE0) 2 else if (c < 0xF0) 3 else 4)
    }
    offs(n) = b.length
    java.util.Arrays.copyOf(offs, n + 1)
  }

  /** Packed `width`-char seed codes: out(i) = Σ_j code(i+j)·128^(w-1-j) with
    * code = the character's codepoint (`ascii()` semantics) and 0 past the
    * end — one long per character position.
    */
  def packedWindows(s: UTF8String, width: Int): ArrayData = {
    val b = s.getBytes
    val offs = codepointOffsets(b)
    if (offs == null) { // ASCII: codes are the bytes
      val n = b.length
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < width) {
          acc = acc * 128L + (if (i + j < n) (b(i + j) & 0xFF).toLong else 0L)
          j += 1
        }
        out(i) = acc
        i += 1
      }
      return new GenericArrayData(out)
    }
    val n = offs.length - 1
    val codes = new Array[Long](n)
    var i = 0
    while (i < n) {
      codes(i) = codePointAt(b, offs(i)).toLong
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < width) {
        acc = acc * 128L + (if (i + j < n) codes(i + j) else 0L)
        j += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The codepoint starting at byte `at`. A sequence cut short by the end of
    * the text decodes to U+FFFD, the replacement character, as `ascii()`
    * decodes it, instead of reading past the array.
    */
  private def codePointAt(b: Array[Byte], at: Int): Int = {
    val c = b(at) & 0xFF
    val len = if (c < 0x80) 1 else if (c < 0xE0) 2 else if (c < 0xF0) 3 else 4
    if (at + len > b.length) 0xFFFD
    else if (c < 0x80) c
    else if (c < 0xE0) ((c & 0x1F) << 6) | (b(at + 1) & 0x3F)
    else if (c < 0xF0)
      ((c & 0x0F) << 12) | ((b(at + 1) & 0x3F) << 6) | (b(at + 2) & 0x3F)
    else
      ((c & 0x07) << 18) | ((b(at + 1) & 0x3F) << 12) |
        ((b(at + 2) & 0x3F) << 6) | (b(at + 3) & 0x3F)
  }

  /** All `width`-char windows as strings: position i (0-based) yields
    * characters [i, i+width). `fullOnly` emits only complete windows
    * (i + width ≤ n — the dup/decontam shape); otherwise every suffix
    * contributes its (possibly truncated) prefix (the literal-seed shape).
    */
  def charWindows(s: UTF8String, width: Int, fullOnly: Boolean): ArrayData = {
    val b = s.getBytes
    val offs = codepointOffsets(b)
    val n = if (offs == null) b.length else offs.length - 1
    val count = if (fullOnly) math.max(n - width + 1, 0) else n
    if (count == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](count)
    var i = 0
    while (i < count) {
      val from = if (offs == null) i else offs(i)
      val until = if (offs == null) math.min(i + width, n)
        else offs(math.min(i + width, n))
      out(i) = UTF8String.fromBytes(b, from, until - from)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Packed seed codes of every suffix (string → array<long>). */
case class PackedCharWindows(child: Expression, width: Int)
    extends UnaryExpression {
  require(width >= 1 && width <= 9, s"width must be in [1, 9], got $width")
  override def prettyName: String = "packed_char_windows"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(s: Any): Any =
    SuffixSeedOps.packedWindows(s.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ops = ctx.addReferenceObj("suffixSeedOps", SuffixSeedOps,
      "graft.plans.SuffixSeedOps$")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ops.packedWindows($c, $width);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Literal character windows (string → array<string>). */
case class CharWindows(child: Expression, width: Int, fullOnly: Boolean)
    extends UnaryExpression {
  require(width >= 1, s"width must be >= 1, got $width")
  override def prettyName: String = "char_windows"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(s: Any): Any =
    SuffixSeedOps.charWindows(s.asInstanceOf[UTF8String], width, fullOnly)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ops = ctx.addReferenceObj("suffixSeedOps", SuffixSeedOps,
      "graft.plans.SuffixSeedOps$")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ops.charWindows($c, $width, $fullOnly);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Space-joined token n-gram windows (array<string> → array<string>) — the
  * shingle generator behind Dedup.withShingles / repeatedSpans /
  * exactTokenSpans / ngramOverlap. Replaces the interpreted
  * `transform(sequence(1, size-n+1), i -> array_join(slice(toks, i, n)))`
  * lambda (plus its per-window slice allocation) with one pass that reuses
  * a rolling byte length. `shortFallback` reproduces withShingles' whole-doc
  * shingle for docs shorter than n tokens; without it, short docs yield an
  * empty array (callers filter size ≥ n first). Null elements are skipped
  * exactly like array_join/concat_ws.
  */
case class JoinedTokenWindows(child: Expression, n: Int, shortFallback: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def prettyName: String = "joined_token_windows"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  def windows(toksAny: Any): ArrayData = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    val sep = UTF8String.fromString(" ")
    def at(i: Int): UTF8String =
      if (toks.isNullAt(i)) null else toks.getUTF8String(i)
    if (sz < n) {
      if (!shortFallback) return new GenericArrayData(Array.empty[Any])
      val all = new Array[UTF8String](sz)
      var i = 0
      while (i < sz) { all(i) = at(i); i += 1 }
      return new GenericArrayData(Array[AnyRef](UTF8String.concatWs(sep, all: _*)))
    }
    val count = sz - n + 1
    val out = new Array[AnyRef](count)
    val win = new Array[UTF8String](n)
    var i = 0
    while (i < count) {
      var j = 0
      while (j < n) { win(j) = at(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(toks: Any): Any = windows(toks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("joinedTokenWindows", this,
      "graft.plans.JoinedTokenWindows")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.windows($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SymSpell deletion neighborhood (string → array<string>): the input plus
  * every string reachable by at most `maxEdits` single-character deletions,
  * first-occurrence order (self, 1-deletions left to right, then their
  * 1-deletions) — exactly the retired declarative
  * `array_distinct(concat(array(e), d1, d2))` nested-transform form, which
  * ran interpreted with a substring concat per variant. Codepoint-based so
  * non-ASCII query terms delete whole characters (substring semantics).
  */
case class DeletionVariants(child: Expression, maxEdits: Int)
    extends UnaryExpression {
  require(maxEdits >= 1 && maxEdits <= 2, s"maxEdits must be 1 or 2, got $maxEdits")
  override def prettyName: String = "deletion_variants"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  def variants(sAny: Any): ArrayData = {
    val s = sAny.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val seen = new java.util.LinkedHashSet[String]()
    seen.add(s)
    def del1(cp: Array[Int]): Array[String] = {
      val out = new Array[String](cp.length)
      var i = 0
      while (i < cp.length) {
        val sb = new java.lang.StringBuilder(cp.length)
        var j = 0
        while (j < cp.length) { if (j != i) sb.appendCodePoint(cp(j)); j += 1 }
        out(i) = sb.toString
        i += 1
      }
      out
    }
    val d1 = del1(cps)
    d1.foreach(seen.add)
    if (maxEdits == 2) {
      var i = 0
      while (i < d1.length) {
        if (d1(i).nonEmpty) del1(d1(i).codePoints().toArray).foreach(seen.add)
        i += 1
      }
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(s: Any): Any = variants(s)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("deletionVariants", this,
      "graft.plans.DeletionVariants")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.variants($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SuffixSeedFunctions {
  def packedCharWindows(text: Column, width: Int): Column =
    ColumnBridge.toCol(PackedCharWindows(ColumnBridge.toExpr(text), width))
  def charWindows(text: Column, width: Int, fullOnly: Boolean): Column =
    ColumnBridge.toCol(CharWindows(ColumnBridge.toExpr(text), width, fullOnly))
  def joinedTokenWindows(toks: Column, n: Int, shortFallback: Boolean): Column =
    ColumnBridge.toCol(JoinedTokenWindows(ColumnBridge.toExpr(toks), n, shortFallback))
  def deletionVariants(term: Column, maxEdits: Int): Column =
    ColumnBridge.toCol(DeletionVariants(ColumnBridge.toExpr(term), maxEdits))
}
