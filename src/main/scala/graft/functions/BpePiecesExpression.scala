package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** BPE piece count of a text under a frozen merge table [public:
  * Sennrich et al. 2016] — the token price the declared k57 query
  * reports. Semantics, shared with the k57 DuckDB oracle:
  *
  *  - split the text on ' ', keeping empty tokens;
  *  - split each word into code points; an empty word is one empty
  *    symbol, so it counts as 1 piece;
  *  - apply the merges in learned order, each greedy leftmost;
  *  - sum the per-word piece counts.
  *
  * The merge table is a constructor field, not a child: it is model-sized
  * and frozen, and reaches generated code through `ctx.addReferenceObj`.
  * Scale shape: map-only scalar, codegen'd via nullSafeCodeGen calling
  * [[BpeFold.pieces]], which works on the UTF-8 bytes with one int symbol
  * buffer per row (no per-symbol allocation), so the projection stays
  * inside WholeStageCodegen. Parity with the independent reference
  * `graft.operators.Bpe.encode` is pinned in Round18Spec.
  */
final case class BpePiecesExpression(child: Expression, merges: BpeMergeTable)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_pieces"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_pieces requires a STRING argument, got ${t.simpleString(10)}")
    }

  override def nullSafeEval(s: Any): Any =
    BpeFold.pieces(s.asInstanceOf[UTF8String], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeMerges", merges, classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeFold.pieces($c, $t);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpePiecesExpression =
    copy(child = newChild)
}

/** The array → array form of the same fold: a symbol array re-encoded
  * under `merges` (symbols the table does not know pass through). What
  * `graft.operators.Bpe.train` re-derives its symbol column with each
  * round; it calls the same worker as [[BpePiecesExpression]]. */
final case class BpeEncodeExpression(child: Expression, merges: BpeMergeTable)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode requires an ARRAY<STRING> argument, got ${t.simpleString(10)}")
    }

  override def nullSafeEval(a: Any): Any =
    BpeFold.encode(a.asInstanceOf[ArrayData], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeMerges", merges, classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeFold.encode($c, $t);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeExpression =
    copy(child = newChild)
}

/** A merge table compiled to int symbol ids: every operand and result
  * string is interned once, so the fold compares ints. Equality is by
  * `rules` (the case-class field), so two plans over the same table are
  * semantically equal. Operands must be nonempty: with an empty `b`,
  * `a + b == a` and a rule would cascade within itself. */
final case class BpeMergeTable(rules: Seq[(String, String)]) {
  require(rules.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
    "BPE merge operands must be nonempty")

  private val interned = new java.util.LinkedHashMap[String, Integer]()
  private def intern(s: String): Int = {
    val i = interned.get(s)
    if (i != null) i.intValue
    else { val n = interned.size; interned.put(s, n); n }
  }

  private[functions] val ruleA: Array[Int] = rules.map(r => intern(r._1)).toArray
  private[functions] val ruleB: Array[Int] = rules.map(r => intern(r._2)).toArray
  private[functions] val ruleOut: Array[Int] =
    rules.map { case (a, b) => intern(a + b) }.toArray

  /** id → symbol, and symbol → id for the array form. */
  private[functions] val symbols: Array[UTF8String] =
    interned.keySet.toArray(new Array[String](0)).map(UTF8String.fromString)
  private[functions] val ids = new java.util.HashMap[UTF8String, Integer]()
  symbols.indices.foreach(i => ids.put(symbols(i), i))

  /** Initial-symbol ids by code point: a table for ASCII, a map for the
    * rest; -1 is a code point no rule names. */
  private[functions] val asciiIds: Array[Int] =
    Array.tabulate(128)(c => Option(interned.get(c.toChar.toString)).fold(-1)(_.intValue))
  private[functions] val wideIds = new java.util.HashMap[Integer, Integer]()
  interned.forEach { (s, i) =>
    if (s.codePointCount(0, s.length) == 1 && s.codePointAt(0) >= 128)
      wideIds.put(s.codePointAt(0), i)
  }

  override def toString: String = s"${rules.length} merges"
}

/** The static worker both BPE expressions' generated code calls. */
object BpeFold {

  /** Applies every rule of `t`, in order, to `buf[0, n)` in place, each
    * greedy leftmost: a pair (a, b) merges unless its `a` was already the
    * right half of the previous merge. Returns the new length. Unknown
    * symbols carry negative ids and never match a rule. */
  private def applyRules(buf: Array[Int], n0: Int, t: BpeMergeTable): Int = {
    var n = n0
    var r = 0
    while (r < t.ruleA.length && n >= 2) {
      val a = t.ruleA(r); val b = t.ruleB(r); val ab = t.ruleOut(r)
      var i = 0
      var w = 0
      while (i < n) {
        if (i + 1 < n && buf(i) == a && buf(i + 1) == b) { buf(w) = ab; i += 2 }
        else { buf(w) = buf(i); i += 1 }
        w += 1
      }
      n = w
      r += 1
    }
    n
  }

  /** Piece count of `text`: ' '-split words (empty ones kept, each 1
    * piece), code-point symbols decoded straight from the UTF-8 bytes
    * into one buffer reused across the row's words. */
  def pieces(text: UTF8String, t: BpeMergeTable): Long = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    val buf = new Array[Int](len)
    var total = 0L
    var n = 0
    var i = 0
    while (i <= len) {
      val b = if (i < len) Platform.getByte(base, off + i) & 0xff else ' '.toInt
      if (b == ' ') {
        total += (if (n == 0) 1 else applyRules(buf, n, t))
        n = 0
        i += 1
      } else if (b < 0x80) {
        buf(n) = t.asciiIds(b)
        n += 1
        i += 1
      } else {
        val width = if (b >= 0xf0) 4 else if (b >= 0xe0) 3 else if (b >= 0xc0) 2 else 1
        var cp = b & (0x7f >> width)
        var j = 1
        while (j < width && i + j < len &&
            (Platform.getByte(base, off + i + j) & 0xc0) == 0x80) {
          cp = (cp << 6) | (Platform.getByte(base, off + i + j) & 0x3f)
          j += 1
        }
        val id = if (j == width && width > 1) t.wideIds.get(cp) else null
        buf(n) = if (id == null) -1 else id.intValue
        n += 1
        i += j
      }
    }
    total
  }

  /** Array form: `symbols` re-encoded under `t`. Symbols outside the
    * table keep their own string (each gets a distinct negative id). */
  def encode(symbols: ArrayData, t: BpeMergeTable): ArrayData = {
    val n0 = symbols.numElements()
    val buf = new Array[Int](n0)
    val unknown = new Array[UTF8String](n0)
    var i = 0
    while (i < n0) {
      val s = if (symbols.isNullAt(i)) null else symbols.getUTF8String(i)
      val id = if (s == null) null else t.ids.get(s)
      if (id != null) buf(i) = id.intValue
      else { unknown(i) = s; buf(i) = -1 - i }
      i += 1
    }
    val n = applyRules(buf, n0, t)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (buf(i) >= 0) t.symbols(buf(i)) else unknown(-1 - buf(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}
