package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE encode — priority merges over a broadcast rank table,
  * per-row O(len·log len) INDEPENDENT of vocabulary size. The one
  * encoder on production paths (`q_bpe_tokens`, the byte-level keys).
  *
  * A rank-order `replace` chain (one `replace` per rule, the form
  * [[BpeTokenizer.oracleEncodeSql]] generates for the oracle) cannot
  * reach a production 32k-merge vocabulary: expression depth and
  * per-row cost both grow with the rule count (r15 verdict item 2).
  * This expression runs the classic lowest-rank-pair-first merge loop
  * (the GPT-2 encoder shape): a doubly-linked token list over the
  * word's chars plus a binary heap of (rank, position) candidates with
  * lazy invalidation — each pop either merges one pair (pushing ≤ 2
  * new candidates) or discards a stale entry, so total work is
  * O(len·log len) with the rank lookup a hash probe into a table that
  * rides the expression tree as a plan constant (broadcast with the
  * closure; no side lookup, no shuffle).
  *
  * Chain equivalence (gated by `q_bpe_tokens`, whose DuckDB oracle
  * replays the CHAIN form): for a WELL-FORMED table — every rule side
  * is a single char or the output of an earlier rule, the defining
  * property of a trained merge list, validated eagerly by
  * [[BpeEncode.Table]] — merging the lowest-ranked pair first,
  * leftmost occurrence first, performs exactly one left-to-right
  * non-overlapping pass per rule in rank order: a merge can only
  * create pairs of LATER rank (no earlier rule references a later
  * rule's output), and killing the right token invalidates any
  * overlapping same-rank candidate, which is precisely the chain's
  * `replace` semantics. Output is the same `|tok||tok|`-framed string
  * the chain produces, so the proof is bit-level.
  *
  * Registered as SQL `bpe_encode(word)` over the gated
  * [[BpeTokenizer.Merges]] table via [[GraftExtensions]]; tests
  * construct the expression directly with 1000+-rule tables. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "bpe_encode"

  /** Built once per expression instance on the executor that
    * deserializes it — the "broadcast" of the rank table. */
  @transient private lazy val table = new BpeEncode.Table(merges)

  override protected def nullSafeEval(v: Any): Any =
    BpeEncode.encodeWord(v.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeEncode.Table].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeEncode.encodeWord($c, $tableRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeEncode {

  /** Parse a merge-table SPEC string — rules as `left right` joined
    * by `;` (e.g. `"t h;i n;th e"`) — the form the 2-arg SQL surface
    * `bpe_encode(word, spec)` takes. The spec must be a foldable
    * literal: a production vocabulary is a few hundred KB of plan
    * constant, broadcast with the query, never a side lookup. */
  def parseSpec(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.nonEmpty).map { rule =>
      val i = rule.indexOf(' ')
      require(i > 0 && i < rule.length - 1,
        s"bpe_encode: malformed rule '$rule' (want 'left right')")
      (rule.substring(0, i), rule.substring(i + 1))
    }

  /** Render a merge table back into the spec form (the inverse of
    * [[parseSpec]]) — for callers shipping a custom table through the
    * SQL surface. */
  def toSpec(merges: Seq[(String, String)]): String =
    merges.map { case (l, r) => s"$l $r" }.mkString(";")

  /** The validated rank table. Validation enforces the well-formedness
    * the chain-equivalence proof needs: rule k's sides must be single
    * chars or outputs of rules before k (a trained merge list has this
    * by construction; a hand-edited one that violates it would make
    * priority order and rank-pass order genuinely diverge, so it is
    * rejected loudly instead of encoding differently from the chain).
    * A repeated pair keeps its FIRST rank — the chain's later
    * duplicate rule is a no-op for the same reason. */
  final class Table(merges: Seq[(String, String)]) extends Serializable {
    private[BpeEncode] val rank = new java.util.HashMap[String, Integer](merges.size * 2)
    locally {
      val outputs = new java.util.HashSet[String]()
      merges.zipWithIndex.foreach { case ((l, r), k) =>
        require(l.nonEmpty && r.nonEmpty, s"bpe_encode: empty side in rule $k")
        // "single char" means one CODE POINT, matching encodeWord's
        // initial tokenization: a non-BMP code point is 2 UTF-16 units
        // but still a valid atomic side (advice r16).
        require(l.codePointCount(0, l.length) == 1 || outputs.contains(l),
          s"bpe_encode: rule $k left side '$l' is neither a char nor an earlier output")
        require(r.codePointCount(0, r.length) == 1 || outputs.contains(r),
          s"bpe_encode: rule $k right side '$r' is neither a char nor an earlier output")
        require(!l.contains('\u0000') && !r.contains('\u0000'),
          s"bpe_encode: rule $k contains NUL (the rank-key separator)")
        rank.putIfAbsent(l + "\u0000" + r, k)
        outputs.add(l + r): Unit
      }
    }
    def size: Int = rank.size
  }

  /** Static seam for generated code. Encodes one word into the framed
    * `|tok||tok|` form, bit-identical to the rank-order replace chain
    * ([[BpeTokenizer.oracleEncodeSql]]) on the same table. */
  def encodeWord(u: UTF8String, table: Table): UTF8String = {
    val s = u.toString
    if (s.isEmpty) return UTF8String.EMPTY_UTF8
    // Initial tokens are CODE POINTS, not UTF-16 units: the chain's
    // frame regex `(.)` matches per code point (Java regex and RE2
    // both do), so splitting a surrogate pair here would corrupt
    // non-BMP input AND diverge from the chain the gate compares
    // against. `starts` maps token index -> char offset; merges only
    // ever extend `end`, so token index stays position-ordered.
    val starts = {
      val b = new Array[Int](s.length)
      var c = 0; var k = 0
      while (c < s.length) { b(k) = c; k += 1; c += Character.charCount(s.codePointAt(c)) }
      java.util.Arrays.copyOf(b, k)
    }
    val n = starts.length
    // token i covers chars s[starts(i), end(i)); the linked list
    // threads the alive tokens
    val end = new Array[Int](n)
    val prev = new Array[Int](n)
    val next = new Array[Int](n)
    val alive = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      end(i) = if (i + 1 < n) starts(i + 1) else s.length
      prev(i) = i - 1; next(i) = i + 1; alive(i) = true
      i += 1
    }
    def rankOf(l: Int, r: Int): Int = {
      // key built by offsets — no intermediate token strings
      val sb = new java.lang.StringBuilder(end(r) - starts(l) + 1)
      sb.append(s, starts(l), end(l)).append('\u0000').append(s, starts(r), end(r))
      val v = table.rank.get(sb.toString)
      if (v == null) -1 else v.intValue()
    }
    // candidates packed (rank << 32 | leftIdx): natural long order =
    // rank asc, then leftmost-first (token index is position-ordered
    // and never changes — merges only extend a token's end)
    val heap = new java.util.PriorityQueue[java.lang.Long]()
    i = 0
    while (i < n - 1) {
      val rk = rankOf(i, i + 1)
      if (rk >= 0) heap.add((rk.toLong << 32) | i.toLong): Unit
      i += 1
    }
    while (!heap.isEmpty) {
      val packed = heap.poll().longValue()
      val rk = (packed >>> 32).toInt
      val li = (packed & 0xffffffffL).toInt
      if (alive(li) && next(li) < n && rankOf(li, next(li)) == rk) {
        val ri = next(li)
        end(li) = end(ri)
        alive(ri) = false
        next(li) = next(ri)
        if (next(li) < n) prev(next(li)) = li
        if (prev(li) >= 0) {
          val r2 = rankOf(prev(li), li)
          if (r2 >= 0) heap.add((r2.toLong << 32) | prev(li).toLong): Unit
        }
        if (next(li) < n) {
          val r2 = rankOf(li, next(li))
          if (r2 >= 0) heap.add((r2.toLong << 32) | li.toLong): Unit
        }
      } // else: stale entry (token died or grew) — lazy invalidation
    }
    // walk the alive chain: token 0 always survives (a merge kills
    // only its RIGHT member), and next() of an alive token threads
    // alive tokens only
    val out = new java.lang.StringBuilder(s.length + 2 * n)
    var t = 0
    while (t < n) {
      out.append('|').append(s, starts(t), end(t)).append('|')
      t = next(t)
    }
    UTF8String.fromString(out.toString)
  }
}
