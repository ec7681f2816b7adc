package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A byte-pair-merge tokenizer whose vocabulary is DATA, not a
  * dependency: [[Merges]] is the ranked merge table (the artifact BPE
  * training produces — ship a different table, get a different
  * tokenizer; nothing else changes), and encoding is a pure
  * expression chain — one codegen'd `replace` per merge rule folded
  * over a delimiter-framed character split — so tokenization runs
  * inside whole-stage codegen with zero UDFs and zero per-row
  * interpretation.
  *
  * Encoding uses the classic apply-rules-in-rank-order formulation
  * (Sennrich et al., ACL'16 re-implementations apply each learned
  * merge as a global pass): a word is framed as `|c|h|a|r|s|` and rule
  * k rewrites every `|left|right|` occurrence to `|leftright|`,
  * left-to-right. Both engines' literal `replace` scans left-to-right
  * over non-overlapping matches, so the oracle replays the EXACT merge
  * loop as `replace(replace(...))` nesting generated from the same
  * table — one source of truth for both sides of the gate. The
  * delimiter framing is what makes a pair pattern unambiguous: a rule
  * can never match across token boundaries or inside a longer token,
  * because every token is `|`-bounded on both sides and `|` never
  * occurs in a token ([a-z]+ words only).
  *
  * At 100 TB this is the right shape: the merge table is a few KB of
  * plan constants broadcast with the expression tree itself (no side
  * lookup, no shuffle), and per-row cost is linear in text length ×
  * rules — embarrassingly parallel over any partitioning. */
object BpeTokenizer {

  /** Ranked merge table. Early rules pair raw characters; later rules
    * build on earlier merged tokens (the defining BPE property —
    * `the` exists only because `th` was learned first). */
  val Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "e" -> "r", "a" -> "n", "r" -> "e",
    "o" -> "n", "e" -> "n", "a" -> "t", "e" -> "s", "o" -> "r",
    "t" -> "e", "e" -> "d", "i" -> "s", "i" -> "t", "a" -> "l",
    "a" -> "r", "s" -> "t", "n" -> "d", "n" -> "t", "n" -> "g",
    "s" -> "e", "h" -> "a", "o" -> "u", "l" -> "e", "v" -> "e",
    "c" -> "o", "m" -> "e", "d" -> "e", "h" -> "i", "r" -> "i",
    "th" -> "e", "in" -> "g", "an" -> "d", "er" -> "s", "i" -> "on",
    "t" -> "ion", "en" -> "t", "at" -> "e", "o" -> "f", "t" -> "o")

  /** `hello` → `|h||e||l||l||o|`: every token its OWN `|tok|` unit.
    * The double delimiter between tokens is load-bearing: a pair
    * pattern `|l||r|` shares no characters with the adjacent pair's
    * match, so one left-to-right pass merges every disjoint
    * occurrence (with the single-delimiter form, replacing `|i|n|`
    * consumes the `|` the next `in` needed, and runs like `inin`
    * under-merge — caught by BpeTokenizerSpec's hand traces). */
  private def frame(word: Column): Column =
    regexp_replace(word, "(.)", "|$1|")

  /** The encode chain: the framed word rewritten by every merge rule
    * in rank order. Plain column expressions end to end — Catalyst
    * constant-folds the patterns and codegen emits a straight-line
    * String.replace chain. The table-parameterized form exists for
    * the chain-vs-native checks (BpeEncodeSpec), so they provably
    * compare against THIS chain, not a reimplementation. */
  def encode(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(frame(word)) { case (c, (l, r)) =>
      replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }

  def encode(word: Column): Column = encode(word, Merges)

  /** Token count of an encoded word: every token carries exactly two
    * delimiters. */
  def tokenCount(encoded: Column): Column =
    ((length(encoded) - length(replace(encoded, lit("|"), lit("")))) / 2).cast("long")

  /** The SAME encode chain as a DuckDB SQL expression over `w`,
    * generated from the SAME table — the oracle replays the merge
    * loop rather than trusting a second implementation. */
  def oracleEncodeSql(inner: String): String =
    Merges.foldLeft(s"regexp_replace($inner, '(.)', '|\\1|', 'g')") {
      case (acc, (l, r)) => s"replace($acc, '|$l||$r|', '|$l$r|')"
    }

  def oracleTokenCountSql(encodedSql: String): String =
    s"((length($encodedSql) - length(replace($encodedSql, '|', ''))) // 2)"
}
