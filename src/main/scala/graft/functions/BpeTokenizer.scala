package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A byte-pair-merge tokenizer whose vocabulary is DATA, not a
  * dependency: [[Merges]] is the ranked merge table (the artifact BPE
  * training produces — ship a different table, get a different
  * tokenizer; nothing else changes). Encoding runs in the native
  * [[BpeEncode]] expression (SQL `bpe_encode`), a lowest-rank-pair
  * merge loop; this object holds the table, the token counter over the
  * `|tok||tok|`-framed output, and the ORACLE side of the gate.
  *
  * The oracle uses the classic apply-rules-in-rank-order formulation
  * (Sennrich et al., ACL'16 re-implementations apply each learned
  * merge as a global pass): a word is framed as `|c||h||a||r|` and
  * rule k rewrites every `|left||right|` occurrence to `|leftright|`,
  * left-to-right. DuckDB's literal `replace` scans left-to-right over
  * non-overlapping matches, so [[oracleEncodeSql]] replays the EXACT
  * merge loop as `replace(replace(...))` nesting generated from the
  * same table — one source of truth for both sides of the gate, and a
  * second ALGORITHM against the native one. The framing is what makes
  * a pair pattern unambiguous: a rule can never match across token
  * boundaries or inside a longer token, because every token is
  * `|`-bounded on both sides and `|` never occurs in a token ([a-z]+
  * words only). The double delimiter between tokens is load-bearing:
  * a pair pattern `|l||r|` shares no characters with the adjacent
  * pair's match, so one left-to-right pass merges every disjoint
  * occurrence (with a single-delimiter form, replacing `|i|n|`
  * consumes the `|` the next `in` needed, and runs like `inin`
  * under-merge). */
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

  /** Token count of an encoded word: every token carries exactly two
    * delimiters. */
  def tokenCount(encoded: Column): Column =
    ((length(encoded) - length(replace(encoded, lit("|"), lit("")))) / 2).cast("long")

  /** The rank-order replace chain as a DuckDB SQL expression over
    * `inner`, generated from the SAME table — the oracle replays the
    * merge loop rather than trusting the native implementation. */
  def oracleEncodeSql(inner: String): String =
    Merges.foldLeft(s"regexp_replace($inner, '(.)', '|\\1|', 'g')") {
      case (acc, (l, r)) => s"replace($acc, '|$l||$r|', '|$l$r|')"
    }

  def oracleTokenCountSql(encodedSql: String): String =
    s"((length($encodedSql) - length(replace($encodedSql, '|', ''))) // 2)"
}
