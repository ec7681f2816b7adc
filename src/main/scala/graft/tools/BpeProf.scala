package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Chain-vs-native BPE probe: for each rule count, build the replace
  * CHAIN and the NATIVE expression over the same synthetic table and
  * time an encode pass over generated words — the measurement behind
  * the q_bpe_encode_native scale claim. Usage:
  * `runMain graft.tools.BpeProf [ruleCounts...]` (default 40 676 1500). */
object BpeProf {

  /** Well-formed synthetic vocabulary of size n: all 676 char pairs,
    * then (pair, char) extensions — same construction as BpeEncodeSpec. */
  def table(n: Int): Seq[(String, String)] = {
    val chars = ('a' to 'z').map(_.toString)
    val layer1 = for (x <- chars; y <- chars) yield (x, y)
    val layer2 = for (x <- chars; y <- chars; z <- chars) yield (x + y, z)
    ((layer1 ++ layer2) take n).toSeq
  }

  /** The REAL gated chain, table-parameterized — never a profiler
    * reimplementation that could drift from what the gate runs. */
  def chainColumn(w: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeTokenizer.encode(w, merges)

  def main(args: Array[String]): Unit = {
    val counts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(40, 676, 1500)
    val spark = graft.Session.create()
    import spark.implicits._
    val words = spark.range(200000)
      .select(concat_ws("", (0 until 8).map(i =>
        substring(conv((hash(col("id") * 31 + i)).cast("long").bitwiseAND(0xfffffff), 10, 36), 1, 3)): _*)
        .as("w"))
      .select(lower($"w").as("w"))
      .localCheckpoint()
    counts.foreach { n =>
      val m = table(n)
      def time(label: String)(mk: => Column): Unit = {
        val t0 = System.nanoTime()
        val r = try {
          val c = mk
          val out = words.select(sum(length(c))).as[Long].head()
          f"ok sum=$out (${(System.nanoTime() - t0) / 1e9}%.2f s)"
        } catch {
          case e: Throwable =>
            s"FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"
        }
        println(s"[bpeprof] rules=$n $label: $r")
      }
      time("native") {
        graft.functions.GraftFunctions.bpeEncode($"w", graft.functions.BpeEncode.toSpec(m))
      }
      // byte-level mode at the same rule count (a–z rules are remap
      // fixed points, so the table is valid in both alphabets); the
      // multilingual suffix makes every row pay the real remap cost
      // on 2–4-byte sequences — the q_bpe_bytelevel scale measurement
      time("native-bytes") {
        graft.functions.GraftFunctions.bpeEncodeBytes(
          concat($"w", lit(" café 日本 😀")), graft.functions.BpeEncode.toSpec(m))
      }
      time("chain")(chainColumn($"w", m))
    }
    spark.stop()
  }
}
