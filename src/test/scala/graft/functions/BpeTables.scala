package graft.functions

/** Test vocabularies shared by the BPE specs. */
object BpeTables {

  /** Well-formed synthetic vocabulary of size n: all 676 char pairs,
    * then (pair, char) extensions — the shape of a real trained table. */
  def synthetic(n: Int): Seq[(String, String)] = {
    val chars = ('a' to 'z').map(_.toString)
    val layer1 = for (x <- chars; y <- chars) yield (x, y)
    val layer2 = for (x <- chars; y <- chars; z <- chars) yield (x + y, z)
    ((layer1 ++ layer2) take n).toSeq
  }
}
