package graft.tools

import graft.{Bench, Json, Session, SparkEntry}

/** Per-key timing for optimization A/Bs: Bench's method
  * ([[graft.Bench.timeKeys]] on a [[graft.Session]]) restricted to the
  * named keys — so a single query's before/after can be measured in
  * seconds instead of a full 216-key suite run. Usage:
  *   runMain graft.tools.TimeKeys <sfDir> <passes> <query> [query...]
  * Prints one "TIMEKEYS {json}" line: per key the min seconds (-1 when
  * it failed) and the row count, plus the errors. The official numbers
  * remain graft.Bench's.
  */
object TimeKeys {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    // every name resolves (or fails by name) before Spark starts
    val keys = args.drop(2).toSeq.map(n => n -> SparkEntry.query(n))
    val spark = Session.create()
    val t = Bench.timeKeys(spark, sfDir, keys, passes)
    spark.stop()
    val qs = t.seconds.map { case (k, v) =>
      Json.quote(k) + ":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    }.mkString("{", ",", "}")
    val rows = t.seconds.collect { case (k, _) if t.rows.contains(k) =>
      Json.quote(k) + ":" + t.rows(k) }.mkString("{", ",", "}")
    val errors = t.errors.map(Json.quote).mkString("[", ",", "]")
    println(s"""TIMEKEYS {"sf":${Json.quote(sfDir)},"cpus":"${Session.cpus()}","passes":$passes,""" +
      s""""queries":$qs,"rows":$rows,"errors":$errors}""")
  }
}
