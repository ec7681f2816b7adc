package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark sessions are
  * expensive; ScalaTest suites in one forked JVM share it). The mains'
  * conf set ([[Session.conf]]) at a fixed 4 cores, whatever
  * SPARK_GRAFT_CPUS says, with its own app name and a temp warehouse. */
object SparkTestSession {
  lazy val spark: SparkSession = Session.build(Session.conf("4") ++ Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
