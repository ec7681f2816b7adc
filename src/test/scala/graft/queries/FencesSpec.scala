package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The one fence policy (Fences.scala): local default is an eager
  * localCheckpoint; setting spark.graft.checkpointDir swaps every
  * rowScale fence to a reliable checkpoint through that dir with
  * IDENTICAL results — the cluster-durability mode (r19 verdict
  * item 7). */
class FencesSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("rowScale default: eager localCheckpoint, rows unchanged") {
    import spark.implicits._
    val out = Fences.rowScale(spark.range(1000).toDF("id"), budget = "8 B/row")
    assert(out.count() == 1000)
    assert(out.as[Long].collect().sorted.sameElements(0L until 1000L))
  }

  test("rowScale with spark.graft.checkpointDir: reliable checkpoint, identical query results") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-fence-ck")
    val plain = PipelineOps.qBloomGate(spark, dir).collect().map(_.toString).sorted
    spark.conf.set(Fences.CheckpointDirKey, ckDir.toString)
    try {
      val reliable = PipelineOps.qBloomGate(spark, dir).collect().map(_.toString).sorted
      assert(reliable.sameElements(plain),
        "reliable-checkpoint fence changed query results")
      // the swap actually wrote through the dir (not a silent local fallback)
      val wrote = java.nio.file.Files.walk(ckDir).anyMatch(p =>
        java.nio.file.Files.isRegularFile(p))
      assert(wrote, s"no checkpoint files under $ckDir — the swap did not engage")
    } finally spark.conf.unset(Fences.CheckpointDirKey)
  }

  test("rowScale sets the checkpoint dir once per dir, not once per fence") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-fence-once")
    spark.conf.set(Fences.CheckpointDirKey, ckDir.toString)
    try {
      assert(Fences.rowScale(spark.range(10).toDF("id"), budget = "8 B/row").count() == 10)
      val first = spark.sparkContext.getCheckpointDir
      assert(first.exists(_.contains(ckDir.getFileName.toString)), first.toString)
      assert(Fences.rowScale(spark.range(20).toDF("id"), budget = "8 B/row").count() == 20)
      assert(spark.sparkContext.getCheckpointDir == first)
      // one UUID subdirectory under the configured dir, not one per call
      assert(java.nio.file.Files.list(ckDir).count() == 1)
    } finally spark.conf.unset(Fences.CheckpointDirKey)
  }
}
