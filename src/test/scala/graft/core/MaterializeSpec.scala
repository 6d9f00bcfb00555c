package graft.core

import org.apache.spark.sql.execution.SparkPlan

import graft.SparkSpec

/** Contract of the ONE materialization helper: without
  * `spark.graft.checkpointDir` it is the eager localCheckpoint the
  * operators measured against; with it, a real checkpoint under that dir
  * (the 100 TB / dynamic-allocation posture). Both truncate lineage and
  * return the same rows. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def frame = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  test("default mode is an eager local checkpoint (scan-of-RDD plan)") {
    val m = Materialize.once(frame)
    // a checkpointed frame plans as a scan over the materialized RDD —
    // no trace of the original subtree
    assert(executed(m).toString.contains("Scan ExistingRDD"))
    assert(m.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("reliable mode checkpoints under spark.graft.checkpointDir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val m = Materialize.once(frame)
      assert(executed(m).toString.contains("Scan ExistingRDD"))
      assert(m.orderBy("id").collect().length == 3)
      // the checkpoint landed in the context's dir: the configured one, or
      // the one an earlier suite already set (a context keeps its first)
      val cp = spark.sparkContext.getCheckpointDir
      assert(cp.nonEmpty, "reliable mode must leave a checkpoint dir set")
      val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(cp.get).toUri.getPath))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(landed > 0, s"no checkpoint files under ${cp.get}")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
