package graft.core

import org.apache.spark.sql.execution.SparkPlan

import graft.SparkSpec

/** Contract of the ONE materialization helper (round-15 verdict item 5):
  * the default mode is the eager localCheckpoint the operators measured
  * against; `reliable` routes through a real checkpoint dir (the 100 TB /
  * dynamic-allocation posture); `persist` keeps lineage. All three return
  * the same rows. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def frame = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  test("default mode is an eager local checkpoint (scan-of-RDD plan)") {
    spark.conf.unset("spark.graft.materialize")
    val m = Materialize.once(frame)
    // a checkpointed frame plans as a scan over the materialized RDD —
    // no trace of the original subtree
    assert(executed(m).toString.contains("Scan ExistingRDD"))
    assert(m.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("persist mode keeps lineage and returns identical rows") {
    spark.conf.set("spark.graft.materialize", "persist")
    try {
      val m = Materialize.once(frame)
      assert(executed(m).toString.contains("InMemoryTableScan"))
      assert(m.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b", "c"))
      m.unpersist()
    } finally spark.conf.unset("spark.graft.materialize")
  }

  test("reliable mode checkpoints under spark.graft.checkpointDir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec").toString
    spark.conf.set("spark.graft.materialize", "reliable")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val m = Materialize.once(frame)
      assert(m.orderBy("id").collect().length == 3)
      // the checkpoint landed in the context's dir: the configured one, or
      // the one an earlier suite already set (a context keeps its first)
      val cp = spark.sparkContext.getCheckpointDir
      assert(cp.nonEmpty, "reliable mode must leave a checkpoint dir set")
      val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(cp.get).toUri.getPath))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(landed > 0, s"no checkpoint files under ${cp.get}")
    } finally {
      spark.conf.unset("spark.graft.materialize")
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("reliable mode without any checkpoint dir throws and names the key") {
    val sc = spark.sparkContext
    // the context keeps its checkpoint dir for life; clear it for this case
    val setDir = sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[_]])
    val prev = sc.getCheckpointDir
    setDir.invoke(sc, None)
    spark.conf.set("spark.graft.materialize", "reliable")
    spark.conf.unset("spark.graft.checkpointDir")
    try {
      val e = intercept[IllegalStateException](Materialize.once(frame))
      assert(e.getMessage.contains("spark.graft.checkpointDir"))
      assert(sc.getCheckpointDir.isEmpty, "no fallback dir may be set")
    } finally {
      setDir.invoke(sc, prev)
      spark.conf.unset("spark.graft.materialize")
    }
  }
}
