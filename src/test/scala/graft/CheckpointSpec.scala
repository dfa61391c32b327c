package graft

import org.apache.spark.sql.functions._

import graft.operators.Operators

/** CacheScope.cut's durability dispatch (r17): localCheckpoint with
  * no checkpoint dir, reliable checkpoint() when the context has one
  * — same rows either way — and drain() releases the cut blocks or
  * deletes the checkpoint files. */
class CheckpointSpec extends SparkSpec {
  test("cut is local without a checkpoint dir and reliable with one; rows identical") {
    val sc = spark.sparkContext
    import spark.implicits._
    val df = (1 to 100).toDF("x").withColumn("y", col("x") * 2)
    val localRows = CacheScope.cut(df).as[(Int, Int)].collect().sorted
    assert(localRows.map(_._1).sameElements(1 to 100))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    def checkpointFiles() = java.nio.file.Files.walk(dir)
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    sc.setCheckpointDir(dir.toString)
    try {
      val rel = CacheScope.cut(df)
      assert(rel.as[(Int, Int)].collect().sorted.sameElements(localRows))
      // the reliable path wrote actual checkpoint files
      assert(checkpointFiles() > 0, "reliable cut should write to the checkpoint dir")
      // a fixpoint operator that cuts every round stays exact under
      // the reliable path (the distributed loop directly: the public
      // entry point labels a graph this small on the driver, no cut)
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
      val und = edges.select("a_id", "b_id").union(edges.select("b_id", "a_id"))
        .toDF("src", "dst").cache()
      val comps = Operators.ccDistributed(und)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(comps(1L) == comps(2L) && comps(2L) == comps(3L))
      assert(comps(10L) == comps(11L) && comps(1L) != comps(10L))
      // drain deletes every reliable cut's checkpoint files
      CacheScope.drain()
      assert(checkpointFiles() == 0, "drain must delete the checkpoint files")
    } finally {
      // setCheckpointDir is sticky for the JVM; pin the suites that
      // run after this one back to the (pre-spec) local behavior
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
      CacheScope.drain()
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
    }
  }

  test("explicit reliable=false overrides a configured checkpoint dir") {
    import spark.implicits._
    // set by the previous test's finally (and asserted here so the
    // override path is the one exercised)
    assert(spark.conf.get("spark.graft.checkpoint.reliable") == "false")
    val df = (1 to 10).toDF("x")
    val out = CacheScope.cut(df)
    assert(out.as[Int].collect().sorted.sameElements(1 to 10))
    CacheScope.drain()
  }
}
