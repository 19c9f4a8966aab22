package graft.streaming

import graft.SparkTestBase

/** Contract of the state-store partition AUTOSIZER (r18 verdict
  * item 1): one state partition per `graft.streaming.statePartitionBytes`
  * of source volume, clamped to [2, session shuffle partitions] — the
  * guide-§2 scale-adaptive replacement for the old hard-coded 8. The
  * partition count only shards keys across stores, so it is invisible
  * in any query's result (the streaming suites assert the outputs);
  * this spec pins the sizing arithmetic itself. */
class StatePartitionsSpec extends SparkTestBase {

  private def fileOf(bytes: Int): String = {
    val d = new java.io.File(tmpDir("state_parts"))
    d.mkdirs()
    val f = new java.io.File(d, s"src_$bytes.bin")
    java.nio.file.Files.write(f.toPath, new Array[Byte](bytes))
    f.getAbsolutePath
  }

  test("tiny source floors at 2 partitions (the multi-partition demo floor)") {
    assert(StreamRun.statePartitionsFor(spark, fileOf(1024)) == 2)
  }

  test("partition count scales with source bytes at the configured target") {
    withConf("graft.streaming.statePartitionBytes" -> "512") {
      assert(StreamRun.statePartitionsFor(spark, fileOf(2048)) == 4)
      assert(StreamRun.statePartitionsFor(spark, fileOf(1537)) == 4) // ceil
      assert(StreamRun.statePartitionsFor(spark, fileOf(1536)) == 3)
    }
  }

  test("ceiling is the session's shuffle partitions (the cluster-sized knob)") {
    withConf("graft.streaming.statePartitionBytes" -> "1") {
      assert(StreamRun.statePartitionsFor(spark, fileOf(4096)) ==
        spark.sessionState.conf.numShufflePartitions)
    }
  }

  test("directory sources sum their data files; a missing path floors at 2") {
    val d = new java.io.File(tmpDir("state_parts_dir"))
    d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "a.parquet").toPath,
      new Array[Byte](1500))
    java.nio.file.Files.write(new java.io.File(d, "b.parquet").toPath,
      new Array[Byte](1500))
    // a partitioned source keeps its files one level down
    val nested = new java.io.File(tmpDir("state_parts_nested"))
    Seq("event_date=1", "event_date=2").foreach { p =>
      val part = new java.io.File(nested, p)
      part.mkdirs()
      java.nio.file.Files.write(new java.io.File(part, "a.parquet").toPath,
        new Array[Byte](1500))
    }
    withConf("graft.streaming.statePartitionBytes" -> "1000") {
      assert(StreamRun.statePartitionsFor(spark, d.getAbsolutePath) == 3)
      assert(StreamRun.statePartitionsFor(spark, nested.getAbsolutePath) == 3)
    }
    assert(StreamRun.statePartitionsFor(spark, "/nonexistent/nope") == 2)
  }
}
