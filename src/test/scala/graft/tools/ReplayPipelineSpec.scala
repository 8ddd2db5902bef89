package graft.tools

import graft.SparkSpecBase

/** A replay whose inputs are missing reports the failed steps in its
  * ledger, and `main`'s exit predicate turns them into a nonzero exit. */
class ReplayPipelineSpec extends SparkSpecBase {

  test("missing fixtures record error steps and fail the run") {
    val out = java.nio.file.Files.createTempDirectory("graft_replay_spec_")
    try {
      val ledger = ReplayPipeline.run(spark, out.toString,
        s"$out/no_such_fixtures")
      assert(ledger.map(_._1) ==
        Seq("bref_roster", "dvp_cube", "props", "run_summary"))
      assert(ledger.toMap.apply("bref_roster") == "error")
      assert(ledger.toMap.apply("dvp_cube") == "error")
      assert(ReplayPipeline.failed(ledger))
      assert(!ReplayPipeline.failed(ledger.filter(_._2 == "done")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
