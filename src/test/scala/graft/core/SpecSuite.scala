package graft.core

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class SpecSuite extends AnyFunSuite {

  test("F1: parses the reference config.ini dialect") {
    val spec = MapReduceSpec.fromConfigFile(MrFixture.config)
    assert(spec.nWorkers == 5)
    assert(spec.workerAddrs == Seq(
      "localhost:50051", "localhost:50052", "localhost:50053",
      "localhost:50054", "localhost:50055"))
    assert(spec.inputFiles == Seq(
      "input/testdata_1.txt", "input/testdata_2.txt", "input/testdata_3.txt"))
    assert(spec.outputDir == "output")
    assert(spec.nOutputFiles == 10)
    assert(spec.mapKilobytes == 10)
    assert(spec.userId == "cs6210")
  }

  test("F2: validation flags missing input files (the reference config's inputs don't ship)") {
    val spec = MapReduceSpec.fromConfigFile(MrFixture.config)
    val errs = MapReduceSpec.validate(spec)
    assert(errs.exists(_.contains("not readable")))
  }

  test("F2: a well-formed spec over real files validates cleanly") {
    val spec = MapReduceSpec(
      nWorkers = 2,
      workerAddrs = Seq("localhost:1", "localhost:2"),
      inputFiles = MrFixture.inputs,
      outputDir = Files.createTempDirectory("graft-out").toString,
      nOutputFiles = 10,
      mapKilobytes = 10,
      userId = "wc"
    )
    assert(MapReduceSpec.validate(spec).isEmpty)
  }

  test("F2: worker-count mismatch and non-positive numerics are rejected") {
    val spec = MapReduceSpec(3, Seq("a"), Nil, "", 0, -1, "")
    val errs = MapReduceSpec.validate(spec)
    assert(errs.size >= 5)
    assert(errs.exists(_.contains("worker addresses")))
    assert(errs.exists(_.contains("n_output_files")))
  }
}
