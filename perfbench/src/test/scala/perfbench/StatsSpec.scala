package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic. Run with `sbt test` in perfbench/. */
class StatsSpec extends AnyFunSuite {

  test("tail is the 11th-largest sample, with its percentile") {
    val xs = (1 to 100).map(_.toDouble)
    val (v, p) = Stats.tail(xs)
    assert(v == 90.0)
    assert(p == 90.0)
    assert(xs.count(_ > v) == 10)
  }

  test("tail percentile rises with the sample count") {
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((10.0, 50.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) == ((30.0, 75.0)))
    val (v, p) = Stats.tail((1 to 1000).map(_.toDouble))
    assert(v == 990.0 && p == 99.0)
  }

  test("below 20 samples the tail is the median") {
    assert(Stats.tail(Seq(5.0, 1.0, 3.0)) == ((3.0, 50.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == ((10.0, 50.0)))
  }

  test("tail does not depend on sample order") {
    val xs = (1 to 57).map(i => (i * 37 % 57).toDouble)
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
  }

  test("median of even and odd counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.medianOr0(Seq.empty) == 0.0)
  }

  test("union of overlapping intervals counts shared time once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 15L), (0L, 10L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L) // nested
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L) // touching
    assert(Stats.unionLength(Seq((3L, 3L), (7L, 5L))) == 0L) // empty, inverted
    assert(Stats.unionLength(Seq.empty) == 0L)
  }

  test("self time subtracts the union of children, clipped to the span") {
    // concurrent AQE jobs overlap: 2..6 and 4..8 cover 6 of the span's 10
    assert(Stats.selfTime(0L, 10L, Seq((2L, 6L), (4L, 8L))) == 4L)
    // children running past the span only count inside it
    assert(Stats.selfTime(10L, 20L, Seq((5L, 12L), (18L, 30L))) == 6L)
    assert(Stats.selfTime(0L, 10L, Seq.empty) == 10L)
    assert(Stats.selfTime(0L, 10L, Seq((0L, 10L), (1L, 9L))) == 0L)
  }

  test("bytes added counts new files and rewritten ones, not deletions") {
    val before = Map("a.parquet" -> 100L, "_delta_log/_last_checkpoint" -> 40L, "old" -> 7L)
    val after = Map("a.parquet" -> 100L, "_delta_log/_last_checkpoint" -> 42L,
      "b.parquet" -> 300L, "_delta_log/00000000000000000001.json" -> 50L)
    assert(Stats.bytesAdded(before, after) == 42L + 300L + 50L)
    assert(Stats.bytesAdded(after, after) == 0L)
  }

  test("space amplification is bytes on disk over bytes of live files") {
    val disk = Map("live-1" -> 100L, "live-2" -> 100L, "removed" -> 200L, "_delta_log/0.json" -> 100L)
    assert(Stats.spaceAmp(disk, Set("live-1", "live-2")) == 2.5)
    assert(Stats.spaceAmp(Map("x" -> 10L), Set("x")) == 1.0)
    assertThrows[IllegalArgumentException](Stats.spaceAmp(disk, Set.empty))
  }

  test("file listings are relative to the root and include nested files") {
    val root = java.nio.file.Files.createTempDirectory("statsspec")
    java.nio.file.Files.createDirectories(root.resolve("_delta_log"))
    java.nio.file.Files.write(root.resolve("part-0.parquet"), new Array[Byte](11))
    java.nio.file.Files.write(root.resolve("_delta_log/0.json"), new Array[Byte](5))
    assert(Stats.listSizes(root) == Map("part-0.parquet" -> 11L, "_delta_log/0.json" -> 5L))
    assert(Stats.listSizes(root.resolve("missing")) == Map.empty)
  }

  test("a job's call site names the innermost graft frame") {
    val site = Seq("graft.sources.DeltaWrite$.writeDataFiles(DeltaWrite.scala:312)",
      "graft.sources.DeltaWrite$.merge(DeltaWrite.scala:251)",
      "perfbench.ReplicaWorkload$.run(ReplicaWorkload.scala:60)").mkString("\n")
    assert(JobListener.callSite(site) == (("graft.sources.DeltaWrite", "writeDataFiles")))
    assert(JobListener.callSite("graft.operators.Graph$.$anonfun$pageRankOnDir$2(Graph.scala:170)") ==
      (("graft.operators.Graph", "pageRankOnDir")))
    assert(JobListener.callSite("perfbench.Main$.main(Main.scala:1)") == (("bench", "")))
  }
}
