package graft

import org.scalatest.funsuite.AnyFunSuite

/** Adjudication machinery: the isolated-pass retry that keeps a
  * single loaded-box reading out of the artifact, and the
  * min-observed floors record, and the runners' entry-name check.
  * Pure logic — no SparkSession. */
class BenchSpec extends AnyFunSuite {

  private def scripted(readings: Double*): () => Double = {
    val it = readings.iterator
    () => it.next()
  }

  test("isolated retry stops at the first quiet reading") {
    // floor 0.5 -> quiet means <= 1.0; first two attempts are loaded
    val (best, attempts) =
      Bench.retryIsolated(scripted(10.0, 9.0, 0.9), floor = 0.5,
        maxAttempts = 3)
    assert(best === 0.9)
    assert(attempts === 3)
  }

  test("isolated retry skips remaining attempts once quiet") {
    val (best, attempts) =
      Bench.retryIsolated(scripted(0.8, 99.0, 99.0), floor = 0.5,
        maxAttempts = 3)
    assert(best === 0.8)
    assert(attempts === 1) // the 99s were never run
  }

  test("isolated retry exhausts attempts under sustained load, keeps min") {
    val (best, attempts) =
      Bench.retryIsolated(scripted(21.3, 9.0, 12.0), floor = 0.5,
        maxAttempts = 3)
    assert(best === 9.0) // min of all attempts, not the last
    assert(attempts === 3)
  }

  test("floors merge to min-observed and admit new queries") {
    val merged = Bench.mergeFloors(
      Map("q_a" -> 1.6, "q_b" -> 0.9),
      Map("q_a" -> 1.1, "q_b" -> 4.0, "q_new" -> 0.7))
    assert(merged === Map("q_a" -> 1.1, "q_b" -> 0.9, "q_new" -> 0.7))
  }

  test("a floor reset drops only the named entry before the min-merge") {
    // --reset semantics: the reset name's old minimum must NOT cap
    // this run's (higher) reading; every other floor min-merges
    val old = Map("q_changed" -> 0.4, "q_other" -> 1.0)
    val merged = Bench.mergeFloors(old -- Set("q_changed"),
      Map("q_changed" -> 0.9, "q_other" -> 1.2))
    assert(merged === Map("q_changed" -> 0.9, "q_other" -> 1.0))
  }

  test("floors JSON round-trips") {
    val floors = Map(
      "sf0.1" -> Map("q_a" -> 1.6, "q_b" -> 0.95),
      "sf0.001" -> Map("q_a" -> 0.2))
    assert(Bench.parseFloors(Bench.renderFloors(floors)) === floors)
  }

  test("Bench, Verify and Explain refuse an unknown entry name before any work") {
    val dump = java.nio.file.Files.createTempDirectory("verify-typo").resolve("dump")
    val typo = "q_no_such_entry"
    Seq[(String, () => Unit)](
      "Bench" -> (() => Bench.main(Array(typo))),
      "Verify" -> (() => Verify.main(Array("unused-sf", dump.toString, typo))),
      "Explain" -> (() => Explain.main(Array(typo)))
    ).foreach { case (runner, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(typo) && e.getMessage.contains("valid names"),
        s"$runner: ${e.getMessage}")
    }
    assert(!java.nio.file.Files.exists(dump), "Verify wrote a dump for a typo")
    assert(SparkEntry.select(Nil) === SparkEntry.queries.keySet)
  }
}
