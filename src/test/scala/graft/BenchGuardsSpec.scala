package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's pure safeguards: the OOM-envelope heapGuard that warns
  * BEFORE a sweep runs on an undersized fork heap (the round-10 100x
  * sweep OOM'd at a 5x heap/fixture ratio and cascaded 111 killed
  * queries), the contention verdict's inputs, the isolated re-measure
  * selection and the total_robust fold-in.
  */
class BenchGuardsSpec extends AnyFunSuite {

  private val GB = 1024L * 1024 * 1024

  test("heapGuard fires inside the observed OOM envelope (<8x) and not outside") {
    // the round-10 failure point: 1.6 GB fixtures under an 8 GiB heap (5x)
    val fired = Bench.heapGuard(fixtureBytes = (1.6 * GB).toLong, heapBytes = 8 * GB)
    assert(fired.isDefined, "the known-OOM 5x ratio must warn")
    assert(fired.get.contains("OOM"), s"the warning should name the envelope: ${fired.get}")
    // the known-good regime: same fixtures at 64 GiB (40x)
    assert(Bench.heapGuard((1.6 * GB).toLong, 64 * GB).isEmpty)
    // boundary: exactly 8x is the guard floor (warn strictly below it)
    assert(Bench.heapGuard(GB, 8 * GB).isEmpty)
    assert(Bench.heapGuard(GB, 8 * GB - 1).isDefined)
    // degenerate inputs never warn (empty/unreadable fixture dir)
    assert(Bench.heapGuard(0L, 8 * GB).isEmpty)
  }

  test("fixtureBytes sums regular files recursively; unreadable dir is 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixbytes")
    try {
      java.nio.file.Files.write(dir.resolve("a.parquet"), new Array[Byte](1000))
      val sub = java.nio.file.Files.createDirectory(dir.resolve("nested"))
      java.nio.file.Files.write(sub.resolve("b.parquet"), new Array[Byte](500))
      assert(Bench.fixtureBytes(dir.toString) === 1500L)
      assert(Bench.fixtureBytes("/nonexistent/graft/dir") === 0L)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("contention verdict: self-queuing load is not external; real consumption is") {
    // verdictInputs is pure over the sample vector — no thread started.
    val sampler = new Bench.LoadSampler(
      java.lang.management.ManagementFactory.getOperatingSystemMXBean, None)
    val S = 1000000000L // 1 s in nanos
    def sample(t: Long, load: Double, ownCpuSec: Long, busyJiffies: Long) =
      Bench.LoadSample(t * S, load, ownCpuSec * S, busyJiffies)
    // A saturating local[32] sweep on a QUIET box: load climbs past the
    // core count from our own queued threads, but host busy jiffies
    // track our own cpu almost exactly (100 jiffies/core-second).
    val selfSaturated = Vector(
      sample(0, 1.0, 0, 0),
      sample(10, 32.0, 300, 30000),   // we consumed 30 core-s of the 300 busy... see below
      sample(20, 33.0, 600, 60000))   // own 30 cores avg, busy 30 cores avg
    // own cpu 0->600 core-seconds over 20 s = 30 cores; busy 60000 jiffies
    // = 600 core-seconds = 30 cores. Load says 33 (queued own threads).
    val (loadMax1, extLoad1, extCpu1) = sampler.verdictInputs(selfSaturated)
    assert(loadMax1 === 33.0)
    assert(extLoad1 > 2.0, "the load-based form shows the phantom external (the known bias)")
    assert(extCpu1 < 1.0, s"consumption-based must read a quiet box as quiet, got $extCpu1")
    // A genuinely contended box: neighbors consume ~14 cores while we
    // consume ~16 — host busy far exceeds our own cpu.
    val contendedBox = Vector(
      sample(0, 1.0, 0, 0),
      sample(10, 31.0, 160, 30000),
      sample(20, 31.0, 320, 60000)) // busy 30 cores, own 16 -> others ~14
    val (_, _, extCpu2) = sampler.verdictInputs(contendedBox)
    assert(extCpu2 > 10.0, s"real neighbor consumption must register, got $extCpu2")
    // unsupported inputs degrade to -1, never to a fake verdict
    val noProc = Vector(sample(0, 1.0, 0, -1), sample(10, 1.0, 0, -1))
    val (_, _, extCpu3) = sampler.verdictInputs(
      noProc.map(s => s.copy(procCpuNanos = -1L)))
    assert(extCpu3 === -1.0)
    // a sampler stall >60s (GC pause, thrashing box) must not drop the
    // gap from the verdict — the window falls back to one step back,
    // spanning the stall, so consumption during it still registers
    val stalled = Vector(
      sample(0, 1.0, 0, 0),
      sample(100, 31.0, 1600, 300000)) // 100s gap: own 16 cores, busy 30
    val (_, extLoad4, extCpu4) = sampler.verdictInputs(stalled)
    assert(extCpu4 > 10.0, s"the stall-spanning window must still be evaluated, got $extCpu4")
    // ...but ONLY for the consumption form: the load form subtracting a
    // 100s own-cpu average from a 1-min load EWMA fabricates external
    // load on an idle-then-busy quiet box, so it drops the window
    assert(extLoad4 === -1.0,
      s"the load form must not difference across a stall, got $extLoad4")
  }

  test("isolation candidates: top-5 plus every >2x-median query, UNCAPPED") {
    // VERDICT r13 #2: the former cap of 40 dropped six candidates from
    // the 100x sweep, leaving their inflated in-sweep times inside
    // total_robust as disclosed conservative bias. Every query the 2x
    // trigger fingers must now earn its isolated re-run.
    val ok = (1 to 60).map(i => f"q$i%02d" -> (100.0 - i)) // q01 slowest .. q60 fastest
    // every query's history median is tiny, so all 60 trip the trigger
    val medians = ok.map { case (n, _) => n -> 1.0 }.toMap
    val cands = Bench.isolationCandidates(ok, medians)
    assert(cands.size === 60, s"no cap: all 60 candidates re-measured, got ${cands.size}")
    // sorted by descending sweep time, deduplicated
    assert(cands.map(_._2) === cands.map(_._2).sorted.reverse)
    assert(cands.map(_._1).distinct.size === cands.size)
    // with no history, coverage degrades to exactly the top-5 slowest
    val noHist = Bench.isolationCandidates(ok, Map.empty)
    assert(noHist.map(_._1) === Seq("q01", "q02", "q03", "q04", "q05"))
    // the 0.15s trigger floor: a 0.05s-median query observed at 0.12s is
    // jitter (2x median = 0.1 < floor), not a regression earning a re-run
    val jitter = Bench.isolationCandidates(
      (1 to 9).map(i => s"big$i" -> 10.0) :+ ("tiny" -> 0.12),
      Map("tiny" -> 0.05))
    assert(!jitter.exists(_._1 == "tiny"), "sub-floor jitter must not earn a re-run")
    // ...but the floor exempts only the OBSERVATION: the same median
    // inflated to 12s on a contended box is exactly what re-measure is for
    val inflated = Bench.isolationCandidates(
      (1 to 9).map(i => s"big$i" -> 20.0) :+ ("tiny" -> 12.0),
      Map("tiny" -> 0.05))
    assert(inflated.exists(_._1 == "tiny"))
  }

  test("total_robust: insensitive to an in-sweep spike, moves on real regressions") {
    // VERDICT r12 #2: the raw sweep total swung 74.3-103.5 s (±20%) on a
    // provably-unchanged engine; the robust headline folds each isolated
    // re-measure back in as a min so scheduler noise cancels.
    val quiet = Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    // no isolated re-measures: identical to the raw total
    assert(Bench.robustTotal(quiet, Map.empty) === 3.0)
    // a scheduler spike: c reads 8.0 in-sweep, its isolated re-run (which
    // the >2x-median trigger guarantees it earns) reads 1.1 -> the
    // headline barely moves while the raw total nearly triples
    val spiked = Seq("a" -> 1.0, "b" -> 1.0, "c" -> 8.0)
    assert(Bench.robustTotal(spiked, Map("c" -> 1.1)) === 3.1)
    // a genuine regression: the isolated re-run confirms the elevation,
    // so the robust headline moves with the engine
    assert(Bench.robustTotal(spiked, Map("c" -> 7.5)) === 9.5)
    // the min only corrects DOWNWARD: an isolated time above the sweep
    // time (cold-cache rebuild cost) never inflates the headline
    assert(Bench.robustTotal(quiet, Map("b" -> 2.0)) === 3.0)
    // empty sweep degenerates to 0, matching the raw total
    assert(Bench.robustTotal(Seq.empty, Map.empty) === 0.0)
  }
}
