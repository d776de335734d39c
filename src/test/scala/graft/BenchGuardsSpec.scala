package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the two round-11 bench safeguards:
  *
  *  - heapGuard: the OOM-envelope check that warns BEFORE a sweep runs
  *    on an undersized fork heap (the round-10 100x sweep OOM'd at a 5x
  *    heap/fixture ratio and cascaded 111 killed queries).
  *  - the pinned reference query: a frozen vanilla scan->shuffle->agg
  *    whose timing disambiguates slow_box — engine regressions cannot
  *    move it (no graft code on its path), host slowdown moves it with
  *    the real queries. The pin locks the result values (deterministic
  *    fixture) and the plan shape (scan + exchange + aggregate, and no
  *    graft expression anywhere).
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

  test("warmedMinMs: rides through staircase plateaus, stops at the floor, bounded") {
    def feed(xs: Double*): () => Double = {
      val it = Iterator(xs: _*) ++ Iterator.continually(xs.last)
      () => it.next()
    }
    // An already-warm JVM: flat series stops after 1 + patience runs and
    // returns the floor. (Pinned with explicit patience and the time
    // floor disabled so the trace stays valid if defaults are retuned;
    // separate asserts pin the defaults themselves.)
    val flat = Bench.warmedMinMs(feed(100.0), patience = 4, minPlateauMs = 0)
    assert((flat.ms, flat.runs, flat.exit) === ((100.0, 5, "plateau")))
    // The measured descent shape (PLANS.md, "Round 12: bench
    // self-adjudication hardening", item 2): a multi-run PLATEAU at
    // 2x the asymptote must NOT stop the loop — the later tier drop
    // resets patience and the returned min is the post-drop floor, not
    // the plateau. (Consecutive-agreement, the first attempted rule,
    // stopped on the 324/320 plateau.)
    val stair = Bench.warmedMinMs(
      feed(1603, 398, 324, 320, 319, 317, 250, 200, 197, 196, 195, 194),
      tol = 0.05, patience = 4, minPlateauMs = 0)
    assert(stair.ms === 194.0, "must ride through the 324..317 plateau to the floor")
    assert(stair.runs === 12)
    assert(stair.exit === "plateau")
    // Plateau-time floor: the descent is TIME-driven (C2 background
    // compile threads), so patience alone under-waits when runs are
    // fast — the r12 gate saw a before-loop stop on a 15-run plateau at
    // 219.9 ms whose floor was ~165. The floor is measured over the
    // PLATEAU (time since the last >tol improvement), never from the
    // loop's start — slow descent runs must not bank "evidence". A flat
    // 100 ms series with a 1000 ms plateau floor: runs 2..11 each add
    // 100 ms of plateau, stop at run 11.
    val floored = Bench.warmedMinMs(feed(100.0), patience = 2, minPlateauMs = 1000)
    assert((floored.ms, floored.runs, floored.exit) === ((100.0, 11, "plateau")))
    // measuredMs is the cumulative measured time: 11 runs at 100 ms
    assert(floored.measuredMs === 1100.0)
    // A drop found DURING the floor extension resets the window and
    // earns a FULL one: 2x300 of plateau (600 ms, under the floor), the
    // run-4 drop to 100 zeroes it, then ten 100s rebuild 1000 ms.
    val reset = Bench.warmedMinMs(feed(300, 300, 300, 100), patience = 2,
      minPlateauMs = 1000)
    assert((reset.ms, reset.runs, reset.exit) === ((100.0, 14, "plateau")))
    // The overall bound is TOTAL MEASURED TIME, so an unreachable
    // plateau floor cannot run away: a fixed low run cap was the wrong
    // bound (on an 80 ms-floor box a 5 s plateau needs 63 non-improving
    // runs — the old maxRuns=60 ALWAYS clipped first and the stop rule
    // silently degraded to "run 60 times"). Flat 1000 ms series with an
    // unreachable floor: 5 runs accumulate the 5000 ms cap and stop.
    val clipped = Bench.warmedMinMs(feed(1000.0), patience = 1,
      minPlateauMs = 1e9, maxMeasuredMs = 5000, maxRuns = 100)
    assert((clipped.ms, clipped.runs) === ((1000.0, 5)))
    // a bound clip is no longer indistinguishable from a natural stop:
    // the exit tag names which bound fired, and measuredMs shows the
    // budget it spent (the wariness signal the diagnostic line promises)
    assert(clipped.exit === "maxMeasuredMs")
    assert(clipped.measuredMs === 5000.0)
    // and the default plateau floor IS reachable inside the default
    // bounds on a fast box: 80 ms floor -> 63 plateau runs, well under
    // maxRuns=200 and 20 s measured
    val fast = Bench.warmedMinMs(feed(80.0), patience = 8)
    assert(fast.ms === 80.0)
    assert(fast.runs < 200 && fast.runs * 80.0 < 20000,
      s"fast-box descent must exit via the plateau rule, not a bound clip (runs=${fast.runs})")
    assert(fast.exit === "plateau")
    // Default patience must span the measured ~5-run plateau width with
    // margin (patience=4 left a 1.52x before/after spread on a real
    // sweep): a 5-run plateau followed by a drop must be ridden through
    // under the DEFAULTS.
    assert(Bench.warmedMinMs(
      feed(300, 200, 199, 198, 198, 197, 197, 150)).ms === 150.0,
      "defaults must ride through a 5-run plateau")
    // A never-converging series is BOUNDED at maxRuns: the loop cannot
    // hang a sweep on a thrashing box — and still returns the min seen.
    var calls = 0
    val descending = () => { calls += 1; 1000.0 * math.pow(0.9, calls) }
    val bounded = Bench.warmedMinMs(descending, maxRuns = 8)
    assert(bounded.runs === 8)
    assert(calls === 8)
    assert(bounded.ms === 1000.0 * math.pow(0.9, 8))
    assert(bounded.exit === "maxRuns")
    // the min is tracked even on runs that don't clear the tol threshold
    assert(Bench.warmedMinMs(feed(100.0, 99.0, 98.0, 97.0, 96.5)).ms === 96.5)
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

  test("slowBoxCorroborated: trips only when the zero-engine-code ref query slowed too") {
    // quiet sweep: both ratios ~1 -> false (no behavior change when calm)
    assert(Bench.slowBoxCorroborated(isoOverMedian = 1.0, refRatio = 1.0) === "false")
    // host slowdown: real queries AND the frozen ref query elevated -> true
    assert(Bench.slowBoxCorroborated(1.5, 1.8) === "true")
    // engine regression: real queries slowed, ref query (no graft code on
    // its path) did not -> NOT corroborated as a box problem
    assert(Bench.slowBoxCorroborated(1.5, 1.0) === "false")
    // ref elevated but real queries fine (e.g. one noisy ref sample):
    // slow_box's own threshold not met -> false
    assert(Bench.slowBoxCorroborated(1.0, 2.0) === "false")
    // either baseline missing -> null, never a fabricated verdict
    assert(Bench.slowBoxCorroborated(-1.0, 1.8) === "null")
    assert(Bench.slowBoxCorroborated(1.5, -1.0) === "null")
    // SAME 1.3 threshold on both axes: an asymmetric 1.5 ref threshold
    // left a 1.3-1.5 dead band where a genuine 1.4x uniform host
    // slowdown tripped slow_box, moved the zero-engine-code ref query
    // to 1.4x, and still read "false" — the code-regression signature.
    assert(Bench.slowBoxCorroborated(1.4, 1.4) === "true")
    // boundary semantics match slow_box: strictly-greater on both axes
    assert(Bench.slowBoxCorroborated(1.3, 1.8) === "false")
    assert(Bench.slowBoxCorroborated(1.5, 1.3) === "false")
  }

  test("reference query: deterministic result, scan->shuffle->agg plan, zero engine code") {
    val spark = SparkTestBase.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_refq_spec")
    val path = dir.resolve("ref.parquet").toString
    try {
      Bench.writeRefFixture(spark, path)
      val df = Bench.refQueryDf(spark, path)
      val row = df.collect().head
      // the fixture is pure arithmetic over range(400000): pin exact values
      var expTv = 0L
      var id = 0L
      while (id < 400000L) { expTv += (id * 2654435761L) % 1000003L; id += 1 }
      assert(row.getAs[Long]("tv") === expTv)
      assert(row.getAs[Long]("tn") === 400000L)
      assert(row.getAs[Long]("groups") === 4096L)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Scan parquet"), s"must read through the parquet scan:\n$plan")
      assert(plan.contains("Exchange"), s"must exercise the shuffle machinery:\n$plan")
      assert(plan.contains("HashAggregate"), s"must exercise aggregation:\n$plan")
      // frozen = vanilla: none of the engine's registered expressions may
      // appear, otherwise a graft regression could move the reference
      for (fn <- Seq("minhash", "shingle", "qcosine", "hyperplane", "cassandra_token"))
        assert(!plan.toLowerCase.contains(fn), s"engine expression $fn leaked into the ref plan")
      // and the timing harness returns a sane positive warmed min
      val ms = Bench.refQueryMs(spark, path)
      assert(ms > 0.0 && ms < 60000.0)
    } finally {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }
}
