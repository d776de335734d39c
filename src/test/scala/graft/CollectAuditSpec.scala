package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit for the last uncovered scale class: an unbounded
  * `.collect()` pulls a corpus-growing result onto the driver — works at
  * sf0.1, OOMs the driver (or stalls the job on serialization) at
  * 100 TB. Unlike shuffles and joins this never shows in the PLAN of the
  * returned DataFrame (the collect happens while BUILDING the query), so
  * the plan-walking audits cannot see it.
  *
  * Convention enforced here: every `.collect()` in the engine layers
  * must state its bound in a `driver-sized:` comment on the same line or
  * within the 6 lines above. The existing sites are all control-sized
  * (k-means centroids, per-dimension stats, the 1024-word Bloom bitset,
  * per-token-range checkpoint/count tables); a new collect without a
  * declared bound fails the build and forces the author to justify it.
  */
class CollectAuditSpec extends AnyFunSuite {

  private val auditedDirs = Seq(
    "src/main/scala/graft/ops", "src/main/scala/graft/core",
    "src/main/scala/graft/functions", "src/main/scala/graft/pipeline",
    "src/main/scala/graft/plans", "src/main/scala/graft/streaming",
    "src/main/scala/graft/sources")

  test("every .collect() in the engine layers declares its driver-side bound") {
    import scala.jdk.CollectionConverters._
    val offenders = auditedDirs.flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
          lines.zipWithIndex.collect {
            case (line, i)
                if line.contains(".collect()") && !line.trim.startsWith("//") && {
                  val windowStart = math.max(0, i - 6)
                  !(windowStart to i).exists(j => lines(j).contains("driver-sized"))
                } =>
              s"$f:${i + 1}"
          }
        }.toSeq
    }
    assert(offenders.isEmpty,
      "collect() without a declared driver-side bound (add a 'driver-sized: <bound>' " +
        s"comment within 6 lines above, or restructure to stay distributed):\n  " +
        offenders.mkString("\n  "))
  }

  test("every collect_list/collect_set in the engine layers declares its group bound") {
    // The executor-side twin of the driver audit: a list-valued aggregate
    // whose group can grow with the corpus (all events of one hot user,
    // all members of one dup cluster) concentrates that group's data in
    // ONE aggregation buffer — works at sf0.1, OOMs an executor at
    // 100 TB. Every site must state why the group is bounded in a
    // `group-bounded:` comment within 6 lines.
    import scala.jdk.CollectionConverters._
    val pat = java.util.regex.Pattern.compile("collect_(list|set)\\(")
    val offenders = auditedDirs.flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
          lines.zipWithIndex.collect {
            case (line, i)
                if pat.matcher(line).find() && !line.trim.startsWith("//") && {
                  val windowStart = math.max(0, i - 6)
                  !(windowStart to i).exists(j => lines(j).contains("group-bounded"))
                } =>
              s"$f:${i + 1}"
          }
        }.toSeq
    }
    assert(offenders.isEmpty,
      "collect_list/collect_set without a declared group bound (add a " +
        "'group-bounded: <why the group cannot grow with the corpus>' comment " +
        s"within 6 lines above, or cap the group first):\n  " +
        offenders.mkString("\n  "))
  }

  test("no nondeterministic expressions in the engine layers") {
    // Retry-safety: at cluster scale tasks are RE-EXECUTED (failure
    // retry, speculative execution, stage re-run after fetch failure)
    // and rand()/monotonically_increasing_id()/uuid() produce DIFFERENT
    // values on the retry. Anything derived from them — a sample
    // membership, a salted key, a generated id — silently changes
    // between attempts, so the same query can emit rows that were
    // filtered differently on different executors. Every sampling/
    // salting site in the engine uses deterministic hash surrogates
    // (xxhash64 of the row key) instead; this lint keeps it that way.
    // A site that genuinely needs nondeterminism must carry a
    // `retry-safe:` justification comment within 6 lines.
    import scala.jdk.CollectionConverters._
    val pat = java.util.regex.Pattern.compile(
      "\\brand\\(|\\brandn\\(|monotonically_increasing_id|\\buuid\\(\\)")
    val offenders = auditedDirs.flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
          lines.zipWithIndex.collect {
            case (line, i)
                if pat.matcher(line).find() && !line.trim.startsWith("//") && {
                  val windowStart = math.max(0, i - 6)
                  !(windowStart to i).exists(j => lines(j).contains("retry-safe"))
                } =>
              s"$f:${i + 1}"
          }
        }.toSeq
    }
    assert(offenders.isEmpty,
      "nondeterministic expression in the engine layers (task retries and " +
        "speculative execution re-evaluate it with different results; use a " +
        "deterministic hash surrogate, or justify with a 'retry-safe:' comment " +
        s"within 6 lines above):\n  " + offenders.mkString("\n  "))
  }
}
