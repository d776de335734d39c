package graft.ops

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Near-duplicate detection over `documents`: MinHash+LSH, SimHash, and
  * n-gram Jaccard — the scale-path dedup family for a training-data
  * pipeline (exact dedup lives in TextOps.d1/d2).
  *
  * Scale shapes:
  *  - MinHash-LSH: signature is a per-row projection (no shuffle); the
  *    band explode multiplies rows by #bands (small constant); candidate
  *    generation is an equi-join on (band, band_hash) — shuffle-bounded by
  *    bucket sizes, never all-pairs. Exact Jaccard re-verification runs
  *    only on candidates.
  *  - SimHash: one 64->32-bit projection per row, candidates by signature
  *    bucket equality, Hamming re-rank via bit_count(a XOR b).
  *  - n-gram Jaccard all-pairs is the *oracle-checkable baseline* on a
  *    bounded sample (quadratic — deliberately capped).
  *
  * The fixture corpus contains genuine near-dup pairs, which the judged
  * MinHash query finds directly; the specs additionally plant deterministic
  * variants (append 3 marker words to docs with doc_id < 25 under
  * doc_id+1000000) and assert full recall of them.
  */
object Dedup {

  import graft.functions.MinHashImpl.{P, K, Bands, Rows}

  /** documents ∪ planted near-dup variants (deterministic). */
  def withPlantedDups(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val variants = docs.where(col("doc_id") < 25)
      .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(" planted near dup")).as("text"),
              col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").union(variants)
  }

  /** Word 3-gram shingles (distinct), via try_element_at so short docs
    * yield null-free behavior identical to SQL `||` null propagation.
    *
    * The split is bound ONCE as the outer transform's input (a
    * one-element array the lambda receives as `ws`): writing
    * `try_element_at(split(text), i)` inside the index lambda re-ran the
    * full split PER TRIGRAM — ArrayTransform is CodegenFallback, so
    * nothing hoists it — which is O(n_words x n_chars) per document:
    * invisible on 200-word fixtures, 20+ minutes on one 2M-char document
    * (the monster-doc sweep's second find, after d47's Generate carry).
    */
  def shingles(textCol: String): Column =
    array_distinct(expr(
      s"""flatten(transform(array(split($textCol, ' ')), ws ->
            transform(sequence(1, greatest(size(ws) - 2, 1)),
              i -> concat(try_element_at(ws, i), ' ',
                          try_element_at(ws, i + 1), ' ',
                          try_element_at(ws, i + 2)))))"""))

  /** Positive shingle hashes: xxhash64 mod P, computed ONCE per row (the
    * k permutations below reuse this array — hashing the strings k times
    * was the dominant cost of the first implementation).
    */
  def shingleHashes(shinglesCol: String): Column =
    expr(s"transform($shinglesCol, s -> pmod(xxhash64(s), ${P}L))")

  /** MinHash signature via the custom MinHashSig Catalyst expression (one
    * static call in codegen; the equivalent 32-lambda HOF formulation cost
    * ~90 s of one-time Janino compilation). Requires GraftExtensions
    * registration on the session.
    */
  def minhashSignature(shinglesCol: String): Column =
    call_function("minhash_sig", col(shinglesCol))

  /** LSH band keys: hash of each r-row slice of the signature. */
  def bandKeys(sigCol: String): Column = {
    val bands = (0 until Bands).map { bi =>
      val slice = (0 until Rows).map(ri => s"cast(element_at($sigCol, ${bi * Rows + ri + 1}) as string)")
      struct(lit(bi).as("band"), expr(s"xxhash64(concat_ws('_', ${slice.mkString(", ")}))").as("bh"))
    }
    array(bands: _*)
  }

  /** Candidate pairs from LSH banding + exact Jaccard re-verification.
    * plant=true unions in the deterministic planted variants (recall spec);
    * the raw fixture already contains genuine near-dups, so the judged
    * query runs unplanted.
    */
  // The signature table below is persisted because four plan branches
  // consume it; registration with PipelineCache means the NEXT judged
  // query's construction releases it (no unbounded accumulation in a
  // long-lived sweep session).
  def minhashNearDups(spark: SparkSession, sfDir: String, minJaccard: Double,
                      plant: Boolean = false): DataFrame = {
    graft.GraftExtensions.register(spark)
    val src = if (plant) withPlantedDups(spark, sfDir)
              else Tables.documents(spark, sfDir)
    // Signature table: ONLY (doc_id, hpos, sig) — raw text and shingle
    // strings never leave the first projection. Persisted because four
    // plan branches (two band sides, two verify sides) consume it; at
    // cluster scale this is the signature table written to storage once.
    val base = src
      .select(col("doc_id"), call_function("shingle_hashes", col("text")).as("hpos"))
      .withColumn("sig", call_function("minhash_sig", col("hpos")))
      .persist()
    PipelineCache.retain(base)
    // Band keys only ride the candidate shuffle (ids + two longs per row).
    val banded = base
      .select(col("doc_id"), explode(bandKeys("sig")).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
    // Candidate generation (spam-bucket cap + band self-join + min-band
    // dedup instead of a pair-scale distinct) — see minBandPairs.
    val pairs = minBandPairs(banded, Bands)
    // Exact verification on the surviving pairs, over hashed shingle sets
    // (collision probability ~|shingles|^2 / 2^31 per pair — negligible):
    // long-array merge walks (jaccard_sorted via exactJaccardOnPairs,
    // sets sorted once per doc side — see verifiedNearDups for the r15
    // sf10 A/B), no string arrays and no per-pair hash sets in the join.
    exactJaccardOnPairs(pairs, base, "doc_a", "doc_b")
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
              (col("doc_b") - col("doc_a") === 1000000L).as("is_planted"))
      .orderBy("doc_a", "doc_b")
  }

  /** 32-bit SimHash over word hashes (sign-of-bit-sum per position).
    * Single pass with a 32-wide vector accumulator, then the signs are
    * packed into one long — one aggregate instead of 32 keeps the
    * generated code small and the word array is traversed once.
    */
  def simhash32(wordHashesCol: String): Column =
    expr(
      s"""aggregate(
            zip_with(
              aggregate($wordHashesCol,
                        array_repeat(0L, 32),
                        (acc, h) -> zip_with(acc, sequence(0, 31),
                                             (a, j) -> a + (CASE WHEN (h >> j) & 1 = 1 THEN 1L ELSE -1L END))),
              sequence(0, 31),
              (c, j) -> CASE WHEN c > 0 THEN shiftleft(1L, cast(j AS int)) ELSE 0L END),
            0L, (acc, v) -> acc + v)""")

  // ---- Portable-hash twins (oracle-gated) --------------------------------
  //
  // The production d6/d7 use xxhash64 (not SQL-portable), so they verify
  // rows-only. These twins run the SAME pipeline shapes over hashes both
  // engines can compute exactly: a char-polynomial word hash mixed twice
  // through the Lehmer/MINSTD multiplier (all arithmetic < 2^62,
  // ANSI-overflow-safe), giving the LSH family full DuckDB hash_match
  // coverage. Constants are interpolated into BOTH the Spark expressions
  // and the oracle SQL from the single source below.

  private val HashP = 1000000007L // char-polynomial modulus (< 2^30)
  private val SigP  = 2147483647L // signature/permutation modulus (2^31-1)
  private val Mul   = 1000003L    // band-combine multiplier (< 2^20)
  private val Lehmer = 48271L     // MINSTD full-period multiplier
  /** LSH spam-bucket cap: buckets larger than this are dropped before
    * the candidate join (b docs -> b^2 pairs otherwise).
    */
  private[graft] val MaxBucket = 1000L

  // 16 minhash permutations, 4 bands x 4 rows (twin-local — the
  // production d6 uses MinHashImpl's K/Bands/Rows); deterministic seed.
  private val TwinBands = 4
  private val TwinRows = 4
  private val permRnd = new scala.util.Random(42)
  private[ops] val PermA: Array[Long] =
    Array.fill(TwinBands * TwinRows)(1L + permRnd.nextInt(999983).toLong)
  private[ops] val PermB: Array[Long] =
    Array.fill(TwinBands * TwinRows)(permRnd.nextInt(1000000007).toLong)

  /** Spark-side portable word hashes — the codegen PortableWordHashes
    * expression (one static call; proven equal to the HOF formulation
    * below in DedupSpec).
    */
  private def portableWordHashes(textCol: String): Column =
    call_function("portable_word_hashes", col(textCol))

  /** HOF formulation of the same hash (kept as the equivalence witness
    * for the spec; the DuckDB mirror below is the oracle's version).
    */
  private[ops] def portableWordHashesHof(textCol: String): Column = expr(
    s"""transform(filter(split($textCol, ' '), x -> x != ''), x ->
          (((aggregate(transform(sequence(1, length(x)), i -> cast(ascii(substring(x, i, 1)) as bigint)),
                       cast(7 as bigint), (acc, c) -> (acc * 31 + c) % $HashP)
             * $Lehmer) % $SigP) * $Lehmer) % $SigP)""")

  /** DuckDB-side mirror of portableWordHashes (1-based list indexing,
    * list_reduce with a prepended seed).
    */
  private def wordHashesSql(textExpr: String): String =
    s"""list_transform(list_filter(string_split($textExpr, ' '), x -> x <> ''), x ->
          (((list_reduce(list_prepend(7::BIGINT,
                 list_transform(range(1, len(x)+1), i -> ascii(substr(x, i, 1))::BIGINT)),
               (acc, c) -> (acc * 31 + c) % $HashP) * $Lehmer) % $SigP) * $Lehmer) % $SigP)"""

  /** Portable shingle hashes: 3-word rolling combine of the word hashes.
    * The size guard matters for totality: Spark's sequence(1, n) DESCENDS
    * when n < 1 (sequence(1, -2) = [1, 0, -1, -2]), so a sub-3-word doc
    * (empty, whitespace-only, punctuation blob) would index positions 0
    * and below and crash under ANSI. DuckDB's half-open range(1, n) is
    * already empty there, so the oracle mirror needs no guard.
    *
    * The single coalesce around the lambda body exists for TYPING, not
    * values: element_at and % are nullable expressions, so without it
    * the output is array<bigint> containsNull=true and jaccard_sorted
    * (which requires containsNull=false since its merge walk would read
    * a null element as 0) rejects it at analysis time. The branch never
    * fires — every index is in range by the size guard and SigP > 0 —
    * so the value program is unchanged; the coalesce costs one no-op
    * check per shingle at scan time, not in the per-pair verify walk.
    * PlanQualitySpec pins the resulting containsNull=false schema.
    */
  private def portableShingleHashes(whCol: String): Column = expr(
    s"""CASE WHEN size($whCol) >= 3 THEN
          array_distinct(transform(sequence(1, size($whCol) - 2), i ->
            coalesce(((((element_at($whCol, i) * $Mul + element_at($whCol, i + 1)) % $SigP)
               * $Mul + element_at($whCol, i + 2)) % $SigP), 0L)))
        ELSE array() END""")

  private def shingleHashesSql(whExpr: String): String =
    s"""list_distinct(list_transform(range(1, len($whExpr) - 1), i ->
          (((($whExpr[i] * $Mul + $whExpr[i+1]) % $SigP) * $Mul + $whExpr[i+2]) % $SigP)))"""

  private def bandHashExpr(sigRef: String, b: Int, at: (String, Int) => String): String = {
    val s = (0 until TwinRows).map(r => at(sigRef, b * TwinRows + r + 1))
    s"(((((${s(0)} * $Mul + ${s(1)}) % $SigP) * $Mul + ${s(2)}) % $SigP) * $Mul + ${s(3)}) % $SigP"
  }

  /** Oracle-gated MinHash+LSH: same band/bucket/verify pipeline as d6
    * over portable hashes — full corpus, K=16, 4 bands x 4 rows.
    */
  /** Portable-hash signature table (doc_id, hpos, sig) — the shared base
    * of the twin near-dup pipeline (d6b / d12 / d21 / d25).
    */
  /** Portable-hash signatures over any (doc_id, text) relation — batch
    * tables and streaming sources alike (every expression is
    * deterministic scan-side codegen, so the same column program runs
    * under Structured Streaming unchanged).
    */
  private[graft] def portableSignatures(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val aLit = s"array(${PermA.mkString("L, ")}L)"
    val bLit = s"array(${PermB.mkString("L, ")}L)"
    docs
      .select(col("doc_id"), portableWordHashes("text").as("wh"))
      .where(size(col("wh")) >= 3)
      .select(col("doc_id"), portableShingleHashes("wh").as("hpos"))
      .withColumn("sig", expr(
        s"""transform(sequence(1, ${PermA.length}), j ->
              array_min(transform(hpos, h ->
                (element_at($aLit, j) * h + element_at($bLit, j)) % $SigP)))"""))
  }

  /** (doc_id, band, bh) LSH band keys from a signature table. */
  private[graft] def bandedKeys(base: DataFrame): DataFrame = {
    val bandCols = (0 until TwinBands).map { b =>
      struct(lit(b.toLong).as("band"),
             expr(bandHashExpr("sig", b, (s, i) => s"element_at($s, $i)")).as("bh"))
    }
    base
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bh"))
  }

  private[graft] def portableSigTable(spark: SparkSession, sfDir: String): DataFrame =
    portableSignatures(Tables.documents(spark, sfDir))

  /** Banded candidate pairs (doc_a < doc_b) from a signature table, with
    * the spam-bucket cap applied (same cap as the production d6; mirrored
    * in the oracle SQL via QUALIFY + DISTINCT, proving it a fixture no-op).
    */
  private[graft] def portableCandidatePairs(base: DataFrame): DataFrame =
    minBandPairs(bandedKeys(base), TwinBands)

  /** Unique candidate pairs (doc_a < doc_b) from a banded (doc_id, band,
    * bh) table with the spam-bucket cap applied — WITHOUT the pair-scale
    * `distinct()` the naive band self-join needs. Each surviving pair is
    * emitted exactly once, at the LOWEST band where the two docs share an
    * uncapped bucket: every banded row carries its document's per-band
    * kept-bucket hashes (`mb0..mb{n-1}`, null where the doc's band bucket
    * was capped away), and the join filter suppresses a band-b match when
    * the pair already collided at some band b' < b. Dropping the distinct
    * removes the pair-scale exchange plus both of its hash aggregates —
    * the engine's single largest measured stage at sf10 (103.5M band
    * pairs, 175 CPU-s, 9.6 GB spill; r16 VERDICT #1) — for doc-scale
    * costs instead: one groupBy(doc_id) over #docs x nBands rows, nBands-1
    * longs riding the band exchange, and nBands-1 flat scalar
    * comparisons (whole-stage codegen, no HOF) per joined band pair.
    *
    * Equivalence with `self-join -> distinct`: a pair survives the old
    * pipeline iff it shares an uncapped bucket in SOME band; min-band
    * emission keeps exactly one witness per such pair. Cap interaction:
    * a bh match at b' < b means both docs sat in the SAME (b', bh)
    * bucket, so their cap verdicts were identical — if that bucket was
    * capped, both mbh[b'] are null and the null-safe coalesce(=, false)
    * does not suppress, matching the old pipeline (which generated no
    * pair at b' either). Spam-bucket guard rationale: a degenerate
    * bucket of b docs contributes b^2 candidate pairs — boilerplate /
    * empty-ish documents at corpus scale would otherwise dominate the
    * join; buckets above the cap carry no near-dup signal worth
    * quadratic cost (standard LSH practice); a no-op at fixture scale.
    */
  private[ops] def minBandPairs(banded: DataFrame, nBands: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = banded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bh")))
      .where(col("bsz") <= MaxBucket)
    // Per-doc kept-bucket hashes as nBands FIXED-WIDTH scalar columns
    // (null = capped/absent): plain max(when) DeclarativeAggregates —
    // whole-stage-codegen HashAggregate with a fixed-size buffer, no
    // collect_list, no map probe, and (d47-class guard) no
    // variable-width column riding the re-explode Generate below. Each
    // (doc, band) has at most one banded row, so max() selects the one
    // bh unchanged.
    val aggs = (0 until nBands).map(b =>
      max(when(col("band") === b, col("bh"))).as(s"mb$b"))
    val flat = kept.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    // Only bands 0..nBands-2 are ever consulted as "earlier" hashes; the
    // last band's value never rides the join.
    val carries = (0 until nBands - 1).map(b => col(s"mb$b"))
    val reband = flat
      .select(Seq(col("doc_id"),
        posexplode(array((0 until nBands).map(b => col(s"mb$b")): _*))
          .as(Seq("band", "bh"))) ++ carries: _*)
      .where(col("bh").isNotNull)
    def side(id: String, sfx: String) = reband.select(
      Seq(col("doc_id").as(id), col("band"), col("bh")) ++
        (0 until nBands - 1).map(b => col(s"mb$b").as(s"mb${b}$sfx")): _*)
    val earlier =
      if (nBands <= 1) lit(false)
      else (0 until nBands - 1).map { bp =>
        col("band") > bp &&
          coalesce(col(s"mb${bp}_a") === col(s"mb${bp}_b"), lit(false))
      }.reduce(_ || _)
    side("doc_a", "_a")
      .join(side("doc_b", "_b"), Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b") && !earlier)
      .select("doc_a", "doc_b")
  }

  /** THE single point where shingle sets meet `jaccard_sorted`: joins
    * the per-document sorted shingle sets of `base` (doc_id, hpos, ...)
    * onto a candidate-pair table and appends the exact `jaccard` column.
    * Centralizing the join pairs the expression's sorted-distinct
    * precondition (sort_array ONCE per document side, never per pair)
    * with every call — a new consumer cannot reach jaccard_sorted with
    * unsorted hpos and silently undercount (r15 ADVICE low; same
    * rationale as cachedVerifiedNearDups sharing one persist policy).
    * `carry` columns ride the two side joins with _a/_b suffixes (d25
    * carries sig for its estimator-vs-exact comparison).
    */
  private def exactJaccardOnPairs(pairs: DataFrame, base: DataFrame,
                                  leftId: String, rightId: String,
                                  carry: Seq[String] = Nil): DataFrame = {
    val hs = base.select(
      col("doc_id") +: sort_array(col("hpos")).as("hpos") +: carry.map(col): _*)
    // SHUFFLE_HASH on the hs side (one row per doc — the natural build
    // side): the default sort-merge plan SORTED the wide pairs+h_a probe
    // side by the second join key — 13 GB of node-local sort spill and
    // ~70 CPU-s at sf10 (r17 d49 baseline profile, stage 202) for rows
    // that a per-partition hash build makes streamable. Scoped hint, not
    // the session-wide AQE SMJ->SHJ threshold r16 measured and rejected
    // (that conf also converted OTHER joins and shuffled +4.3 GB); here
    // the exchanges are identical by construction, so the delta is pure
    // sort CPU + spill: 7.2 -> 5.0 s wall, 208 -> 137 CPU-s, 13 -> 0 GB
    // spill at sf10 (VerifyAttachAB, identical verified-pair checksums).
    def side(id: String, sfx: String) = hs.select(
      col("doc_id").as(id) +: col("hpos").as("h" + sfx) +:
        carry.map(c => col(c).as(c + sfx)): _*).hint("shuffle_hash")
    pairs
      .join(side(leftId, "_a"), Seq(leftId))
      .join(side(rightId, "_b"), Seq(rightId))
      .withColumn("jaccard", call_function("jaccard_sorted", col("h_a"), col("h_b")))
  }

  /** Band candidates + exact-Jaccard verification over any signature
    * table relation — cached (minhashPortable) or read back from storage
    * (minhashFromStoredSigTable): the pipeline is agnostic to where the
    * signatures live.
    */
  private def verifiedNearDups(base: DataFrame, minJaccard: Double,
                               ordered: Boolean = true): DataFrame = {
    graft.GraftExtensions.register(base.sparkSession)
    val pairs = portableCandidatePairs(base)
    // jaccard_sorted (custom codegen expression): one allocation-free
    // merge walk per pair over shingle sets sorted once per DOCUMENT
    // side — r15 interleaved A/B at sf10 (VerifyJaccardAB, identical
    // 27.31M pairs + checksum): 761 -> 301 CPU-s / 26.3 -> 10.9 s best
    // wall for the whole candidates+verify pipeline, GC 17 -> 2.5 s.
    // History of this expression site: the r14 pass rejected the
    // |A|+|B|-|A n B| identity over intersect/union because the twice-
    // referenced intersect re-evaluates once inlined (1,543 -> 3,673
    // CPU-s); the single fused expression sidesteps that trap — even
    // with the jaccard alias inlined into both the filter and the
    // projection, two merge walks still cost far less than one
    // hash-set intersect+union.
    exactJaccardOnPairs(pairs, base, "doc_a", "doc_b")
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderByIf(ordered, "doc_a", "doc_b")
  }

  private implicit class OrderByIf(private val df: DataFrame) {
    /** `orderBy` only when the consumer's output contract needs it — the
      * cluster-family consumers (dupClusters / d12 / d44 / d49) feed the
      * pair set into joins, distinct, and min-label propagation, all
      * order-insensitive, and the global sort + range exchange of the
      * corpus-sized pair list would otherwise be baked below their
      * persists (found by the r14 ProfileD34 pass).
      */
    def orderByIf(ordered: Boolean, cols: String*): DataFrame =
      if (ordered) df.orderBy(cols.map(col): _*) else df
  }

  /** The near-dup PAIR SET (doc_a, doc_b) for order-insensitive
    * consumers: same banded-candidates + exact-Jaccard-verify pipeline
    * as [[minhashPortable]], minus the output ordering that d6b's row
    * contract requires — connected components, anti-joins, and grouped
    * keep-best policies don't care about pair order, so they should not
    * pay a corpus-sized sort inside their cache builds.
    */
  private[graft] def minhashPortablePairs(spark: SparkSession, sfDir: String,
                                          minJaccard: Double): DataFrame =
    cachedVerifiedNearDups(spark, sfDir, minJaccard, ordered = false)
      .select("doc_a", "doc_b")

  def minhashPortable(spark: SparkSession, sfDir: String, minJaccard: Double): DataFrame =
    cachedVerifiedNearDups(spark, sfDir, minJaccard, ordered = true)

  /** Shared body of [[minhashPortable]] / [[minhashPortablePairs]] — ONE
    * place owns the persist + retain policy so the ordered and unordered
    * variants cannot silently diverge on storage level or cache hygiene.
    *
    * The signature table feeds three consumers (band keys + both sides
    * of the shingle-set join); persist so the shingle+minhash scan runs
    * once, not three times. Spark's cache manager dedupes the identical
    * plan across the queries built on this helper, and at corpus scale
    * this is the standard "materialize signatures once" step of every
    * LSH pipeline (signatures are ~100 longs/doc — tiny next to the
    * text they summarize).
    */
  private def cachedVerifiedNearDups(spark: SparkSession, sfDir: String,
                                     minJaccard: Double, ordered: Boolean): DataFrame = {
    val base = portableSigTable(spark, sfDir).persist()
    PipelineCache.retain(base)
    verifiedNearDups(base, minJaccard, ordered)
  }

  /** Write the portable signature table to parquet — the cluster-scale
    * "signatures materialized to storage once" step that per-query cache
    * hygiene otherwise pays as a rebuild (VERDICT r6 #5). Runnable
    * standalone via graft.tools.SignatureTable; consumed judged by d6c.
    */
  private[graft] def writeSigTable(spark: SparkSession, sfDir: String, outPath: String): Unit =
    portableSigTable(spark, sfDir)
      .write.mode("overwrite").parquet(outPath)

  /** The d6b pipeline with its signature stage replaced by a storage
    * round-trip: signatures are WRITTEN to parquet and the band join +
    * exact verify read the STORED table (three consumers, zero cache,
    * zero recompute — each reads the ~100-longs/doc parquet, not the
    * text). Output is identical to minhashPortable by construction, so
    * d6c shares d6b's full-hash oracle.
    */
  /** Consume side alone: near-dups from an ALREADY-written signature
    * table at `path` (tools.SignatureTable times this separately from
    * the build).
    */
  private[graft] def nearDupsFromStored(spark: SparkSession, path: String,
                                        minJaccard: Double): DataFrame = {
    // File sources force nullable-on-read recursively (Spark applies
    // asNullable to the whole schema), so hpos reads back typed
    // containsNull=true even though writeSigTable's input schema — and
    // jaccard_sorted's analysis-time check — guarantee non-null
    // elements. Re-assert the typing at this ONE read boundary (the
    // coalesce branch never fires on tables written by writeSigTable);
    // everywhere else jaccard_sorted's containsNull=false requirement
    // stays strict.
    val stored = spark.read.parquet(path)
      .withColumn("hpos", transform(col("hpos"), x => coalesce(x, lit(0L))))
    verifiedNearDups(stored, minJaccard)
  }

  def minhashFromStoredSigTable(spark: SparkSession, sfDir: String,
                                minJaccard: Double): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sigtable").toString
    writeSigTable(spark, sfDir, dir)
    nearDupsFromStored(spark, dir, minJaccard)
  }

  /** The d6b pipeline as reusable WITH-clause bodies (wh..v); `v` ends
    * with per-pair exact jaccard. Shared by the d6b oracle and the d12
    * composed-pipeline oracle.
    */
  private[ops] def minhashPairsCtes: String = {
    val aLit = s"[${PermA.mkString(",")}]"
    val bLit = s"[${PermB.mkString(",")}]"
    val bandCase = (0 until TwinBands)
      .map(b => s"WHEN $b THEN ${bandHashExpr("sig", b, (s, i) => s"$s[$i]")}")
      .mkString(" ")
    s"""wh AS (
        SELECT doc_id, ${wordHashesSql("text")} AS wh FROM documents),
      sh AS (
        SELECT doc_id, ${shingleHashesSql("wh")} AS hpos
        FROM wh WHERE len(wh) >= 3),
      sg AS (
        SELECT doc_id, hpos,
               list_transform(range(1, ${PermA.length + 1}), j ->
                 list_min(list_transform(hpos, h -> ($aLit[j] * h + $bLit[j]) % $SigP))) AS sig
        FROM sh),
      banded AS (
        SELECT doc_id, b AS band, CASE b $bandCase END AS bh
        FROM sg, range(0, $TwinBands) t(b)
        QUALIFY count(*) OVER (PARTITION BY band, bh) <= $MaxBucket),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM banded a JOIN banded b2 ON a.band = b2.band AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
      v AS (
        SELECT p.doc_a, p.doc_b,
               len(list_intersect(x.hpos, y.hpos))::DOUBLE /
                 len(list_distinct(list_concat(x.hpos, y.hpos))) AS jaccard
        FROM pairs p JOIN sh x ON x.doc_id = p.doc_a JOIN sh y ON y.doc_id = p.doc_b)"""
  }

  private def minhashPortableOracle(minJaccard: Double): String =
    s"""
      WITH $minhashPairsCtes
      SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= $minJaccard
      ORDER BY doc_a, doc_b"""

  /** Portable 31-bit SimHash over the mixed word hashes. */
  private def portableSimhash(whCol: String): Column = expr(
    s"""aggregate(
          transform(sequence(0, 30), j ->
            CASE WHEN aggregate($whCol, cast(0 as bigint),
                   (acc, h) -> acc + (CASE WHEN (h >> j) & 1 = 1 THEN 1L ELSE -1L END)) > 0
                 THEN shiftleft(1L, j) ELSE 0L END),
          cast(0 as bigint), (acc, v) -> acc + v)""")

  /** The composed training-data-prep pipeline: quality filter (d4's
    * heuristics) -> exact dedup (md5 canonical) -> MinHash near-dup drop
    * (keep the lower doc_id of each verified pair) -> retention summary.
    * The LLM-pipeline analog of t2_migrate_pipeline: every stage is an
    * operator proven individually; this proves they compose, end-to-end,
    * against one oracle row.
    */
  // Same swap-cache discipline as the signature table above: the
  // post-exact-dedup survivor set feeds FOUR plan branches (both sides
  // of the near-dup join, the anti-join base, and the funnel count);
  // uncached, each branch re-derived it from the raw scan — documents
  // was read ~10x per run. One slot, previous entry released on reuse.

  def dataprepPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(spark)
    val docs = Tables.documents(spark, sfDir)
    val nw = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long")
    val padded = concat(lit(" "), col("text"), lit(" "))
    def hits(m: String): Column =
      ((length(padded) - length(regexp_replace(padded, m, ""))) / m.length).cast("long")
    val q = docs
      .select(col("doc_id"), col("text"), nw.as("n_words"),
              (hits(" the ") + hits(" a ")).as("sw"))
      .where(col("n_words") >= 20 && col("sw") > 0)
    val e = q
      .withColumn("m", min(col("doc_id")).over(
        Window.partitionBy(md5(encode(col("text"), "UTF-8")))))
      .where(col("doc_id") === col("m"))
      .select("doc_id", "n_words")
      .persist()
    PipelineCache.retain(e)
    val pairs = minhashPortablePairs(spark, sfDir, 0.5)
    val nd = pairs
      .join(e.select(col("doc_id").as("doc_a")), "doc_a")
      .join(e.select(col("doc_id").as("doc_b")), "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
    val f = e.join(nd, Seq("doc_id"), "left_anti")
    docs.agg(count(lit(1)).as("total_docs"))
      .crossJoin(q.agg(count(lit(1)).as("good_docs")))
      .crossJoin(e.agg(count(lit(1)).as("after_exact")))
      .crossJoin(f.agg(count(lit(1)).as("after_neardup"),
                       sum(col("n_words")).as("tokens_kept")))
  }

  /** Distinct word-3-gram shingle hashes as (doc_id, sh) rows, for ANY
    * documents-shaped input — a per-row projection + explode, so it works
    * identically on a batch OR STREAMING DataFrame (the streaming
    * decontamination path in EventStreams reuses it verbatim).
    */
  def shingleTable(docs: DataFrame): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), portableWordHashes("text").as("wh"))
      .select(col("doc_id"), explode(portableShingleHashes("wh")).as("sh"))
  }

  /** Overlap counts of a (doc_id, sh) shingle table against a benchmark
    * shingle-set — the decontamination core. The benchmark side is tiny
    * relative to the corpus and rides a broadcast; shingles are distinct
    * per doc (shingleTable dedupes), so the plain count after the join IS
    * the distinct-overlap count — which keeps the aggregation legal on a
    * streaming left side too (no countDistinct in streaming).
    */
  def decontaminate(sh: DataFrame, benchShingles: DataFrame): DataFrame =
    sh.join(broadcast(benchShingles), "sh")
      .groupBy("doc_id")
      .agg(count(col("sh")).as("n_shared"))

  /** Transitive near-dup cluster compaction — connected components over
    * the verified pair graph by min-label propagation. Pairwise
    * keep-lowest-id (d12's drop rule) is NOT transitive: a~b, b~c must
    * collapse to ONE representative even when a~c was never a candidate
    * pair. Iterative equi-joins on (id, label) longs; each iteration is
    * localCheckpoint'ed so lineage stays flat (the standard iterative-
    * algorithm discipline — at scale this is exactly large-graph CC over
    * the dedup pair list, converging in cluster-diameter iterations,
    * which for dup clusters is small).
    */
  def dupClusters(spark: SparkSession, sfDir: String, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPortablePairs(spark, sfDir, minJaccard)
    clusterLabels(pairs)
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster_rep")).cast("long"))
      .orderBy("doc_id")
  }

  /** The connected-components core of [[dupClusters]], reusable against an
    * already-computed (and ideally persisted) pair graph so callers that
    * need both the labels AND the raw pairs (d44) pay for the MinHash
    * pipeline once. Returns (doc_id, cluster_rep) for every doc that
    * appears in at least one pair.
    *
    * The edge cache is laid out co-located AND co-sorted with the
    * superstep join key (repartition(dst) + sortWithinPartitions before
    * the persist): every superstep's sort-merge join then reads the cache
    * with ZERO exchange and ZERO sort on the corpus-scale edge side — only
    * the N-row label table is shuffled+sorted per iteration. The layout
    * A/B and its sf10 numbers are recorded in OPTIMIZATION_r16.md; the
    * measured superstep counts (dup-cluster graphs have diameter 1) in
    * OPTIMIZATION_r17.md and VERDICT.md.
    *
    * Convergence is counted, not summed: each superstep is ONE eager
    * checkpoint job whose `observe` metric counts the vertices whose label
    * dropped, and the loop stops at the first superstep where none did.
    * Superstep 1 needs no initial labels table — over the self-looped
    * edges, "min over self and neighbour ids" is a plain min(dst) — and
    * later supersteps carry the previous label through the aggregate as
    * the self-loop row's neighbour label. A diameter-1 graph therefore
    * costs two supersteps and an empty graph one.
    */
  private[graft] def clusterLabels(pairs: DataFrame): DataFrame = {
    // Symmetrize via explode, not self-union: a union of two projections
    // scans (and for unpersisted callers like d21/d34, fully recomputes)
    // the pair pipeline once per branch; the explode emits both directions
    // from a single pass (shape pinned in PlanQualitySpec). One self-loop
    // per vertex is then appended so a superstep's "min over neighbors
    // AND self" is ONE join + aggregate — the previous formulation paid a
    // second labels join per iteration (two extra N-row shuffles per
    // superstep at cluster scale) just to fold the prior label back in.
    val sym = Edges.symmetrize(pairs, col("doc_a"), col("doc_b")).persist()
    val ids = sym.select(col("src").as("id")).distinct()
    val edges = sym.union(ids.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst")).sortWithinPartitions("dst").persist()
    // Checkpoint-block hygiene (the j11/pagerankLoop discipline, see
    // Joins.scala): Dataset.unpersist cannot reach an RDD-layer
    // localCheckpoint persist, so untracked supersteps leak one
    // MEMORY_AND_DISK block set per iteration per invocation until the
    // ContextCleaner happens to GC the reference — across a 186-query
    // sweep the d21/d34/d40/d44/d49 family accumulated exactly such
    // blocks (found via the r14 storage_mb trail work; the isolated
    // re-measure's System.gc() is why the same queries read fast
    // isolated). The persistent-RDD id diff around each EAGER checkpoint
    // attributes its blocks; the previous iteration's blocks are dead
    // the moment the next checkpoint materializes (lineage truncated)
    // and are dropped right there; the FINAL set backs the returned
    // lazy plan, so its release is registry-managed (every runner's
    // beginQuery fires it). The diff attribution requires the shared
    // caches to be materialized BEFORE the first bracket — else their
    // buffer RDDs would register inside it and the cleanup would
    // destroy the cache the loop amortizes (the j11 review lesson).
    val sc = pairs.sparkSession.sparkContext
    // materializes the sym AND edges persists — a noop write rather than
    // count(), which would add a global-aggregate exchange (one more job)
    edges.write.format("noop").mode("overwrite").save()
    // sym fed only the edges build — release it BEFORE the supersteps so
    // its corpus-scale block set is not resident storage competing with
    // the iterations' execution memory.
    sym.unpersist()
    // One superstep = one eager checkpoint of (id, label, moved). Labels
    // only DECREASE under min-propagation, so fixpoint <=> no vertex
    // moved; the count rides the checkpointing job itself as an observed
    // metric instead of a second aggregate job over the checkpoint.
    def superstep(agg: DataFrame): (DataFrame, Set[Int], Boolean) = {
      val obs = Observation()
      val before = sc.getPersistentRDDs.keySet.toSet
      val cp = agg
        .select(col("id"), col("label"), (col("label") < col("prev")).as("moved"))
        .observe(obs, count_if(col("moved")).as("n_moved"))
        .localCheckpoint(true) // eager: materialized here
      val mine = sc.getPersistentRDDs.keySet.toSet -- before
      // Bounded wait (obs.get blocks forever if the metric is never
      // delivered); without the metric, decide from the checkpoint itself
      // — never declare a fixpoint without evidence.
      val moved =
        try Await.result(obs.future, 30.seconds).getLong(0) > 0
        catch { case _: TimeoutException => !cp.where(col("moved")).isEmpty }
      (cp, mine, moved)
    }
    var (labels, liveCpIds, moved) = superstep(edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("label"))
      .withColumn("prev", col("id")))
    var iter = 1
    val maxIters = 20
    while (moved && iter < maxIters) {
      val (next, mine, m) = superstep(edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nl")).as("label"),
             max(when(col("src") === col("dst"), col("nl"))).as("prev")))
      // the previous labels checkpoint fed only this materialization
      liveCpIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      liveCpIds = mine
      labels = next
      moved = m
      iter += 1
    }
    edges.unpersist()
    // the final checkpoint backs the returned lazy plan: registry-managed
    // release (registered BEFORE the convergence check so even the error
    // path's blocks are evicted at the next query's beginQuery)
    val lastIds = liveCpIds
    PipelineCache.retainCleanup { () =>
      lastIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
    // Diameter > maxIters means the labels above are NOT fixed-point —
    // returning them silently would hand the caller wrong clusters.
    if (moved) sys.error(
      s"dupClusters: min-label propagation did not converge in $maxIters iterations " +
        "(a dup-cluster chain longer than the cap); raise the cap for this corpus")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** d47 core over ANY documents-shaped frame: cross-doc duplicated
    * k-word windows (two window functions over ONE wh-keyed shuffle)
    * merged to contiguous spans by gaps-and-islands per doc. Extracted so
    * DedupSpec can pin the gap==k / within-doc-repeat / overlap edges on
    * a crafted corpus against a brute-force reference — fixture text is
    * not guaranteed to exercise the exact-gap boundary.
    */
  private[graft] def substringDedup(docs: DataFrame, k: Int): DataFrame =
    substringDedup(docs, k, hofWindows = false)

  /** `hofWindows = true` keeps the pre-r16 window emit (split + transform
    * lambda + slice + concat_ws + md5 hex keys) for the interleaved A/B;
    * the default is the one-pass `word_window_hashes` codegen expression
    * (guide §4: no per-window slice/string/md5, and the shuffle + window
    * sort key narrows from a 32-byte hex string to a long). Window
    * GROUPING is unchanged: the hashed bytes are exactly the joined
    * window string's bytes (see WordWindowHashes; parity pinned in
    * DedupSpec on crafted multi-space corpora).
    */
  private[graft] def substringDedup(docs: DataFrame, k: Int, hofWindows: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(docs.sparkSession)
    // n_words is computed BELOW the explode on purpose: written in the
    // same select as posexplode, size(ws) lands in the Project ABOVE the
    // Generate node, which forces the whole ws array into Generate's
    // requiredChildOutput — and GenerateExec then copies the full word
    // array into EVERY emitted window row (n_windows x n_words bytes =
    // quadratic per document; a single 5M-char document ground one core
    // for 20+ minutes, found by the monster-doc probe). With n_words
    // materialized first, the Generate carries only (doc_id, n_words).
    val wins = if (hofWindows)
      docs
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .where(size(col("ws")) >= k)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"), col("ws"))
        .select(col("doc_id"), col("n_words"),
                posexplode(expr(
                  s"transform(sequence(0, size(ws)-$k), i -> concat_ws(' ', slice(ws, i+1, $k)))"))
                  .as(Seq("pos", "win")))
        .select(col("doc_id"), col("n_words"), col("pos").cast("long").as("pos"),
                md5(col("win").cast("binary")).as("wh"))
    else
      // n_words = spaces + 1 = size(split(text,' ')) without building the
      // token array (java split keeps trailing empty tokens at limit -1,
      // so the space count is exact)
      docs
        .select(col("doc_id"), col("text"),
                (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
                  .cast("long").as("n_words"))
        .where(col("n_words") >= k)
        .select(col("doc_id"), col("n_words"),
                posexplode(call_function("word_window_hashes", col("text"), lit(k)))
                  .as(Seq("pos", "wh")))
        .select(col("doc_id"), col("n_words"), col("pos").cast("long").as("pos"), col("wh"))
    val ww = Window.partitionBy("wh")
    val dupOcc = wins
      .withColumn("dr", dense_rank().over(ww.orderBy("doc_id")))
      .withColumn("nd", max(col("dr")).over(ww))
      .where(col("nd") > 1)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupOcc
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("n_words"), col("island"))
      .agg(count(lit(1)).as("n_win"),
           (max(col("pos")) - min(col("pos")) + k).as("span_words"))
      .groupBy("doc_id", "n_words")
      .agg(sum(col("n_win")).as("n_dup_windows"),
           count(lit(1)).as("n_spans"),
           sum(col("span_words")).as("dup_words"))
      .withColumn("dup_mille", expr("dup_words * 1000 div n_words"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(

    // Composed data-prep pipeline, one oracle-checked summary row.
    "d12_dataprep_pipeline" -> Q(
      fn = (s, d) => dataprepPipeline(s, d),
      oracle = Some(s"""
        WITH $minhashPairsCtes,
        q AS (
          SELECT doc_id, text, n_words FROM (
            SELECT doc_id, text,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
                   CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5 AS BIGINT)
                     + CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) // 3 AS BIGINT) AS sw
            FROM documents)
          WHERE n_words >= 20 AND sw > 0),
        e AS (
          SELECT doc_id, n_words FROM (
            SELECT doc_id, n_words, min(doc_id) OVER (PARTITION BY md5(text)) AS m FROM q)
          WHERE doc_id = m),
        nd AS (
          SELECT DISTINCT v.doc_b AS doc_id
          FROM v
          JOIN e a ON a.doc_id = v.doc_a
          JOIN e b2 ON b2.doc_id = v.doc_b
          WHERE v.jaccard >= 0.5),
        f AS (SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM nd))
        SELECT (SELECT count(*) FROM documents) AS total_docs,
               (SELECT count(*) FROM q) AS good_docs,
               (SELECT count(*) FROM e) AS after_exact,
               (SELECT count(*) FROM f) AS after_neardup,
               (SELECT CAST(sum(n_words) AS BIGINT) FROM f) AS tokens_kept"""),
      doc = "composed data-prep: quality filter -> exact dedup -> near-dup drop -> retention summary"
    ),

    // Edit-distance near-dup: exact Levenshtein over a bounded pair set
    // (planted append-variants must measure exactly the appended suffix;
    // cross pairs give the background distribution). Quadratic DP per
    // pair — bounded by construction, like the d8 all-pairs baseline.
    "d13_levenshtein" -> Q(
      fn = (s, d) => {
        // ~20-row sample consumed by both join sides: persist once so the
        // pair enumeration reads the cache, not documents 4x (the union
        // inside withPlantedDups doubles every downstream scan).
        // Narrow persist: the pair join reads only (doc_id, text) — caching
        // lang/source/n_chars too was a read-width audit find.
        val base = withPlantedDups(s, d)
          .where(col("doc_id") < 10 || (col("doc_id") >= 1000000L && col("doc_id") < 1000010L))
          .select("doc_id", "text")
          .persist()
        PipelineCache.retain(base)
        // Edit distance over the first 10k chars of each side (a no-op on
        // the fixtures — max text 577 chars — proven by the unchanged
        // oracle hash): Levenshtein DP is O(len_a x len_b), so a single
        // web-scale outlier document (one 500k-char doc in the monster
        // sweep) costs 10^10+ cells per pair with no cap. 10k chars is
        // dedup-grade signal; the contract is documented here and
        // mirrored in the oracle's substr.
        val LevCap = 10000
        val a = base.where(col("doc_id") < 10)
          .select(col("doc_id").as("doc_a"), substring(col("text"), 1, LevCap).as("ta"))
        val b = base
          .select(col("doc_id").as("doc_b"), substring(col("text"), 1, LevCap).as("tb"))
        a.join(b, col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
                  levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
                  // nullif guard: two empty strings have max length 0 and
                  // similarity 0/0 — undefined, NULL in both engines
                  (lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
                    nullif(greatest(length(col("ta")), length(col("tb"))), lit(0)))
                    .as("sim_ratio"),
                  (col("doc_b") - col("doc_a") === 1000000L).as("is_planted"))
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 10
          UNION ALL
          SELECT doc_id + 1000000, text || ' planted near dup' FROM documents WHERE doc_id < 10),
        c AS (SELECT doc_id, substr(text, 1, 10000) AS text FROM base),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
                 1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
                   NULLIF(greatest(length(a.text), length(b.text)), 0) AS sim_ratio,
                 b.doc_id - a.doc_id = 1000000 AS is_planted
          FROM c a JOIN c b ON a.doc_id < b.doc_id
          WHERE a.doc_id < 10)
        SELECT * FROM p ORDER BY doc_a, doc_b"""),
      doc = "exact Levenshtein near-dup on a bounded pair set"
    ),

    // Oracle-gated MinHash+LSH twin: portable hashes, full corpus.
    "d6b_minhash_portable" -> Q(
      fn = (s, d) => minhashPortable(s, d, minJaccard = 0.5),
      oracle = Some(minhashPortableOracle(0.5)),
      doc = "MinHash+LSH near-dup with portable hashes (full oracle)"
    ),

    // d6b with the signature stage materialized THROUGH STORAGE: the
    // judged plan writes the (doc_id, hpos, sig) table to parquet and
    // the band join + exact verify consume the stored table instead of a
    // cached recompute — the 100 TB answer to the per-query signature
    // rebuild that cache hygiene exposed in the r6 bench. Same output,
    // same oracle as d6b.
    "d6c_minhash_sigtable" -> Q(
      fn = (s, d) => minhashFromStoredSigTable(s, d, minJaccard = 0.5),
      oracle = Some(minhashPortableOracle(0.5)),
      doc = "MinHash+LSH near-dup consuming the parquet-materialized signature table"
    ),

    // Sketch-accuracy audit: per candidate pair, the signature-estimated
    // Jaccard (matching minhash positions / permutations) against the
    // exact shingle Jaccard, with the absolute error. The operational
    // query behind tuning band/row counts — at corpus scale the exact
    // side is only ever computed on LSH survivors, so this audit is the
    // same bounded join as the dedup itself. All math is exact: integer
    // match counts, and doubles only in final deterministic divisions.
    "d25_minhash_est_error" -> Q(
      fn = (s, d) => {
        // three consumers of the signature scan (band keys + both sig
        // joins): persist once, same as minhashPortable
        val base = portableSigTable(s, d).persist()
        PipelineCache.retain(base)
        val pairs = portableCandidatePairs(base)
        // exactJaccardOnPairs sorts once per document side (jaccard_sorted
        // contract) and carries sig for the estimator comparison
        exactJaccardOnPairs(pairs, base, "doc_a", "doc_b", carry = Seq("sig"))
          .withColumn("n_match",
            size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
                        m => m)).cast("long"))
          .withColumn("est_jaccard", col("n_match").cast("double") / PermA.length)
          .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
          .select("doc_a", "doc_b", "n_match", "est_jaccard", "jaccard", "abs_err")
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(
        s"""WITH $minhashPairsCtes,
            m AS (
              SELECT v.doc_a, v.doc_b, v.jaccard,
                     CAST(len(list_filter(range(1, ${PermA.length + 1}),
                            j -> sa.sig[j] = sb.sig[j])) AS BIGINT) AS n_match
              FROM v
              JOIN sg sa ON sa.doc_id = v.doc_a
              JOIN sg sb ON sb.doc_id = v.doc_b)
            SELECT doc_a, doc_b, n_match,
                   CAST(n_match AS DOUBLE) / ${PermA.length} AS est_jaccard,
                   jaccard,
                   abs(CAST(n_match AS DOUBLE) / ${PermA.length} - jaccard) AS abs_err
            FROM m ORDER BY doc_a, doc_b"""),
      doc = "minhash sketch accuracy: estimated vs exact Jaccard per pair"
    ),

    // Oracle-gated SimHash twin: portable word hashes, planted recall
    // visible to the oracle via the is_planted flag.
    "d7b_simhash_portable" -> Q(
      fn = (s, d) => {
        graft.GraftExtensions.register(s)
        // ~75-row fingerprinted sample read by both join sides: persist so
        // the Hamming all-pairs reads the cache, not documents 4x.
        // Narrow persist: only (doc_id, simhash) survive to the all-pairs
        // join — see d7's read-width note.
        val sample = withPlantedDups(s, d)
          .where(col("doc_id") < 50 || col("doc_id") >= 1000000L)
          .withColumn("wh", portableWordHashes("text"))
          .select(col("doc_id"), portableSimhash("wh").as("simhash"))
          .persist()
        PipelineCache.retain(sample)
        val a = sample.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
        val b = sample.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
          .where(col("hamming") <= 3)
          .select(col("doc_a"), col("doc_b"), col("hamming"),
                  (col("doc_b") - col("doc_a") === 1000000L).as("is_planted"))
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 50
          UNION ALL
          SELECT doc_id + 1000000, text || ' planted near dup' FROM documents WHERE doc_id < 25),
        wh AS (
          SELECT doc_id, ${wordHashesSql("text")} AS wh FROM base),
        sh AS (
          SELECT doc_id,
                 list_sum(list_transform(range(0, 31), j ->
                   CASE WHEN list_sum(list_transform(wh, h ->
                          CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
          FROM wh)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming,
               b.doc_id - a.doc_id = 1000000 AS is_planted
        FROM sh a, sh b
        WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY doc_a, doc_b"""),
      doc = "SimHash near-dup with portable hashes (full oracle)"
    ),

    // MinHash-LSH near-dup pairs over the raw corpus (the fixture contains
    // genuine near-dups; planted-recall is covered by DedupSpec).
    "d6_minhash_lsh" -> Q(
      fn = (s, d) => minhashNearDups(s, d, minJaccard = 0.5),
      oracle = None, // xxhash64-based signatures are not oracle-expressible
      doc = "MinHash+LSH banding near-dup detection (rows-only check)"
    ),

    // SimHash near-dup pairs on a sample incl. planted variants.
    "d7_simhash" -> Q(
      fn = (s, d) => {
        // Persist only (doc_id, simhash): caching the pre-projection frame
        // materialized text + lang + source + n_chars + the whash array for
        // a consumer that reads two columns (read-width audit find).
        val sample = Dedup.withPlantedDups(s, d)
          .where(col("doc_id") < 50 || col("doc_id") >= 1000000L)
          .withColumn("whash", expr("transform(split(text, ' '), w -> xxhash64(w))"))
          .select(col("doc_id"), simhash32("whash").as("simhash"))
          .persist()
        PipelineCache.retain(sample)
        val a = sample.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
        val b = sample.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
          .where(col("hamming") <= 3)
          .select(col("doc_a"), col("doc_b"), col("hamming"),
                  (col("doc_b") - col("doc_a") === 1000000L).as("is_planted"))
          .orderBy("doc_a", "doc_b")
      },
      oracle = None,
      doc = "SimHash fingerprint + Hamming-distance near-dup (rows-only)"
    ),

    // Oracle-checkable baseline: exact word-3-gram Jaccard, all pairs on a
    // bounded sample, top-20 most-similar pairs.
    "d8_ngram_jaccard" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val g = Tables.documents(s, d).where(col("doc_id") < 60)
          .select(col("doc_id"), shingles("text").as("grams"))
        val a = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
        val b = g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("jaccard",
            size(array_intersect(col("ga"), col("gb"))).cast("double") /
              size(array_union(col("ga"), col("gb"))))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))).cast("long"))
          .where(col("rnk") <= 20)
          .select("rnk", "doc_a", "doc_b", "jaccard")
          .orderBy("rnk")
      },
      oracle = Some("""
        WITH g AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 2)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS grams
          FROM documents WHERE doc_id < 60),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_intersect(a.grams, b.grams)) /
                   len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
          FROM g a, g b WHERE a.doc_id < b.doc_id),
        r AS (
          SELECT CAST(row_number() OVER (ORDER BY jaccard DESC, doc_a, doc_b) AS BIGINT) AS rnk,
                 doc_a, doc_b, jaccard
          FROM p)
        SELECT rnk, doc_a, doc_b, jaccard FROM r WHERE rnk <= 20 ORDER BY rnk"""),
      doc = "exact n-gram Jaccard baseline (bounded all-pairs)"
    ),

    // Decontamination — the training-data op every eval-conscious pipeline
    // runs: drop (here: report) training documents that share word-3-gram
    // shingles with a held-out benchmark set. Scale shape: the benchmark
    // side is TINY relative to a 100 TB corpus, so its distinct shingle
    // set rides a broadcast and the corpus streams through a broadcast
    // hash join — no shuffle of the big side; the per-doc overlap count
    // is the only keyed aggregation. Benchmark membership here is the
    // deterministic holdout doc_id % 97 == 0.
    "d15_decontaminate" -> Q(
      fn = (s, d) => {
        val sh = shingleTable(Tables.documents(s, d))
        val bench = sh.where(col("doc_id") % 97 === 0).select("sh").distinct()
        decontaminate(sh.where(col("doc_id") % 97 =!= 0), bench)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH wh AS (SELECT doc_id, ${wordHashesSql("text")} AS wh FROM documents),
        sh AS (SELECT doc_id, unnest(${shingleHashesSql("wh")}) AS sh FROM wh),
        bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        train AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0)
        SELECT t.doc_id, count(DISTINCT t.sh) AS n_shared
        FROM train t JOIN bench b USING (sh)
        GROUP BY t.doc_id ORDER BY doc_id"""),
      doc = "decontamination: shingle overlap vs a held-out benchmark set"
    ),

    // Within-document repetition — the quality signal near-dup detection
    // does NOT catch: a document that repeats ITSELF (boilerplate loops,
    // template spam) has few distinct shingles relative to its length.
    // rep_ratio = 1 - distinct/total word-3-grams, exact in both engines
    // over the portable shingle hashes; scan-side only, no shuffle.
    "d23_repetition" -> Q(
      fn = (s, d) => {
        graft.GraftExtensions.register(s)
        Tables.documents(s, d)
          .select(col("doc_id"), portableWordHashes("text").as("wh"))
          .where(size(col("wh")) >= 3)
          .select(
            col("doc_id"),
            (size(col("wh")) - 2).cast("long").as("n_grams"),
            size(portableShingleHashes("wh")).cast("long").as("n_distinct"))
          .withColumn("rep_ratio",
            lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
          .withColumn("is_repetitive", col("rep_ratio") > 0.2)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH wh AS (SELECT doc_id, ${wordHashesSql("text")} AS wh FROM documents),
        t AS (
          SELECT doc_id,
                 CAST(len(wh) - 2 AS BIGINT) AS n_grams,
                 CAST(len(${shingleHashesSql("wh")}) AS BIGINT) AS n_distinct
          FROM wh WHERE len(wh) >= 3)
        SELECT doc_id, n_grams, n_distinct,
               1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS rep_ratio,
               (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) > 0.2 AS is_repetitive
        FROM t ORDER BY doc_id"""),
      doc = "within-document repetition ratio (distinct vs total shingles)"
    ),

    // Transitive dup clusters over the d6b pair graph; the oracle computes
    // the same components via a recursive label-closure CTE, so the
    // iterative Spark propagation is hash-checked end-to-end.
    "d21_dup_clusters" -> Q(
      fn = (s, d) => dupClusters(s, d, minJaccard = 0.5),
      oracle = Some(s"""
        WITH RECURSIVE $minhashPairsCtes,
        p2 AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p2
          UNION ALL
          SELECT doc_b, doc_a FROM p2),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(node, label) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        lab AS (SELECT node AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY node)
        SELECT doc_id, cluster_rep,
               CAST(count(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS n_members
        FROM lab ORDER BY doc_id"""),
      doc = "transitive near-dup clusters: connected components by min-label propagation"
    ),

    // Leakage-safe train/val split — the eval-integrity twin of
    // decontamination: a plain per-document hash split leaks whenever a
    // near-dup pair straddles the boundary (the val doc is "seen" in
    // training). Splitting by the CLUSTER REPRESENTATIVE instead puts
    // every member of a dup cluster on the same side by construction.
    // The judged output carries the proof: cross_split_dup_pairs — the
    // count of >= 0.5-Jaccard pairs with members on both sides — must
    // be 0, and the oracle recomputes it independently. Deterministic
    // multiplicative hash on the representative = resumable, auditable
    // splits at any scale (no sampling state to persist).
    "d44_leakage_safe_split" -> Q(
      fn = (s, d) => {
        // ONE MinHash pass: the persisted pair graph feeds both the CC
        // labels and the cross-split leakage check (at scale this is a
        // disk-backed persist of the pair list, tiny next to the corpus).
        val pairs = minhashPortablePairs(s, d, 0.5).persist()
        PipelineCache.retain(pairs)
        val labels = clusterLabels(pairs)
        val rep = Tables.documents(s, d).select("doc_id")
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("rep"))
          .withColumn("split",
            // wrap-mask: reps >= ~3.5e9 would wrap negative and always
            // land in "train", biasing the split (see d43's twin fix)
            when(((col("rep") * 2654435761L).bitwiseAND(Long.MaxValue)) % 10 < 8,
              "train").otherwise("val"))
        // The leakage check only involves docs that appear in a pair —
        // exactly the membership of the cluster-sized labels frame, where
        // coalesce(cluster_rep, doc_id) == cluster_rep by construction.
        // Deriving the split there keeps the corpus-sized rep map to ONE
        // consumer (the per-split aggregate) instead of three: at scale
        // the cross joins probe a frame bounded by the dup-pair graph,
        // not the corpus.
        val labSplit = labels.withColumn("split",
          when(((col("cluster_rep") * 2654435761L).bitwiseAND(Long.MaxValue)) % 10 < 8,
            "train").otherwise("val"))
        // ONE labels probe, not one per pair side: explode each pair into
        // its two members, join the member ids against the split map once,
        // and re-assemble per pair with min/max (two split values per
        // pair; they differ iff the pair is cross-split). The two-join
        // form probed the labels frame twice and shuffled the pair list
        // twice (doc_a then doc_b); this is one member-keyed join plus
        // one pair-keyed aggregation — 3 exchanges down from 4, and the
        // labels frame is read once. The explode carries only two longs
        // (fixed width — no Generate-carry concern).
        val cross = pairs
          .select(col("doc_a"), col("doc_b"),
                  explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .join(labSplit.select("doc_id", "split"), Seq("doc_id"))
          .groupBy("doc_a", "doc_b")
          .agg((min(col("split")) =!= max(col("split"))).as("is_cross"))
          .agg(coalesce(sum(when(col("is_cross"), 1L).otherwise(0L)), lit(0L))
            .as("cross_split_dup_pairs"))
        rep.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(col("rep")).as("n_clusters"))
          .crossJoin(broadcast(cross))
          .orderBy("split")
      },
      oracle = Some(s"""
        WITH RECURSIVE $minhashPairsCtes,
        p2 AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p2
          UNION ALL
          SELECT doc_b, doc_a FROM p2),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(node, label) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        lab AS (SELECT node AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY node),
        rep AS (
          SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS rep,
                 CASE WHEN ((coalesce(l.cluster_rep, d.doc_id) * 2654435761) & 9223372036854775807) % 10 < 8
                      THEN 'train' ELSE 'val' END AS split
          FROM documents d LEFT JOIN lab l USING (doc_id)),
        cc AS (
          SELECT CAST(coalesce(sum(CASE WHEN ra.split <> rb.split THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS cross_split_dup_pairs
          FROM p2 JOIN rep ra ON ra.doc_id = p2.doc_a
                  JOIN rep rb ON rb.doc_id = p2.doc_b)
        SELECT split, count(*) AS n_docs,
               CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
               cross_split_dup_pairs
        FROM rep, cc GROUP BY split, cross_split_dup_pairs ORDER BY split"""),
      doc = "cluster-aware train/val split with an in-query zero-leakage proof"
    ),

    // Quality-aware canonical selection — the KEEP POLICY of near-dup
    // curation: instead of keep-lowest-id (d46's convention), each dup
    // cluster keeps its highest-QUALITY member (longest text; ties to
    // the lowest id), the policy production pipelines apply when
    // near-dups differ in completeness (truncated mirrors, boilerplate
    // copies). One MinHash pass feeds both the cluster labels and the
    // per-doc quality join; judged rows are the real (>= 2-member)
    // clusters with their keep/drop accounting, so the policy itself is
    // hash-checked. Scale shape: the pair graph is the persisted
    // cluster-sized frame; quality join is doc_id-keyed; the argmax is
    // one map-side-combinable max_by per cluster.
    "d49_quality_keep_dedup" -> Q(
      fn = (s, d) => {
        val pairs = minhashPortablePairs(s, d, 0.5).persist()
        PipelineCache.retain(pairs)
        val labels = clusterLabels(pairs)
        val rep = Tables.documents(s, d).select("doc_id", "n_chars")
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
                  coalesce(col("cluster_rep"), col("doc_id")).as("rep"))
        rep.groupBy("rep")
          .agg(count(lit(1)).as("n_members"),
               max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("kept_doc"),
               max(col("n_chars")).as("kept_n_chars"))
          .where(col("n_members") > 1)
          .select(col("rep"), col("n_members"), col("kept_doc"),
                  col("kept_n_chars"), (col("n_members") - 1).as("n_dropped"))
          .orderBy("rep")
      },
      oracle = Some(s"""
        WITH RECURSIVE $minhashPairsCtes,
        p2 AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p2
          UNION ALL
          SELECT doc_b, doc_a FROM p2),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(node, label) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        lab AS (SELECT node AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY node),
        rep AS (
          SELECT d.doc_id, d.n_chars, coalesce(l.cluster_rep, d.doc_id) AS rep
          FROM documents d LEFT JOIN lab l USING (doc_id)),
        k AS (
          SELECT rep, count(*) AS n_members, max(n_chars) AS kept_n_chars
          FROM rep GROUP BY rep HAVING count(*) > 1),
        kd AS (
          SELECT r.rep, min(r.doc_id) AS kept_doc
          FROM rep r JOIN k ON k.rep = r.rep AND r.n_chars = k.kept_n_chars
          GROUP BY r.rep)
        SELECT k.rep, CAST(k.n_members AS BIGINT) AS n_members, kd.kept_doc,
               CAST(k.kept_n_chars AS BIGINT) AS kept_n_chars,
               CAST(k.n_members - 1 AS BIGINT) AS n_dropped
        FROM k JOIN kd USING (rep) ORDER BY k.rep"""),
      doc = "quality-aware keep policy on dup clusters (keep longest member, not lowest id)"
    ),

    // Exact substring dedup (Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better", public): any k-word window
    // whose content appears in MORE THAN ONE document is a duplicated
    // span occurrence; overlapping/adjacent dup windows merge into
    // contiguous spans (gaps-and-islands over window positions). k=8
    // words is the fixture-scaled analog of the paper's 50-BPE-token
    // cutoff. Scale shape: only (md5 window key, doc, pos) triples ride
    // the duplicated-content shuffle — never window text — and the span
    // merge is a per-doc window function, embarrassingly parallel across
    // documents. Judged output: per affected doc, dup window count,
    // merged span count, covered words, and coverage ratio in mille.
    // Cross-doc duplication rides TWO window functions over ONE wh-keyed
    // shuffle (dense_rank of doc_id within the window-hash partition,
    // then its max): strictly better than the groupBy + self-join
    // formulation, which scanned and shuffled the window table twice.
    // distinct-doc count == max(dense_rank by doc_id). Core extracted as
    // [[substringDedup]] for the crafted-corpus spec.
    "d47_substring_dedup" -> Q(
      fn = (s, d) => substringDedup(Tables.documents(s, d), k = 8),
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        g AS (
          SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, CAST(i AS BIGINT) AS pos,
                 md5(array_to_string(ws[i+1:i+8], ' ')) AS wh
          FROM w, unnest(range(0, len(ws) - 8 + 1)) t(i)),
        dc AS (SELECT wh FROM g GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
        o AS (
          SELECT g.doc_id, g.n_words, g.pos,
                 lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
          FROM g JOIN dc USING (wh)),
        isl AS (
          SELECT doc_id, n_words, pos,
                 sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM o),
        sp AS (
          SELECT doc_id, n_words, island, count(*) AS n_win,
                 max(pos) - min(pos) + 8 AS span_words
          FROM isl GROUP BY doc_id, n_words, island)
        SELECT doc_id, n_words,
               CAST(sum(n_win) AS BIGINT) AS n_dup_windows,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(span_words) AS BIGINT) AS dup_words,
               CAST(sum(span_words) * 1000 // n_words AS BIGINT) AS dup_mille
        FROM sp GROUP BY doc_id, n_words ORDER BY doc_id"""),
      doc = "exact substring dedup: cross-doc duplicated k-word windows merged to spans (Lee et al. shape)"
    ),

    // Count-min-sketch heavy hitters. The sketch is built distributed:
    // each word occurrence increments depth×1 buckets, and the groupBy
    // (row, bucket) aggregation map-side-combines, so the shuffled state
    // is the SKETCH SIZE (4×1024 cells), not the corpus — the property
    // that lets one merged CMS summarize a 100 TB token stream. The
    // estimate (min over rows) is deterministic given the portable
    // hashes, so unlike HLL this sketch is fully oracle-gated: the
    // DuckDB mirror rebuilds the identical CMS and must agree cell for
    // cell. overest = est − true is the classic CMS one-sided error
    // (never negative; bounded by collisions at these widths).
    "d27_heavy_hitters_cms" -> Q(
      fn = (s, d) => {
        graft.GraftExtensions.register(s)
        val D = 4; val W = 1024L
        val As = Seq(104729L, 130363L, 174917L, 200183L)
        val Bs = Seq(31L, 1009L, 7919L, 104659L)
        val aLit = s"array(${As.mkString("L, ")}L)"
        val bLit = s"array(${Bs.mkString("L, ")}L)"
        val occ = Tables.documents(s, d)
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .where(col("word").rlike("^[a-z]{2,}$"))
          .withColumn("wh",
            element_at(call_function("portable_word_hashes", col("word")), 1))
        val sketch = occ
          .select(explode(expr(
            s"""transform(sequence(0, ${D - 1}), i -> struct(i AS row_i,
                  ((element_at($aLit, i + 1) * wh + element_at($bLit, i + 1)) % $SigP) % $W AS bucket))"""))
            .as("rb"))
          .groupBy(col("rb.row_i").as("row_i"), col("rb.bucket").as("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val top = occ.groupBy("word", "wh").agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("word")).limit(20)
        val probes = top.select(col("word"), col("true_cnt"),
          explode(expr(
            s"""transform(sequence(0, ${D - 1}), i -> struct(i AS row_i,
                  ((element_at($aLit, i + 1) * wh + element_at($bLit, i + 1)) % $SigP) % $W AS bucket))"""))
            .as("rb"))
          .select(col("word"), col("true_cnt"),
                  col("rb.row_i").as("row_i"), col("rb.bucket").as("bucket"))
        probes.join(broadcast(sketch), Seq("row_i", "bucket"))
          .groupBy("word", "true_cnt")
          .agg(min(col("cnt")).as("est_cnt"))
          .select(col("word"), col("true_cnt"), col("est_cnt"),
                  (col("est_cnt") - col("true_cnt")).as("overest"))
          .orderBy(col("true_cnt").desc, col("word"))
      },
      oracle = Some {
        val hv = "(VALUES (0, 104729, 31), (1, 130363, 1009), (2, 174917, 7919), (3, 200183, 104659))"
        s"""
        WITH occ AS (
          SELECT x AS word, list_extract(${wordHashesSql("x")}, 1) AS wh
          FROM (SELECT unnest(string_split(lower(text), ' ')) AS x FROM documents)
          WHERE regexp_full_match(x, '[a-z]{2,}')),
        cms AS (
          SELECT h.i AS row_i, ((h.a * wh + h.b) % $SigP) % 1024 AS bucket, count(*) AS cnt
          FROM occ, $hv h(i, a, b) GROUP BY row_i, bucket),
        top AS (
          SELECT word, wh, count(*) AS true_cnt FROM occ GROUP BY word, wh
          ORDER BY true_cnt DESC, word LIMIT 20),
        est AS (
          SELECT t.word, t.true_cnt, min(c.cnt) AS est_cnt
          FROM top t, $hv h(i, a, b)
          JOIN cms c ON c.row_i = h.i
                    AND c.bucket = ((h.a * t.wh + h.b) % $SigP) % 1024
          GROUP BY t.word, t.true_cnt)
        SELECT word, CAST(true_cnt AS BIGINT) AS true_cnt,
               CAST(est_cnt AS BIGINT) AS est_cnt,
               CAST(est_cnt - true_cnt AS BIGINT) AS overest
        FROM est ORDER BY true_cnt DESC, word"""
      },
      doc = "count-min-sketch heavy hitters: deterministic mergeable sketch, cell-exact oracle"
    ),

    // Containment (asymmetric Jaccard): |A∩B|/|A| and /|B| — the metric
    // that catches a short document EMBEDDED in a long one (quotes,
    // aggregator pages), which symmetric Jaccard dilutes toward 0. Same
    // bounded-sample baseline contract as d8; at scale the pair set comes
    // from the LSH candidate generation (d6b) instead of all-pairs.
    "d33_containment" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val g = Tables.documents(s, d).where(col("doc_id") < 60)
          .select(col("doc_id"), shingles("text").as("grams"))
        val a = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
        val b = g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
          .withColumn("cont_a", col("inter").cast("double") / size(col("ga")))
          .withColumn("cont_b", col("inter").cast("double") / size(col("gb")))
          .withColumn("containment", greatest(col("cont_a"), col("cont_b")))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("containment").desc, col("doc_a"), col("doc_b"))).cast("long"))
          .where(col("rnk") <= 20)
          .select("rnk", "doc_a", "doc_b", "inter", "cont_a", "cont_b", "containment")
          .orderBy("rnk")
      },
      oracle = Some("""
        WITH g AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 2)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS grams
          FROM documents WHERE doc_id < 60),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
                 CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(a.grams) AS cont_a,
                 CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) / len(b.grams) AS cont_b
          FROM g a, g b WHERE a.doc_id < b.doc_id),
        r AS (
          SELECT CAST(row_number() OVER (
                   ORDER BY greatest(cont_a, cont_b) DESC, doc_a, doc_b) AS BIGINT) AS rnk,
                 doc_a, doc_b, inter, cont_a, cont_b,
                 greatest(cont_a, cont_b) AS containment
          FROM p)
        SELECT rnk, doc_a, doc_b, inter, cont_a, cont_b, containment
        FROM r WHERE rnk <= 20 ORDER BY rnk"""),
      doc = "containment (asymmetric Jaccard): short-doc-inside-long-doc detection"
    ),

    // Keep-best-in-cluster — the production dedup POLICY on top of d21's
    // clusters: from each transitive near-dup component, keep the highest
    // -quality member (here: longest, tie -> lowest id), drop the rest.
    // d12 keeps lowest-id pairwise; this is the cluster-aware upgrade
    // that survives a~b~c chains. One window over cluster-sized groups.
    "d34_cluster_keep_best" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val clusters = dupClusters(s, d, minJaccard = 0.5)
        val nw = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long")
        val quality = Tables.documents(s, d).select(col("doc_id"), nw.as("n_words"))
        val w = Window.partitionBy("cluster_rep")
          .orderBy(col("n_words").desc, col("doc_id"))
        clusters.join(quality, "doc_id")
          .withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
          .select(col("cluster_rep"), col("doc_id").as("kept_doc"),
                  col("n_members"), col("n_words").as("kept_n_words"),
                  (col("n_members") - 1).as("n_dropped"))
          .orderBy("cluster_rep")
      },
      oracle = Some(s"""
        WITH RECURSIVE $minhashPairsCtes,
        p2 AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM p2
          UNION ALL
          SELECT doc_b, doc_a FROM p2),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(node, label) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        lab AS (SELECT node AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY node),
        mem AS (
          SELECT l.doc_id, l.cluster_rep,
                 CAST(count(*) OVER (PARTITION BY l.cluster_rep) AS BIGINT) AS n_members,
                 CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1 AS BIGINT) AS n_words
          FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
        SELECT cluster_rep, doc_id AS kept_doc, n_members,
               n_words AS kept_n_words, n_members - 1 AS n_dropped
        FROM mem
        QUALIFY row_number() OVER (PARTITION BY cluster_rep
                  ORDER BY n_words DESC, doc_id) = 1
        ORDER BY cluster_rep"""),
      doc = "cluster-aware dedup policy: keep the best member of each near-dup component"
    ),

    // Sorted-neighborhood near-dup — the third classic candidate-generation
    // family after hash banding (d6/d22) and bit signatures (d7/v8): sort
    // once on a cheap blocking key (lowercased text prefix) and compare
    // each doc against only the next W-1 docs in key order. Candidates are
    // O(n·W) by construction with zero hash-bucket skew; the sort is
    // range-partitioned per lang stratum, so at 100 TB this is one keyed
    // sort, no self-join. Edit distance on a fixed 80-char prefix keeps
    // the verify step O(1) per pair.
    "d38_snm_neardup" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // Distributed SNM. A window PARTITIONED BY lang alone puts an
        // entire language's corpus in one task at scale, so instead:
        // window within (lang, 2-char sortkey bucket) — prefix buckets
        // are order-aligned with the global (sortkey, doc_id) sort, so
        // within-bucket neighbors ARE global neighbors — then stitch
        // the pairs that cross bucket edges through a boundary set of
        // at most 4 rows per bucket (first 2 + last 2). Every global
        // pair at offset <= 2 either lies inside one bucket or has all
        // its rows within 2 of a bucket edge, so within ∪ cross is
        // exactly the single-window pair set (oracle unchanged proves
        // it). Bucket width is the parallelism dial: 2 chars here,
        // 3-4 at corpus scale; the boundary window stays ~4×#buckets
        // rows per language.
        val keyed = Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          substring(lower(col("text")), 1, 40).as("sortkey"),
          substring(lower(col("text")), 1, 80).as("prefix"))
          .withColumn("bucket", substring(col("sortkey"), 1, 2))
        val wb = Window.partitionBy("lang", "bucket").orderBy("sortkey", "doc_id")
        // ONE corpus window job builds everything both consumers need,
        // and the persist is NARROW (VERDICT r8: the marked-table cache
        // build dominated the 100x probe): the within-pass edit
        // distances are computed in the codegen projection right after
        // the window (NOT as a window-side expression — WindowExec
        // projections evaluate interpreted) and the 80-char neighbor
        // prefixes are then DROPPED, so the cached row carries each
        // prefix once instead of three times. "last 2 of bucket" is
        // rn > cnt-2 via the unordered bucket count — no desc re-sort.
        // (Alternatives measured and rejected this round: re-windowing
        // after a position-only persist re-exchanges the whole corpus;
        // computing the boundary set from struct-min/max aggregates
        // costs more than the rn/cnt columns, which ride the window's
        // existing sort for free.)
        val marked = keyed
          .withColumn("n1_id", lead("doc_id", 1).over(wb))
          .withColumn("n1_p", lead("prefix", 1).over(wb))
          .withColumn("n2_id", lead("doc_id", 2).over(wb))
          .withColumn("n2_p", lead("prefix", 2).over(wb))
          .withColumn("rn", row_number().over(wb))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy("lang", "bucket")))
          .withColumn("n1_lev",
            levenshtein(col("prefix"), col("n1_p")).cast("long"))
          .withColumn("n2_lev",
            levenshtein(col("prefix"), col("n2_p")).cast("long"))
          .drop("n1_p", "n2_p")
          .persist() // two consumers: within-pairs + boundary set
        PipelineCache.retain(marked)
        val within = marked
          .select(col("lang"), col("doc_id").as("doc_a"),
                  explode(array(
                    struct(col("n1_id").as("doc_b"), col("n1_lev").as("lev"),
                           lit(1L).as("offset")),
                    struct(col("n2_id").as("doc_b"), col("n2_lev").as("lev"),
                           lit(2L).as("offset")))).as("nb"))
          .select(col("lang"), col("doc_a"), col("nb.doc_b").as("doc_b"),
                  col("nb.offset").as("offset"), col("nb.lev").as("lev"))
        // Boundary stitch: consecutive rows of the boundary set are
        // global neighbors whenever the pair crosses a bucket edge
        // (interior rows between them would contradict offset <= 2);
        // same-bucket lead targets are nulled out — the within pass
        // already owns those. The stitch window input is ~4 rows per
        // bucket per language — aggregate-sized, never corpus-sized.
        val wl = Window.partitionBy("lang").orderBy("sortkey", "doc_id")
        val cross = marked.where(col("rn") <= 2 || col("rn") > col("cnt") - 2)
          .select(col("doc_id"), col("lang"), col("sortkey"), col("prefix"), col("bucket"))
          .withColumn("c1_id", lead("doc_id", 1).over(wl))
          .withColumn("c1_p", lead("prefix", 1).over(wl))
          .withColumn("c1_b", lead("bucket", 1).over(wl))
          .withColumn("c2_id", lead("doc_id", 2).over(wl))
          .withColumn("c2_p", lead("prefix", 2).over(wl))
          .withColumn("c2_b", lead("bucket", 2).over(wl))
          .select(col("lang"), col("doc_id").as("doc_a"), col("prefix"),
                  explode(array(
                    struct(when(col("c1_b") =!= col("bucket"), col("c1_id")).as("doc_b"),
                           col("c1_p").as("p_b"), lit(1L).as("offset")),
                    struct(when(col("c2_b") =!= col("bucket"), col("c2_id")).as("doc_b"),
                           col("c2_p").as("p_b"), lit(2L).as("offset")))).as("nb"))
          .select(col("lang"), col("doc_a"),
                  col("nb.doc_b").as("doc_b"), col("nb.offset").as("offset"),
                  levenshtein(col("prefix"), col("nb.p_b")).cast("long").as("lev"))
        within.union(cross)
          .where(col("doc_b").isNotNull && col("lev") <= 24)
          .select("lang", "doc_a", "doc_b", "offset", "lev")
          .orderBy("lang", "doc_a", "doc_b")
      },
      oracle = Some("""
        WITH keyed AS (
          SELECT doc_id, lang,
                 substr(lower(text), 1, 40) AS sortkey,
                 substr(lower(text), 1, 80) AS prefix
          FROM documents),
        nx AS (
          SELECT doc_id, lang, prefix,
                 lead(doc_id, 1) OVER w AS n1_id, lead(prefix, 1) OVER w AS n1_p,
                 lead(doc_id, 2) OVER w AS n2_id, lead(prefix, 2) OVER w AS n2_p
          FROM keyed
          WINDOW w AS (PARTITION BY lang ORDER BY sortkey, doc_id)),
        pairs AS (
          SELECT lang, doc_id AS doc_a, n1_id AS doc_b, prefix, n1_p AS p_b,
                 CAST(1 AS BIGINT) AS "offset" FROM nx
          UNION ALL
          SELECT lang, doc_id, n2_id, prefix, n2_p, CAST(2 AS BIGINT) FROM nx)
        SELECT lang, doc_a, doc_b, "offset",
               CAST(levenshtein(prefix, p_b) AS BIGINT) AS lev
        FROM pairs
        WHERE doc_b IS NOT NULL AND levenshtein(prefix, p_b) <= 24
        ORDER BY lang, doc_a, doc_b"""),
      doc = "sorted-neighborhood near-dup: window-of-W compare after one keyed sort"
    ),

    // Entity resolution (record linkage): multi-pass blocking + weighted
    // field scoring, the Fellegi-Sunter-lite composition. Two independent
    // blocking passes (lang+12-char prefix; lang+length-decade+first word)
    // each generate candidates as equi-joins on slim (key, id) frames —
    // candidates are the UNION of both passes, so a pair missed by one
    // key survives via the other (the standard recall trick). Features
    // join back by id AFTER pair dedup, so text crosses the network only
    // for surviving candidates. Integer weights keep the score exact:
    // fingerprint +50, prefix edit distance +30/+15, length +10, first
    // word +10; match >= 40, possible >= 20.
    "d39_entity_resolution" -> Q(
      fn = (s, d) => {
        val f = Tables.documents(s, d).select(
            col("doc_id"), col("lang"), col("n_chars"),
            lower(col("text")).as("lt"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            substring(col("lt"), 1, 60).as("prefix"),
            md5(encode(col("lt"), "UTF-8")).as("fp"),
            split(col("lt"), " ").getItem(0).as("w1"),
            substring(col("lt"), 1, 12).as("p12"))
          .persist()
        PipelineCache.retain(f)
        def pass(keyCols: Seq[Column]): org.apache.spark.sql.DataFrame = {
          // same spam-block guard as the LSH band joins (MaxBucket,
          // oracle-mirrored via QUALIFY): a hot blocking key — empty
          // prefix, ubiquitous first word — would otherwise make the
          // within-block self-join quadratic at corpus scale. Fixture
          // max block = 7, so the cap is a proven no-op here.
          val slim = f.select(col("doc_id") +: keyCols: _*)
            .toDF(("doc_id" +: keyCols.indices.map(i => s"k$i")): _*)
          val capped = slim
            .withColumn("bsz", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(
                keyCols.indices.map(i => col(s"k$i")): _*)))
            .where(col("bsz") <= MaxBucket).drop("bsz")
          val a = capped.withColumnRenamed("doc_id", "doc_a")
          val b = capped.withColumnRenamed("doc_id", "doc_b")
          a.join(b, keyCols.indices.map(i => s"k$i"))
            .where(col("doc_a") < col("doc_b"))
            .select("doc_a", "doc_b")
        }
        val cand = pass(Seq(col("lang"), col("p12")))
          .union(pass(Seq(col("lang"), (col("n_chars") / 10).cast("long"), col("w1"))))
          .distinct()
        val fa = f.select(col("doc_id").as("doc_a"), col("prefix").as("pa"),
                          col("fp").as("fpa"), col("n_chars").as("na"), col("w1").as("wa"))
        val fb = f.select(col("doc_id").as("doc_b"), col("prefix").as("pb"),
                          col("fp").as("fpb"), col("n_chars").as("nb"), col("w1").as("wb"))
        // The edit distance is the whole cost of this stage at corpus
        // scale (r14 sf10 profile: 7,697 CPU-s scoring 46.6M surviving
        // pairs; GC 1.5%, zero spill — pure compute). Two measures keep
        // it to ONE DP evaluation per pair:
        // (a) the 3-arg levenshtein bounds the DP to a 2*15+1 band of
        //     the 60x60 matrix and early-exits on a length gap > 15,
        //     returning -1 above the threshold — semantics unchanged
        //     (lev<=6 <=> banded in [0,6]; lev<=15 <=> banded >= 0).
        //     This alone measured 179.7 -> 120.5 s full-query wall /
        //     5091 -> 3508 CPU-s at sf10 (ProfileD39, back-to-back runs;
        //     an underestimate — the second run's box was slower on the
        //     unchanged phases).
        // (b) the points ride a Fellegi-Sunter-style weight TABLE
        //     (element_at over a constant array) instead of a when-chain:
        //     the optimizer inlines the lev alias into the pushed
        //     score>=20 predicate (it lands in the join condition), and
        //     a CASE chain references lev up to 3 times there — each a
        //     fresh DP evaluation, since codegen CSE skips conditionally-
        //     evaluated branches (the original 2-arg when-chain paid the
        //     UNBANDED DP up to 4x per pair this way). element_at(
        //     weights, lev + 2) references lev exactly once, so even
        //     fully inlined the condition pays one banded DP and the
        //     output projection one more (plan-pinned: <= 2 textual
        //     levenshtein occurrences in the executed plan). Index map:
        //     lev -1 (over threshold) -> slot 1 -> 0 points; 0..6 -> 30;
        //     7..15 -> 15. coalesce keeps the old ELSE-0 on NULL
        //     prefixes.
        val levWeights = array(
          (Seq(0L) ++ Seq.fill(7)(30L) ++ Seq.fill(9)(15L)).map(lit): _*)
        cand.join(fa, "doc_a").join(fb, "doc_b")
          .withColumn("lev", levenshtein(col("pa"), col("pb"), 15))
          .withColumn("score",
            when(col("fpa") === col("fpb"), 50L).otherwise(0L) +
            coalesce(element_at(levWeights, (col("lev") + 2).cast("int")), lit(0L)) +
            when(abs(col("na") - col("nb")) <= 10, 10L).otherwise(0L) +
            when(col("wa") === col("wb"), 10L).otherwise(0L))
          .where(col("score") >= 20)
          .withColumn("verdict",
            when(col("score") >= 40, "match").otherwise("possible"))
          .select("doc_a", "doc_b", "score", "verdict")
          .orderBy(col("score").desc, col("doc_a"), col("doc_b"))
      },
      oracle = Some("""
        WITH f AS (
          SELECT doc_id, lang, n_chars,
                 substr(lower(text), 1, 60) AS prefix,
                 md5(lower(text)) AS fp,
                 split_part(lower(text), ' ', 1) AS w1,
                 substr(lower(text), 1, 12) AS p12
          FROM documents),
        f1 AS (
          SELECT doc_id, lang, p12 FROM f
          QUALIFY count(*) OVER (PARTITION BY lang, p12) <= 1000),
        f2 AS (
          SELECT doc_id, lang, n_chars // 10 AS nb, w1 FROM f
          QUALIFY count(*) OVER (PARTITION BY lang, n_chars // 10, w1) <= 1000),
        c1 AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM f1 a JOIN f1 b
            ON a.lang = b.lang AND a.p12 = b.p12 AND a.doc_id < b.doc_id),
        c2 AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM f2 a JOIN f2 b
            ON a.lang = b.lang AND a.nb = b.nb
               AND a.w1 = b.w1 AND a.doc_id < b.doc_id),
        cand AS (
          SELECT DISTINCT doc_a, doc_b
          FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)),
        scored AS (
          SELECT doc_a, doc_b,
                 (CASE WHEN fa.fp = fb.fp THEN 50 ELSE 0 END
                  + CASE WHEN levenshtein(fa.prefix, fb.prefix) <= 6 THEN 30
                         WHEN levenshtein(fa.prefix, fb.prefix) <= 15 THEN 15
                         ELSE 0 END
                  + CASE WHEN abs(fa.n_chars - fb.n_chars) <= 10 THEN 10 ELSE 0 END
                  + CASE WHEN fa.w1 = fb.w1 THEN 10 ELSE 0 END) AS score
          FROM cand
          JOIN f fa ON fa.doc_id = doc_a
          JOIN f fb ON fb.doc_id = doc_b)
        SELECT doc_a, doc_b, CAST(score AS BIGINT) AS score,
               CASE WHEN score >= 40 THEN 'match' ELSE 'possible' END AS verdict
        FROM scored WHERE score >= 20
        ORDER BY score DESC, doc_a, doc_b"""),
      doc = "entity resolution: multi-pass blocking union + integer-weighted field scoring"
    ),

    // Incremental cross-corpus dedup — the production ingestion shape: a
    // NEW batch (sources src0/src1, ~10% of the corpus) is deduped ONLY
    // against the EXISTING corpus, never within itself. The band join is
    // new-side × existing-side, so its cost scales with |new| × bucket
    // density, not |corpus|² — at 100 TB the existing side's banded keys
    // are a precomputed index table and each nightly batch joins against
    // it. Same portable-hash signatures, spam-bucket cap, and exact-
    // Jaccard verify as the full-corpus d6b.
    "d40_cross_corpus_dedup" -> Q(
      fn = (s, d) => {
        // same three-consumer shape as minhashPortable (band keys + both
        // sides of the verification join): persist so the shingle+minhash
        // scan runs once, not three times (ScanAudit r8 flagged the rebuild)
        val base = portableSigTable(s, d).persist()
        PipelineCache.retain(base)
        val banded = bandedKeys(base)
        val capped = banded
          .withColumn("bsz", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
          .where(col("bsz") <= MaxBucket)
          .drop("bsz")
        val tags = Tables.documents(s, d)
          .select(col("doc_id"), col("source").isin("src0", "src1").as("is_new"))
        val ck = capped.join(tags, "doc_id")
        val newK = ck.where(col("is_new"))
          .select(col("band"), col("bh"), col("doc_id").as("doc_new"))
        val oldK = ck.where(!col("is_new"))
          .select(col("band"), col("bh"), col("doc_id").as("doc_existing"))
        val cand = newK.join(oldK, Seq("band", "bh"))
          .select("doc_new", "doc_existing").distinct()
        // exactJaccardOnPairs sorts once per document side (jaccard_sorted contract)
        exactJaccardOnPairs(cand, base, "doc_new", "doc_existing")
          .where(col("jaccard") >= 0.5)
          .select("doc_new", "doc_existing", "jaccard")
          .orderBy("doc_new", "doc_existing")
      },
      oracle = Some(s"""
        WITH $minhashPairsCtes,
        tag AS (
          SELECT doc_id, source IN ('src0', 'src1') AS is_new FROM documents),
        cp AS (
          SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_existing
          FROM banded a
          JOIN tag ta ON ta.doc_id = a.doc_id AND ta.is_new
          JOIN banded b ON a.band = b.band AND a.bh = b.bh
          JOIN tag tb ON tb.doc_id = b.doc_id AND NOT tb.is_new),
        ver AS (
          SELECT c.doc_new, c.doc_existing,
                 len(list_intersect(x.hpos, y.hpos))::DOUBLE /
                   len(list_distinct(list_concat(x.hpos, y.hpos))) AS jaccard
          FROM cp c
          JOIN sh x ON x.doc_id = c.doc_new
          JOIN sh y ON y.doc_id = c.doc_existing)
        SELECT doc_new, doc_existing, jaccard
        FROM ver WHERE jaccard >= 0.5
        ORDER BY doc_new, doc_existing"""),
      doc = "incremental cross-corpus dedup: new batch vs existing index, never within itself"
    )
  )
}
