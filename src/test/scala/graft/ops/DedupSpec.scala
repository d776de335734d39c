package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Exact ground truth: all-pairs 3-gram Jaccard over the raw corpus. */
  private def exactPairs(minJ: Double): Set[(Long, Long)] = {
    val g = graft.core.Tables.documents(spark, SparkTestBase.Sf0001)
      .select(col("doc_id"), Dedup.shingles("text").as("grams"))
    val a = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val b = g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))))
      .where(col("jaccard") >= minJ)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH re-finds every planted near-dup pair") {
    val pairs = Dedup.minhashNearDups(spark, SparkTestBase.Sf0001, minJaccard = 0.5, plant = true)
      .collect()
    val planted = pairs.filter(_.getAs[Boolean]("is_planted"))
    // 25 planted variants (doc_id < 25 -> doc_id + 1000000), all recalled
    assert(planted.length == 25, s"recalled ${planted.length}/25 planted pairs")
    planted.foreach(r => assert(r.getAs[Double]("jaccard") > 0.7))
  }

  test("minhash LSH achieves high recall of genuine high-similarity pairs") {
    val truth = exactPairs(0.7) // above the 8x4 banding S-curve knee (~0.59)
    assert(truth.nonEmpty, "fixture should contain genuine near-dups")
    val got = Dedup.minhashNearDups(spark, SparkTestBase.Sf0001, minJaccard = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = truth.intersect(got)
    assert(recalled.size >= (truth.size * 0.9).toInt,
      s"recall ${recalled.size}/${truth.size}")
    // every reported pair truly clears the verification threshold
    assert(got.subsetOf(exactPairs(0.5)), "LSH reported a pair below 0.5 true Jaccard")
  }

  test("simhash query flags planted pairs with small Hamming distance") {
    val rows = SparkEntryQueries.run(spark, "d7_simhash")
    val planted = rows.filter(_.getAs[Boolean]("is_planted"))
    assert(planted.nonEmpty)
  }

  test("portable_word_hashes expression equals the HOF formulation on every fixture doc") {
    import org.apache.spark.sql.functions._
    graft.GraftExtensions.register(spark)
    val docs = graft.core.Tables.documents(spark, SparkTestBase.Sf0001)
    val diff = docs.select(
        call_function("portable_word_hashes", col("text")).as("fast"),
        Dedup.portableWordHashesHof("text").as("hof"))
      .where(not(col("fast") === col("hof")))
      .count()
    assert(diff == 0)
  }

  test("portable_word_hashes equals the HOF formulation on adversarial inputs") {
    import org.apache.spark.sql.functions._
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcXYZ09.,!? " // incl. punctuation and spaces
    val adversarial = Seq(
      "", " ", "   ", "a", " a ", "a  b", "  leading", "trailing  ",
      "the the the", "x") ++
      (1 to 50).map(_ => (1 to (1 + rnd.nextInt(40)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = adversarial.toDF("text")
    val diff = df.select(
        call_function("portable_word_hashes", col("text")).as("fast"),
        Dedup.portableWordHashesHof("text").as("hof"))
      .where(not(col("fast") === col("hof")))
      .count()
    assert(diff == 0)
  }

  test("portable-hash MinHash twin finds the same near-dup pairs as the xxhash production path") {
    def pairs(name: String) = SparkEntryQueries.run(spark, name)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val production = pairs("d6_minhash_lsh")
    val portable = pairs("d6b_minhash_portable")
    // Two independent hash families over the same corpus: identical
    // genuine-near-dup pair sets at this scale (both are 4-band LSH with
    // exact Jaccard >= 0.5 verification, so disagreement would mean a
    // recall hole in one of them).
    assert(portable == production,
      s"only-production=${production -- portable} only-portable=${portable -- production}")
  }

  test("min-band candidate dedup equals the band self-join + distinct on the fixture") {
    // r17: minBandPairs replaced the pair-scale distinct() — emit each
    // pair once, at the lowest band where it collides in an uncapped
    // bucket. Pin the pair SET equal to the old shape, and uniqueness
    // (no distinct downstream may be relied on to mop up duplicates).
    val base = Dedup.portableSigTable(spark, SparkTestBase.Sf0001)
    val banded = Dedup.bandedKeys(base)
    val old = banded
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .where(col("bsz") <= Dedup.MaxBucket)
      .drop("bsz")
    val oldPairs = old.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
      .join(old.select(col("band"), col("bh"), col("doc_id").as("doc_b")),
            Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newRows = Dedup.minBandPairs(banded, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(newRows.length == newRows.toSet.size, "min-band emitted a duplicate pair")
    assert(newRows.toSet == oldPairs,
      s"only-old=${oldPairs -- newRows.toSet} only-new=${newRows.toSet -- oldPairs}")
    assert(oldPairs.nonEmpty)
  }

  test("min-band candidate dedup handles capped buckets exactly like the old shape") {
    // Crafted banded table exercising the cap interaction the fixture
    // never hits (MaxBucket is a no-op there): docs 1,2 share a CAPPED
    // band-0 bucket and an uncapped band-1 bucket -> the pair must still
    // be emitted (from band 1; both mb0 are null and must not suppress);
    // docs 3,4 share uncapped buckets in bands 0 AND 1 -> emitted once;
    // docs 5,6 share only the capped bucket -> not emitted at all.
    import spark.implicits._
    val filler = (100L until 1099L).map(id => (id, 0L, 42L)) // 999 rows
    val rows = Seq(
      (1L, 0L, 42L), (1L, 1L, 7L),
      (2L, 0L, 42L), (2L, 1L, 7L),
      (3L, 0L, 50L), (3L, 1L, 60L),
      (4L, 0L, 50L), (4L, 1L, 60L),
      (5L, 0L, 42L), (5L, 1L, 61L),
      (6L, 0L, 42L), (6L, 1L, 62L)) ++ filler
    // band-0 bucket 42 holds 1,2,5,6 + 999 fillers = 1003 > MaxBucket
    val banded = rows.toDF("doc_id", "band", "bh")
    val got = Dedup.minBandPairs(banded, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size)
    assert(got.toSet == Set((1L, 2L), (3L, 4L)), s"got ${got.toSet}")
  }

  test("d6c stored-signature-table path returns exactly d6b's pairs") {
    // d6c replaces d6b's cached signature stage with a parquet write +
    // read-back; any divergence would mean the signature table does not
    // round-trip through storage (type widening, array encoding, row
    // loss) — the property the materialized-table scale path rests on.
    def rows(name: String) = SparkEntryQueries.run(spark, name)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    assert(rows("d6c_minhash_sigtable") == rows("d6b_minhash_portable"))
  }

  test("ngram jaccard top pairs are symmetric-free and ranked") {
    val rows = SparkEntryQueries.run(spark, "d8_ngram_jaccard")
    assert(rows.length == 20)
    val rnks = rows.map(_.getAs[Long]("rnk"))
    assert(rnks.toSeq == (1L to 20L))
    rows.foreach(r => assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("d47 substring dedup matches a brute-force reference on the gap/overlap/repeat edges") {
    // The DuckDB oracle proves d47 against fixture text; this corpus
    // forces the boundary cases fixture prose may never hit: a gap of
    // EXACTLY k between dup windows (must merge — brk fires only on
    // gap > k), gap k+1 (must split), overlapping adjacent dup windows
    // (one island, span = k+1), a window repeated WITHIN one doc that is
    // also cross-doc (both occurrences count), a 3-doc shared window,
    // and sub-k / no-dup docs (excluded from output entirely).
    import spark.implicits._
    val k = 4
    val S = "s1 s2 s3 s4"; val T = "t1 t2 t3 t4"; val U = "u1 u2 u3 u4"
    val corpus: Seq[(Long, String)] = Seq(
      // dup windows at pos 0 (S) and pos 4 (T): gap == k -> ONE island
      1L -> s"$S $T f11 f12 f13 f14",
      // S at 0, T at pos k+1: gap == k+1 -> TWO islands
      2L -> s"$S f21 t1 t2 t3 t4 f22 f23",
      // U twice in one doc (pos 0, pos 8), also in doc 4: both count
      3L -> s"$U f31 f32 f33 f34 $U",
      4L -> s"f41 $U f42 f43",
      // 5-word shared run with doc 6: windows at pos 1 and 2 overlap
      5L -> s"f51 v1 v2 v3 v4 v5 f52 f53",
      6L -> s"f61 f62 v1 v2 v3 v4 v5",
      // S shared with docs 1/2 as a third holder, at an interior pos
      7L -> s"f71 f72 $S f73 f74",
      // k-1 words: below the window size, excluded
      8L -> "f81 f82 f83",
      // k words, nothing shared: no dup windows, absent from output
      9L -> "f91 f92 f93 f94"
    )
    // multi-space + repeated-window corpus (k = 3): the duplicated 3-word
    // window spans docs, and a double space makes an empty token that
    // must group as its own word, exactly as split-on-single-space does
    val spaced: Seq[(Long, String)] = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "a quick brown fox leaps high above the lazy dog",
      3L -> "the  quick brown fox jumps over the  lazy dog",
      4L -> "completely different words here nothing shared at all today"
    )

    // brute force: enumerate every k-window, count holders by content,
    // merge dup positions into islands with the gap > k rule
    def bruteForce(corpus: Seq[(Long, String)], k: Int) = {
      val words = corpus.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val winsOf = words.collect { case (id, ws) if ws.size >= k =>
        id -> (0 to ws.size - k).map(i => i.toLong -> ws.slice(i, i + k).mkString(" "))
      }
      val holders = winsOf.toSeq
        .flatMap { case (id, ps) => ps.map { case (_, w) => (w, id) } }
        .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
      winsOf.flatMap { case (id, ps) =>
        val dupPos = ps.collect { case (p, w) if holders(w) > 1 => p }.sorted
        if (dupPos.isEmpty) None else {
          val islands = dupPos.tail.foldLeft(Vector(Vector(dupPos.head))) {
            case (acc, p) =>
              if (p - acc.last.last > k) acc :+ Vector(p) else acc.init :+ (acc.last :+ p)
          }
          val nWords = words(id).size.toLong
          val dupWords = islands.map(i => i.max - i.min + k).sum
          Some((id, nWords, dupPos.size.toLong, islands.size.toLong,
                dupWords, dupWords * 1000 / nWords))
        }
      }.toSet
    }
    def checked(corpus: Seq[(Long, String)], k: Int) = {
      val expected = bruteForce(corpus, k)
      val got = Dedup.substringDedup(corpus.toDF("doc_id", "text"), k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getLong(4), r.getLong(5)))
        .toSet
      assert(got == expected, s"substring dedup != brute force (k = $k);" +
        s"\nmissing: ${expected -- got}\nextra: ${got -- expected}")
      got
    }

    assert(checked(spaced, 3).map(_._1) == Set(1L, 2L, 3L),
      "the multi-space docs share windows; the unrelated doc is absent")
    // pin the merge-boundary intent explicitly, not just set equality
    val byDoc = checked(corpus, k).map(r => r._1 -> r).toMap
    assert(byDoc(1L)._4 == 1L, "gap == k must merge into one span")
    assert(byDoc(2L)._4 == 2L, "gap == k+1 must split into two spans")
    assert(byDoc(3L)._3 == 2L, "within-doc repeat of a cross-doc window counts both occurrences")
    assert(byDoc(5L)._5 == (k + 1).toLong, "overlapping adjacent windows span k+1 words")
    assert(!byDoc.contains(8L) && !byDoc.contains(9L), "sub-k and dup-free docs are absent")
  }

  test("d38 bucketed SNM equals the single-window plan on adversarial bucket shapes") {
    // Crafted corpus forcing every stitch edge the fixture may not hit:
    // 1-row buckets (offset-2 pairs spanning TWO bucket edges), buckets
    // of exactly 2/3 rows (boundary set = whole bucket), a >4-row bucket
    // (interior rows absent from the boundary set), and a second
    // language interleaved so partition isolation is exercised.
    import org.apache.spark.sql.functions.{col, lead, lit, substring, lower, levenshtein, explode, array, struct}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // a shared tail keeps every neighbor pair's levenshtein <= 24, so a
    // pair lost by a stitch bug cannot hide behind the filter
    val tail = " the shared body keeps edit distance tiny"
    val docs = Seq(
      // lang en: buckets aa(5 rows), ab(1), ac(2), ad(1), ae(1), zz(3)
      (1L, "en", s"aaa$tail"), (2L, "en", s"aab$tail"), (3L, "en", s"aac$tail"),
      (4L, "en", s"aad$tail"), (5L, "en", s"aae$tail"),
      (6L, "en", s"abb$tail"),
      (7L, "en", s"aca$tail"), (8L, "en", s"acb$tail"),
      (9L, "en", s"ada$tail"),
      (10L, "en", s"aea$tail"),
      (11L, "en", s"zza$tail"), (12L, "en", s"zzb$tail"), (13L, "en", s"zzc$tail"),
      // lang fr: interleaved sort keys, incl. a 1-row bucket between two
      (21L, "fr", s"aaa$tail"), (22L, "fr", s"aba$tail"),
      (23L, "fr", s"aca$tail"), (24L, "fr", s"acb$tail")
    ).toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("d38adv").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // reference: the naive single-window-per-lang plan, inline
    val w = Window.partitionBy("lang").orderBy("sortkey", "doc_id")
    val keyed = spark.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"), col("lang"),
      substring(lower(col("text")), 1, 40).as("sortkey"),
      substring(lower(col("text")), 1, 80).as("prefix"))
    val expected = keyed
      .withColumn("n1_id", lead("doc_id", 1).over(w))
      .withColumn("n1_p", lead("prefix", 1).over(w))
      .withColumn("n2_id", lead("doc_id", 2).over(w))
      .withColumn("n2_p", lead("prefix", 2).over(w))
      .select(col("lang"), col("doc_id").as("doc_a"),
              col("prefix"),
              explode(array(
                struct(col("n1_id").as("doc_b"), col("n1_p").as("p_b"), lit(1L).as("offset")),
                struct(col("n2_id").as("doc_b"), col("n2_p").as("p_b"), lit(2L).as("offset")))).as("nb"))
      .select(col("lang"), col("doc_a"), col("nb.doc_b").as("doc_b"),
              col("prefix"), col("nb.p_b").as("p_b"), col("nb.offset").as("offset"))
      .where(col("doc_b").isNotNull)
      .withColumn("lev", levenshtein(col("prefix"), col("p_b")).cast("long"))
      .where(col("lev") <= 24)
      .select("lang", "doc_a", "doc_b", "offset", "lev")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    val got = graft.SparkEntry.queries("d38_snm_neardup")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected,
      s"bucketed != single-window;\nmissing: ${expected -- got}\nextra: ${got -- expected}")
    graft.ops.PipelineCache.release()
    spark.sharedState.cacheManager.clearCache()
  }

  // --- jaccard_sorted producer/typing contract (r15 ADVICE lows) -------

  test("shingle-hash producers type hpos element-non-null (jaccard_sorted contract)") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    graft.GraftExtensions.register(spark)
    // portable pipeline: the typing coalesce in portableShingleHashes must
    // survive transform + array_distinct + the CASE ELSE array() branch
    val sig = Dedup.portableSigTable(spark, SparkTestBase.Sf0001)
    assert(sig.schema("hpos").dataType == ArrayType(LongType, containsNull = false),
      s"portable hpos typed ${sig.schema("hpos").dataType}")
    // sort_array (the per-document-side sort every verify join applies)
    // must preserve containsNull=false, or every call site would fail
    val sorted = sig.select(sort_array(col("hpos")).as("hpos"))
    assert(sorted.schema("hpos").dataType == ArrayType(LongType, containsNull = false))
    // native expression path (d6's xxhash variant)
    val nat = graft.core.Tables.documents(spark, SparkTestBase.Sf0001)
      .select(call_function("shingle_hashes", col("text")).as("hpos"))
    assert(nat.schema("hpos").dataType == ArrayType(LongType, containsNull = false))
  }

  test("jaccard_sorted rejects element-nullable arrays at analysis time") {
    graft.GraftExtensions.register(spark)
    // a null element would be read as 0 by the merge walk, so an
    // element-nullable input type must FAIL analysis, not silently
    // corrupt the similarity
    val nullable = spark.range(1).select(
      expr("array(1L, cast(null as bigint), 3L)").as("a"))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(call_function("jaccard_sorted", col("a"), col("a"))).collect()
    }
    assert(err.getMessage.contains("containsNull=false") ||
           err.getMessage.toLowerCase.contains("non-null"),
      s"unexpected analysis error: ${err.getMessage}")
  }

  test("stored sig-table read boundary re-types hpos for jaccard_sorted (d6c path)") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val dir = java.nio.file.Files.createTempDirectory("graft_sigtable_spec").toString
    Dedup.writeSigTable(spark, SparkTestBase.Sf0001, dir)
    // Spark file sources force nullable-on-read recursively, so the raw
    // read is element-nullable REGARDLESS of the writer schema — this
    // pin documents why nearDupsFromStored re-types at the boundary
    val back = spark.read.parquet(dir)
    assert(back.schema("hpos").dataType == ArrayType(LongType, containsNull = true),
      s"expected file-source nullable-on-read, got ${back.schema("hpos").dataType}")
    // no actual null element was written
    assert(back.where(exists(col("hpos"), _.isNull)).count() == 0)
    // and the consume side analyzes + runs against the stored table
    // (would throw AnalysisException without the boundary re-typing)
    val n = Dedup.nearDupsFromStored(spark, dir, minJaccard = 0.5).count()
    assert(n > 0)
    graft.ops.PipelineCache.release()
    spark.sharedState.cacheManager.clearCache()
  }

  test("word_window_hashes equals the HOF window formulation on fixture + crafted texts") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    // crafted edges: consecutive/leading/trailing spaces (empty tokens under
    // split-on-single-space), exactly-k words, fewer-than-k words, one word
    val crafted = Seq(
      "a b c d", "a  b c d", " a b c d ", "a b c", "a b", "x", "  ",
      "w1 w2 w3 w4 w5", "same same same same").toDF("text")
    val docs = graft.core.Tables.documents(spark, SparkTestBase.Sf0001).select("text")
      .union(crafted)
    val k = 3
    val diff = docs.where(col("text").isNotNull).select(
        call_function("word_window_hashes", col("text"), lit(k)).as("fast"),
        expr(s"""CASE WHEN size(split(text, ' ')) >= $k THEN
                   transform(
                     sequence(0, size(split(text, ' ')) - $k),
                     i -> xxhash64(concat_ws(' ', slice(split(text, ' '), i + 1, $k))))
                 ELSE CAST(array() AS array<bigint>) END""")
          .as("hof"))
      .where(not(col("fast") <=> col("hof")))
      .count()
    assert(diff == 0, s"$diff documents disagree between word_window_hashes and the HOF form")
  }

  test("clusterLabels: sorted edge-cache layout returns identical labels (r16 layout A/B)") {
    // The sorted edge cache (repartition(dst) + sortWithinPartitions
    // before the persist; A/B verdict in OPTIMIZATION_r16.md) must yield
    // the true connected components on a pair graph that exercises
    // multi-hop chains (a~b, b~c without a~c).
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (5L, 21L))).toDF("doc_a", "doc_b")
    val (labels, _) = labelsAndSupersteps(pairs)
    assert(labels == Set(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 5L, 21L -> 5L, 5L -> 5L))
  }

  /** The labels clusterLabels returns on `pairs`, and how many supersteps
    * (eager label checkpoints) it ran to get them. Checkpoint actions are
    * counted by a QueryExecutionListener; listener delivery is async, so
    * a sentinel observed action — delivered on the same bus, after every
    * earlier event — marks the point where the count is complete.
    */
  private def labelsAndSupersteps(pairs: DataFrame): (Set[(Long, Long)], Int) = {
    val checkpoints = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") { checkpoints.incrementAndGet(); () }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val labels = Dedup.clusterLabels(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sentinel = Observation()
      spark.range(1).observe(sentinel, count(lit(1)).as("n")).collect()
      Await.result(sentinel.future, 60.seconds)
      (labels, checkpoints.get)
    } finally {
      spark.listenerManager.unregister(listener)
      PipelineCache.release()
    }
  }

  test("clusterLabels: a diameter-1 pair graph runs at most two supersteps") {
    // cliques and lone pairs: superstep 1 (min over self and neighbour
    // ids) is already the fixpoint, superstep 2 observes that no label
    // moved. A third checkpoint means bookkeeping jobs crept back.
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (7L, 8L), (7L, 9L), (8L, 9L), (30L, 4L)))
      .toDF("doc_a", "doc_b")
    val (labels, steps) = labelsAndSupersteps(pairs)
    assert(labels == Set(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L,
      4L -> 4L, 30L -> 4L))
    assert(steps <= 2, s"ran $steps supersteps on a diameter-1 graph")
  }

  test("clusterLabels: an empty pair graph converges in one superstep") {
    val pairs = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("doc_a", "doc_b")
    val (labels, steps) = labelsAndSupersteps(pairs)
    assert(labels.isEmpty)
    assert(steps == 1, s"ran $steps supersteps on an empty graph")
  }

  test("clusterLabels: a chain longer than the iteration cap fails instead of returning non-fixpoint labels") {
    // min-label propagation moves one hop per superstep: a path over ids
    // 1..n needs n-1 moving supersteps plus one that observes the
    // fixpoint. n = 20 fits the 20-superstep cap exactly; n = 22 does
    // not, and must raise rather than hand back labels that still move.
    def path(n: Int) =
      spark.createDataFrame((1L until n.toLong).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val (labels, steps) = labelsAndSupersteps(path(20))
    assert(labels == (1L to 20L).map(_ -> 1L).toSet)
    assert(steps == 20, s"ran $steps supersteps on a 20-vertex path")
    val e = intercept[RuntimeException](labelsAndSupersteps(path(22)))
    assert(e.getMessage.contains("did not converge"), e.getMessage)
  }

  test("degenerate docs never reach a verify join with empty hpos") {
    // jaccard_sorted(empty, empty) returns 0.0 where the SQL oracle's
    // 0/0 would NaN — totality documented at the expression, but d25
    // emits jaccard unfiltered, so the guard that matters is upstream:
    // sub-3-word docs are dropped by the size(wh) >= 3 filter BEFORE
    // signatures, so no empty (or any sub-1-shingle) hpos can reach any
    // verify join (r15 ADVICE low 2 regression).
    import spark.implicits._
    val degenerate = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "two words"),
      (5L, "... !!! ???"), (6L, "\t\n")
    ).toDF("doc_id", "text")
    val sigs = Dedup.portableSignatures(degenerate)
      .select(col("doc_id"), size(col("hpos")).as("n")).collect()
    // sub-3-token docs (1,2,3,4,6) dropped; the 3-token punctuation blob
    // legitimately survives with exactly one shingle — never zero
    assert(sigs.map(_.getLong(0)).toSet == Set(5L),
      s"expected only doc 5 to survive, got ${sigs.map(_.getLong(0)).toSet}")
    assert(sigs.forall(_.getInt(1) >= 1))
    // and on the real fixture every surviving row has at least one shingle
    val minLen = Dedup.portableSigTable(spark, SparkTestBase.Sf0001)
      .select(min(size(col("hpos")))).head().getInt(0)
    assert(minLen >= 1, s"empty hpos row survived the size(wh) guard: $minLen")
  }
}

/** Helper: run a registered query at sf0.001. */
object SparkEntryQueries {
  def run(spark: org.apache.spark.sql.SparkSession, name: String) =
    graft.SparkEntry.queries(name)(spark, SparkTestBase.Sf0001).collect()
}
