package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: run every registered query against a schema-correct but
  * EMPTY fixture directory. At 100 TB, empty inputs are routine (a
  * filter that matches nothing, an empty partition, a new tenant); an
  * operator that crashes on them — a head() on an empty frame, a
  * division by a zero count, an iterative loop that never initializes —
  * is a production incident the sf-scaled oracles can never catch.
  * EmptyInputSpec pins the result.
  */
object EmptyInputProbe {

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Write limit(n) copies of every fixture table (raw read, so the
    * physical schema — including events' NTZ drift — is preserved).
    * n = 0 is the empty-fixture case; n = 1 is the degenerate-statistics
    * case (zero variance, a single group, no pairs).
    */
  def writeTruncatedFixture(spark: SparkSession, srcDir: String, dstDir: String,
                            n: Int): Unit =
    Tables.foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .limit(n).coalesce(1)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }

  def writeEmptyFixture(spark: SparkSession, srcDir: String, dstDir: String): Unit =
    writeTruncatedFixture(spark, srcDir, dstDir, 0)

  /** Keep each table's leading id column on a handful of rows and NULL
    * every other column (all fixture columns are declared nullable, so a
    * total engine must not crash on them — null text, null timestamps,
    * null embeddings are routine in scraped corpora).
    */
  def writeNulledFixture(spark: SparkSession, srcDir: String, dstDir: String): Unit =
    Tables.foreach { t =>
      import org.apache.spark.sql.functions.{col, lit}
      val df = spark.read.parquet(s"$srcDir/$t.parquet").limit(5)
      val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
        if (i == 0) col(f.name) else lit(null).cast(f.dataType).as(f.name)
      }
      df.select(cols.toSeq: _*).coalesce(1)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }

  /** Hot-key skew fixture: ONE user owns every event, one language every
    * document, one customer every order, one part/supplier every line —
    * the 100 TB skew case the two-level windows and MaxBucket caps exist
    * for. Row counts are capped so hot-key join fan-out stays spec-sized
    * while the skew-handling code paths (bucket boundary stitches, caps,
    * per-key sorts over a single giant key) actually execute. Documents
    * additionally share a first word, so prefix/first-token blocking
    * (entity resolution, sorted-neighborhood sort keys) sees a hot block.
    */
  def writeSkewedFixture(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val overrides: Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map(
      "events" -> (df => df.withColumn("user_id", lit(1L))),
      "documents" -> (df => df
        .withColumn("lang", lit("xx"))
        .withColumn("source", lit("hot"))
        .withColumn("text", concat(lit("the "), coalesce(col("text"), lit(""))))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "orders" -> (df => df.withColumn("o_custkey", lit(1L))),
      "lineitem" -> (df => df
        .withColumn("l_partkey", lit(1L))
        .withColumn("l_suppkey", lit(1L))),
      "customer" -> (df => df.withColumn("c_nationkey", lit(0L))),
      "embeddings" -> (df => df.withColumn("label", lit(0)))
    )
    Tables.foreach { t =>
      val base = spark.read.parquet(s"$srcDir/$t.parquet").limit(400)
      overrides.getOrElse(t, identity[org.apache.spark.sql.DataFrame] _)(base)
        .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }
  }

  /** Adversarial-values fixture for the scraped-data tables: garbage is
    * ROUTINE in an LLM-scale corpus, so the engine must stay total on it.
    * documents.text cycles empty/whitespace/huge/emoji/RTL/control-char
    * strings; events.value cycles NaN/±Inf/0 with malformed-JSON props;
    * embeddings cycle zero/NaN/Inf vectors, a null element, a truncated
    * (wrong-dimension) vector, and a finite-but-unquantizable component
    * (1e20f: passes any Inf/NaN check yet overflows round(x*1e4)→int64). TPC-H numerics stay finite
    * (zero/negative — refunds are routine; NaN prices are a contract
    * violation the s17 quality suite exists to catch, not a totality
    * requirement).
    */
  def writeAdversarialFixture(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "",                                     // empty
      " \t\n ",                               // whitespace + embedded framing chars
      "a" * 10000,                            // one huge token
      "éñ 😀🎉 世界 مرحبا", // accents, emoji, CJK, RTL
      "!!! ??? ... ---",                      // punctuation-only
      "tab\there\nnewline\"quote\\backslash", // serializer-hostile
      "\u0001\u0002 control \u0007 chars", // control characters
      null                                    // covered by the null sweep, kept in the mix
    )
    val textCase = texts.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (t, i)) =>
        when(pmod(col("doc_id"), lit(texts.size)) === i,
             Option(t).map(lit(_)).getOrElse(lit(null).cast("string"))).otherwise(acc)
    }
    val props = Seq(
      "{",                                    // malformed JSON
      """{"k":"notanumber"}""",               // wrong-typed field (ANSI cast trap)
      """{"k":9223372036854775807}""",        // long max
      "",                                     // empty string
      """{"k":3}"""                           // well-formed
    )
    val propsCase = props.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (p, i)) =>
        when(pmod(col("event_id"), lit(props.size)) === i, lit(p)).otherwise(acc)
    }
    val valueCase = expr(
      """CASE CAST(event_id % 6 AS INT)
           WHEN 0 THEN CAST('NaN' AS DOUBLE)
           WHEN 1 THEN CAST('Infinity' AS DOUBLE)
           WHEN 2 THEN CAST('-Infinity' AS DOUBLE)
           WHEN 3 THEN 0.0D
           WHEN 4 THEN -1e12D
           ELSE value END""")
    val embCase = expr(
      """CASE CAST(vec_id % 7 AS INT)
           WHEN 0 THEN transform(embedding, x -> CAST(0.0 AS FLOAT))
           WHEN 1 THEN transform(embedding, x -> CAST('NaN' AS FLOAT))
           WHEN 2 THEN transform(embedding, x -> CAST('Infinity' AS FLOAT))
           WHEN 3 THEN transform(embedding, (x, i) -> IF(i = 0, CAST(NULL AS FLOAT), x))
           WHEN 4 THEN slice(embedding, 2, size(embedding) - 1)
           WHEN 5 THEN transform(embedding, (x, i) -> IF(i = 0, CAST(1e20 AS FLOAT), x))
           ELSE embedding END""")
    val overrides: Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map(
      "documents" -> (df => df
        .withColumn("text", textCase)
        .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))),
      "events" -> (df => df
        .withColumn("value", valueCase)
        .withColumn("props", propsCase)),
      "embeddings" -> (df => df.withColumn("embedding", embCase)),
      "lineitem" -> (df => df
        .withColumn("l_quantity",
          expr("CASE CAST(l_orderkey % 3 AS INT) WHEN 0 THEN 0.0D WHEN 1 THEN -1.0D ELSE l_quantity END"))
        .withColumn("l_extendedprice",
          expr("CASE CAST(l_orderkey % 3 AS INT) WHEN 0 THEN -999.99D ELSE l_extendedprice END"))),
      "orders" -> (df => df
        .withColumn("o_totalprice",
          expr("CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 0.0D WHEN 1 THEN -1.0D ELSE o_totalprice END")))
    )
    Tables.foreach { t =>
      val base = spark.read.parquet(s"$srcDir/$t.parquet").limit(120)
      overrides.getOrElse(t, identity[org.apache.spark.sql.DataFrame] _)(base)
        .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }
  }

  /** Monster-document fixture: one ~500k-char document (75k words) and
    * one ~300k-char single WORD (no spaces — the per-word char-loop
    * stressor), plus a ~100k-char JSON props blob on one event, over an
    * otherwise tiny (40-row) corpus. The class this catches is PER-ROW state that
    * is super-linear in document length — the d47 find: a Generate node
    * carrying the exploded word array into every emitted window row
    * turned one 5M-char document into 20+ minutes of single-core memcpy
    * (n_windows x n_words bytes). Linear per-row work on 500k chars is
    * well under a second; anything quadratic (~4e10 char ops) blows the
    * sweep's per-query timeout. The document is deliberately NOT bigger:
    * a cancelled quadratic task ignores interrupts and grinds to
    * completion, and at 2M chars four leaked offenders generated enough
    * allocation pressure to wedge the whole local[32] JVM (driver RPCs
    * timing out) — at 500k chars a leaked task dies off in ~a minute.
    * Only doc 0 is monstrous so bounded all-pairs samples (d13
    * levenshtein) pair the monster with NORMAL docs — monster x monster
    * edit distance is legitimately quadratic and not a totality claim.
    */
  def writeMonsterFixture(spark: SparkSession, srcDir: String, dstDir: String,
                          nWords: Int = 75000): Unit = {
    import org.apache.spark.sql.functions._
    // deterministic LCG over an 8-word vocabulary; default ~75k words
    // ~ 480k chars. nWords parameterizes the document size so the
    // monstercurve mode can fit a measured per-document cost exponent
    // from a 3-point size sweep instead of a single pass/fail point —
    // the huge-word and props-blob monsters scale by the same factor.
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val sb = new StringBuilder(8 * nWords)
    var st = 42L
    var i = 0
    while (i < nWords) {
      st = (st * 6364136223846793005L + 1442695040888963407L)
      if (i > 0) sb.append(' ')
      sb.append(vocab(((st >>> 33) % vocab.length).toInt))
      i += 1
    }
    val monsterText = sb.toString
    val monsterWord = "z" * (4 * nWords)
    val monsterProps = """{"k":3,"blob":"""" + ("x" * (nWords * 4 / 3)) + """"}"""
    val overrides: Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map(
      "documents" -> (df => df
        .withColumn("text",
          when(col("doc_id") === 0, lit(monsterText))
            .when(col("doc_id") === 1, lit(monsterWord))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))),
      "events" -> (df => df
        .withColumn("props",
          when(col("event_id") === 0, lit(monsterProps)).otherwise(col("props"))))
    )
    Tables.foreach { t =>
      val base = spark.read.parquet(s"$srcDir/$t.parquet").limit(40)
      overrides.getOrElse(t, identity[org.apache.spark.sql.DataFrame] _)(base)
        .coalesce(1).write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // Files.walk holds open DirectoryStreams until closed — Using, so
      // the helper doesn't leak descriptors if ever called in a loop
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Mains.session("graft-empty-input-probe")
    val mode = args.lift(1).getOrElse("0")
    // monstercurve: the totality sweep's measured twin — run every query
    // against monster fixtures at THREE document sizes (~100k/250k/480k
    // chars) and print min-of-2 seconds per (query, size), so per-query
    // growth is a fitted exponent (t ~ size^e), catching O(n^1.5) creep
    // the single 480k pass/fail point cannot. Queries are expected
    // ~linear-per-document except the documented monster x normal
    // pairings (d13 levenshtein is capped, not linear).
    if (mode == "monstercurve") {
      Seq(15000, 37500, 75000).foreach { n =>
        val d2p = java.nio.file.Files.createTempDirectory(s"graft_monster_$n")
        val d2 = d2p.toString
        // finally, not a tail call: three fixture dirs per run (10
        // parquet tables each) must not accumulate in /tmp across
        // rounds even when a fixture write or cache release throws
        try {
          writeMonsterFixture(spark, src, d2, n)
          graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
            def once: Double = {
              val t0 = System.nanoTime(); fn(spark, d2).collect(); (System.nanoTime() - t0) / 1e9
            }
            try {
              // Locale.ROOT, not the f interpolator: a decimal-comma
              // locale would print sec=0,123, which monstercurve_fit.py's
              // [0-9.]+ regex reads as 0 — silently flattening exponents.
              val t = String.format(java.util.Locale.ROOT, "%.3f",
                Double.box(math.min(once, once)))
              println(s"MONSTERCURVE ok $name words=$n sec=$t")
            } catch { case e: Throwable =>
              println(s"MONSTERCURVE FAIL $name words=$n ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | "))
            }
            graft.ops.PipelineCache.release()
            spark.sharedState.cacheManager.clearCache()
          }
        } finally deleteRecursively(d2p)
      }
      spark.stop()
      return
    }
    val dstP = java.nio.file.Files.createTempDirectory("graft_empty")
    val dst = dstP.toString
    try {
      mode match {
        case "null"    => writeNulledFixture(spark, src, dst)
        case "skew"    => writeSkewedFixture(spark, src, dst)
        case "adv"     => writeAdversarialFixture(spark, src, dst)
        case "monster" => writeMonsterFixture(spark, src, dst)
        case n         => writeTruncatedFixture(spark, src, dst, n.toInt)
      }
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val n = fn(spark, dst).collect().length
          println(s"EMPTYPROBE ok $name rows=$n")
        } catch { case e: Throwable =>
          println(s"EMPTYPROBE FAIL $name ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | "))
        }
        graft.ops.PipelineCache.release()
        spark.sharedState.cacheManager.clearCache()
      }
    } finally deleteRecursively(dstP)
    spark.stop()
  }
}
