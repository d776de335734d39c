package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev audit: per-query, per-RELATION file-scan counts in the final plan.
  *
  * A raw "Scan parquet" count flags every wide multi-table join (q5/q8
  * legitimately scan 6-8 DIFFERENT tables once each); the signal that
  * matters for the d43/d48 bug class is the SAME relation scanned
  * repeatedly with no cache read in between — that is a shared branch
  * being re-executed per consumer. This audit walks the executed plan
  * tree (through AQE stages and subqueries, stopping at cache and
  * reused-exchange boundaries, which already de-duplicate work) and
  * reports the max per-relation scan count.
  */
object ScanAudit {

  /** Leaf parquet relations under `plan`, one entry per scan, named by
    * file-index root (table file name). Recurses through AQE wrapper
    * nodes and subquery expressions; does NOT descend into cached or
    * reused-exchange subtrees — those execute once regardless of how
    * many consumers the plan gives them.
    */
  def relationScans(plan: SparkPlan): Seq[String] = {
    val self = plan match {
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.getName).sorted.mkString(","))
      case _ => Seq.empty
    }
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: InMemoryTableScanExec => Seq.empty
      case _: ReusedExchangeExec    => Seq.empty
      case p                        => p.children
    }
    val subq = plan.subqueries
    self ++ (children ++ subq).flatMap(relationScans)
  }

  /** Hash-partitioning key names of every shuffle exchange that executes
    * as part of `plan`, one entry per exchange. Same traversal contract
    * as [[relationScans]]: recurses through AQE wrappers and subqueries,
    * stops at cache / reused-exchange boundaries — so a repartition that
    * runs ONCE to build a cached table is not attributed to the plans
    * that read the cache. Used by plan-quality pins that assert an
    * iteration re-shuffles only the small side (e.g. j11's supersteps
    * must never re-exchange the cached edge list on src).
    */
  def exchangeKeys(plan: SparkPlan): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val self = plan match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          Seq(h.expressions.map(_.references.map(_.name).toSeq.sorted.mkString("+")))
        case _ => Seq(Seq.empty[String])
      }
      case _ => Seq.empty
    }
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: InMemoryTableScanExec => Seq.empty
      case _: ReusedExchangeExec    => Seq.empty
      case p                        => p.children
    }
    self ++ (children ++ plan.subqueries).flatMap(exchangeKeys)
  }

  /** Per-relation READ WIDTH: for every parquet scan under `plan`, the
    * number of top-level fields Spark actually reads from the file
    * (`requiredSchema` — the post-column-pruning schema, what appears as
    * ReadSchema in explain output), reduced to the MAX per relation.
    * Same traversal contract as [[relationScans]]. A query that projects
    * 3 columns but scans all 16 of lineitem ships a 5x I/O bug that is
    * invisible at test scale and dominant at 100 TB; the width census is
    * pinned per query so a refactor that defeats pruning (an opaque UDF
    * over the whole row, a `select *` feeding a cache, a union forcing
    * schema widening) fails the build naming the query and relation.
    */
  def readWidths(plan: SparkPlan): Map[String, Int] = {
    def walk(p: SparkPlan): Seq[(String, Int)] = {
      val self = p match {
        case f: FileSourceScanExec =>
          Seq(f.relation.location.rootPaths.map(_.getName).sorted.mkString(",")
            -> f.requiredSchema.size)
        case _ => Seq.empty
      }
      val children: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        // A cached subtree's scans DO run (once, at cache build) — the
        // width of what they read matters at scale just as much, so the
        // walk descends into InMemoryTableScan's cached plan, unlike the
        // scan-count audit (which de-duplicates executions, not bytes).
        case m: InMemoryTableScanExec =>
          Seq(m.relation.cachedPlan)
        case _: ReusedExchangeExec    => Seq.empty
        case other                    => other.children
      }
      self ++ (children ++ p.subqueries).flatMap(walk)
    }
    walk(plan).groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
  }

  /** Widest SHUFFLED ROW under `plan`: max over every shuffle exchange
    * (hash AND range) of the exchange output row's Catalyst defaultSize
    * in bytes. Same traversal contract as [[exchangeKeys]]. This is the
    * shuffle-BYTES companion of [[readWidths]]'s scan-bytes budget: the
    * exchange-count audit bounds how often data moves, this bounds how
    * WIDE each moved row is — the class it catches is a heavy column
    * (document text, the props JSON blob, a hash array) riding a shuffle
    * whose consumer needs two ids, which multiplies network + spill
    * volume at 100 TB while local fixtures barely notice. defaultSize is
    * a static proxy (strings count 20 regardless of content), which is
    * exactly what a deterministic pin needs: adding a column to a
    * shuffle moves the number, data growth does not.
    */
  def maxShuffleRowBytes(plan: SparkPlan): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val self = plan match {
      case e: ShuffleExchangeExec => e.output.map(_.dataType.defaultSize).sum
      case _ => 0
    }
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      // A cache-build shuffle EXECUTES (once, at materialization) and its
      // rows ride the network at full width — same bytes-vs-executions
      // contract as readWidths/generateCarries: descend into the cached
      // plan so a wide row on a cache-build exchange is still budgeted.
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _: ReusedExchangeExec    => Seq.empty
      case p                        => p.children
    }
    (self +: (children ++ plan.subqueries).map(maxShuffleRowBytes)).max
  }

  /** Variable-width columns carried through a Generate (explode) node:
    * for every GenerateExec under `plan`, the names of requiredChildOutput
    * attributes with variable-length types (string/array/map/struct).
    * GenerateExec copies requiredChildOutput into EVERY emitted row, so a
    * big array or text column riding an explode multiplies as
    * n_generated x sizeof(column) per input row — quadratic per document
    * when the carried column is the very array being exploded over. This
    * is the d47 bug class (size(ws) computed in the select ABOVE the
    * posexplode forced the whole word array into the carry; one 5M-char
    * document ground a core for 20+ minutes). Fixed-width carries (ids,
    * counts) are free; variable-width ones must be justified.
    */
  def generateCarries(plan: SparkPlan): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.types.{ArrayType, MapType, StringType, StructType, BinaryType}
    def variable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case StringType | BinaryType | _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    }
    val self = plan match {
      case g: GenerateExec =>
        g.requiredChildOutput.filter(a => variable(a.dataType))
          .map(a => a.name -> a.dataType.simpleString)
      case _ => Seq.empty
    }
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _: ReusedExchangeExec    => Seq.empty
      case p                        => p.children
    }
    self ++ (children ++ plan.subqueries).flatMap(generateCarries)
  }

  /** Count of RANGE-partitioned shuffle exchanges under `plan` (same
    * traversal contract as [[exchangeKeys]]). A query's final orderBy
    * legitimately contributes one; a SECOND range exchange is a mid-plan
    * global sort — the all-data-through-one-ordering scale smell the
    * hash-key audits cannot see.
    */
  def rangeExchanges(plan: SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val self = plan match {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => 1
      case _ => 0
    }
    val children: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: InMemoryTableScanExec => Seq.empty
      case _: ReusedExchangeExec    => Seq.empty
      case p                        => p.children
    }
    self + (children ++ plan.subqueries).map(rangeExchanges).sum
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val selected = graft.Mains.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = graft.Mains.session("graft-scan-audit")
    // Deterministic shuffle counts for ExchangeBudgetSpec's pins: AQE's
    // runtime SMJ->BHJ conversion can drop a shuffle or not depending on
    // measured stage sizes (q5 flips 2<->3 at sf0.001), so the budget is
    // pinned on the STATIC shape with runtime conversion off.
    // SPARK_GRAFT_NO_AQE goes further: AQE fully off, so the census is a
    // pure static planner shape — byte-identical across runs (the
    // 4<->5 e6 oscillation was AQE stage-size replanning surviving even
    // with runtime broadcast conversion disabled). ExchangeBudgetSpec
    // pins are taken in THIS mode so every pin is an exact shape, not an
    // observed upper bound. Both are runtime SQL confs.
    if (sys.env.contains("SPARK_GRAFT_NO_AQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (sys.env.contains("SPARK_GRAFT_NO_AQE") || sys.env.contains("SPARK_GRAFT_NO_AQE_BROADCAST"))
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        df.collect()
        val perRel = relationScans(df.queryExecution.executedPlan)
          .groupBy(identity).view.mapValues(_.size).toMap
        val cached = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
          .linesIterator.count(_.contains("InMemoryTableScan"))
        val worst = if (perRel.isEmpty) ("-", 0) else perRel.maxBy(_._2)
        val detail = perRel.toSeq.sortBy(-_._2)
          .map { case (r, n) => s"$r=$n" }.mkString(",")
        // Shuffle budget: every executed shuffle exchange under the final
        // plan (post-AQE, cache/reuse boundaries excluded) — the number a
        // refactor silently grows when it un-broadcasts a join or splits
        // an aggregate. ExchangeBudgetSpec pins these per query.
        val nShuffle = exchangeKeys(df.queryExecution.executedPlan).size
        val nRange = rangeExchanges(df.queryExecution.executedPlan)
        // Read-width census (post-pruning ReadSchema field count per
        // relation, cached subtrees included) — ExchangeBudgetSpec pins it.
        val widths = readWidths(df.queryExecution.executedPlan).toSeq.sorted
          .map { case (r, w) => s"$r=$w" }.mkString(",")
        val shBytes = maxShuffleRowBytes(df.queryExecution.executedPlan)
        val gcarry = generateCarries(df.queryExecution.executedPlan)
          .map { case (n, t) => s"$n:$t" }.distinct.sorted.mkString(",")
        // Same relation executed 3+ times with nothing cached: the
        // multi-consumer rebuild class. 2 scans of one table is normal
        // (self-joins: a/b sides of a pair enumeration).
        if (worst._2 >= 3 && cached == 0)
          println(s"SCANAUDIT SUSPECT $name max=${worst._2} cached=$cached shuffles=$nShuffle ranges=$nRange shbytes=$shBytes [$detail] widths[$widths] gencarry[$gcarry]")
        else
          println(s"SCANAUDIT ok $name max=${worst._2} cached=$cached shuffles=$nShuffle ranges=$nRange shbytes=$shBytes [$detail] widths[$widths] gencarry[$gcarry]")
      } catch { case e: Exception =>
        println(s"SCANAUDIT ERROR $name ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | "))
        if (sys.env.contains("SPARK_GRAFT_AUDIT_TRACE")) e.printStackTrace()
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
