package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-SHAPE regression gates. Correctness is the oracle's job; these
  * tests pin the physical properties that make the plans survive 100 TB —
  * filter pushdown reaching the parquet scan, column pruning, broadcast
  * joins on small sides, and above all: NO query may silently degenerate
  * to an unbounded cartesian product. The static `plans/` artifacts show
  * these properties; this spec makes losing them a test failure instead
  * of a diff someone has to notice.
  */
class PlanShapeSpec extends SparkSpec {

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    try df.queryExecution.explainString(FormattedMode)
    finally Caches.release()
  }

  test("no registered query plans a CartesianProduct") {
    // CartesianProductExec is the unbounded all-pairs shuffle; the
    // crossJoin calls in Sim/Kmeans broadcast a tiny side and plan as
    // BroadcastNestedLoopJoin, which is the intended shape
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = formatted(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerated to a cartesian product")
    }
  }

  test("q01 date predicate reaches the parquet scan") {
    val plan = formatted("q01_agg_by_type")
    assert(plan.contains("PushedFilters:") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      "l_shipdate predicate not pushed to the scan")
  }

  test("q14 narrow projection prunes the scan schema") {
    val plan = formatted("q14_scan_project")
    val readSchemas =
      "ReadSchema: [^\n]*".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty)
    // the wide lineitem table must not be scanned in full: columns not
    // referenced by the projection or predicates (q14 reads orderkey,
    // linenumber, quantity, extendedprice, tax, returnflag, shipdate)
    // must not appear in the read schema
    readSchemas.foreach { rs =>
      Seq("l_partkey", "l_suppkey", "l_discount", "l_linestatus")
        .foreach(c => assert(!rs.contains(c),
          s"unprojected column $c reaches the scan: $rs"))
    }
  }

  test("q04 dimension side is broadcast, not shuffled") {
    val plan = formatted("q04_topn_percentiles")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "top-N side of the join lost its broadcast")
  }

  test("q24 LSH candidate join is an equi-join on band buckets") {
    val plan = formatted("q24_minhash_lsh")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      "band-bucket candidate join is not an equi-join")
  }

  test("q206 dimension legs broadcast; min-cost join stays an equi-join") {
    val plan = formatted("q206_min_cost_supplier")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "supplier/nation/region dims lost their broadcast")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      "(part, cost) min join is not an equi-join")
  }

  test("q212/q213 scan the corpus once with the small side broadcast") {
    Seq("q212_semantic_decontam", "q213_hard_negatives").foreach { n =>
      val plan = formatted(n)
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"),
        s"$n: eval/anchor side must be broadcast, never shuffled")
    }
  }

  test("q215 sketch pass is a partial+final object aggregate") {
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial stage before the exchange — the map-side-combinable
    // property the 512 B sketch state exists for
    val plan = formatted("q215_kmv_overlap")
    assert(plan.contains("ObjectHashAggregate"),
      "kmv_md5 lost its object-hash aggregate")
    assert(plan.contains("kmv_md5"), "sketch aggregate missing from plan")
  }

  test("q18 month filter prunes the partitioned sink statically") {
    // a literal predicate on the partition column must reach the scan as
    // a partition filter, so the read lists only the 1998 month
    // directories instead of the whole table
    val plan = formatted("q18_partitioned_sink")
    val filters = "PartitionFilters: \\[[^\n]*".r.findAllIn(plan).toList
    assert(filters.exists(f => f.contains("ship_month") &&
      f.contains(">= 199801") && f.contains("<= 199812")),
      s"ship_month predicate not pushed to partition pruning:\n$plan")
  }

  test("dynamic partition pruning fires on the partitioned fact table") {
    // STATIC pruning (a literal predicate on the partition column) is
    // pinned by the q18 test above; this pins the DYNAMIC case every
    // star join at 100 TB depends on: the partition-column
    // predicate arrives at runtime from the FILTERED dim side (here a
    // month dimension cut to one quarter), and Catalyst must inject a
    // dynamicpruning subquery on the fact scan instead of reading all
    // partitions. Nothing query-side asks for pruning — the join shape
    // alone must trigger it.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dpp").toString + "/fact.parquet"
    Tables.load(spark, sf001, "lineitem")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyyMM"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(dir)
    val fact = spark.read.parquet(dir)
    val nMonths = fact.select("ship_month").distinct().count()
    // a SEPARATE read for the dim side — shared lineage would make the
    // join self-referential and the column resolution ambiguous
    val dim = spark.read.parquet(dir)
      .select(col("ship_month").as("m")).distinct()
      .withColumn("q", expr("substring(CAST(m AS STRING), 5, 2)"))
      .filter(col("q").isin("01", "02", "03"))
    val joined = fact.join(dim, fact("ship_month") === dim("m"))
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning subquery on the fact scan:\n$plan")
    // collect() drives THIS queryExecution (head() would wrap a new
    // limited plan and leave these metrics untouched)
    assert(joined.collect()(0).getLong(0) > 0)
    // and the pruning must actually cut partitions at runtime. The
    // executed plan is an AdaptiveSparkPlanExec LEAF — collectLeaves()
    // never reaches the scans (a vacuous pass the r6 review caught);
    // walk through AQE wrappers and query stages explicitly
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val factScans = scans(joined.queryExecution.executedPlan)
      .filter(_.partitionFilters.exists(
        _.toString.contains("dynamicpruning")))
    assert(factScans.nonEmpty, "no scan carries the dynamic filter")
    val pruned = factScans.flatMap(_.metrics.get("numPartitions"))
      .map(_.value)
    assert(pruned.nonEmpty, "fact scan lost its numPartitions metric")
    pruned.foreach(p => assert(p > 0 && p < nMonths,
      s"DPP read $p of $nMonths partitions — nothing was pruned"))
  }

  test("z-order box query reads only the covering cells' partitions") {
    // q243's scale claim is the partition CUT, not just the green
    // aggregate: the driver-side cell enumeration must reach the scan
    // as a static PartitionFilter that reads exactly the 12 covering
    // cells of the 64-cell layout (fewer only if a cell is empty on
    // this fixture)
    graft.sources.IngestJob.q243.run(spark, sf001).collect()
    graft.Caches.release()
    // the layout is committed now; drive the box query alone so the
    // scan metrics belong to THIS queryExecution
    val dirs = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_ingest").listFiles()
      .filter(_.getName.startsWith("lineitem_zorder_0.001"))
    assert(dirs.length == 1, s"expected one committed layout: ${dirs.toSeq}")
    val q = graft.sources.IngestJob.zorderBoxQuery(spark, dirs.head.toString)
    assert(q.collect().nonEmpty)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val sc = scans(q.queryExecution.executedPlan)
    assert(sc.nonEmpty, "no file scan in the box query")
    assert(sc.head.partitionFilters.nonEmpty,
      "zcell IN (...) did not reach the scan as a partition filter")
    val read = sc.head.metrics("numPartitions").value
    assert(read > 0 && read <= 12,
      s"box query read $read partitions of 64 — the cell cover did not prune")
  }

  test("runtime bloom-filter pruning fires on a selective non-partition join") {
    // DPP's row-level sibling: when the join key is NOT a partition
    // column, Catalyst can still inject a bloom filter built from the
    // selective dim side into the fact scan's filters
    // (InjectRuntimeFilter), cutting shuffle input instead of
    // partitions. Default thresholds target cluster sizes
    // (creationSide 10MB / applicationSide 10GB), so the test lowers
    // them to fixture scale — what it pins is that the MECHANISM
    // plans and executes in this build, and the thresholds to mind at
    // 100 TB.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    // bloom filters only inject for SHUFFLE joins (a broadcast join
    // already ships the dim to every task — nothing to prune with), so
    // force the big-big regime a 100 TB fact⋈fact join lives in
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // creationSideThreshold is a MAXIMUM (don't build a bloom filter
      // from a huge side — default 10MB is fine for the fixture dim);
      // applicationSideScanSizeThreshold is a MINIMUM (default 10GB
      // targets clusters) — lower it to fixture scale
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf001, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val dim = Tables.load(spark, sf001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = li.join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") ||
        plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
      assert(joined.collect()(0).getLong(0) > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // The third runtime re-plan that matters at 100 TB beside DPP and
    // bloom pruning: one hot key (a null-ish default, a mega-customer)
    // makes one shuffle partition orders of magnitude larger than the
    // rest, and the straggler sets the stage's wall clock. AQE's
    // OptimizeSkewedJoin must detect the oversized partition from
    // runtime map statistics and split it into multiple tasks (the
    // matching side is replicated per split). Defaults target cluster
    // scale (256MB threshold), so the test lowers them to fixture
    // scale — what it pins is that the MECHANISM plans and executes in
    // this build, and which knobs govern it at scale.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // force the sort-merge regime skew handling applies to
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      // coalescing would merge the small partitions and mask the skew
      // readout; keep the test about the split
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      // 90% of the fact lands on key 1 — the classic hot-default skew.
      // The payload is an md5 string the aggregate consumes, so column
      // pruning can't reduce the hot partition to an RLE'd constant key
      // below the skew threshold
      val fact = Tables.load(spark, sf001, "lineitem")
        .select(
          when(col("l_orderkey") % 10 < 9, lit(1L))
            .otherwise(col("l_orderkey")).as("k"),
          md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))).as("v"))
        // skew splits are ranges of MAP outputs — the one-file fixture
        // gives the join shuffle a single mapper, which is unsplittable;
        // fan the scan out the way a many-file 100 TB table would be
        .repartition(8)
      val dim = Tables.load(spark, sf001, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), max(col("v")).as("mv"))
      assert(joined.collect()(0).getLong(0) > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not mark the join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bare (unpartitioned) windows run only on aggregate-bounded frames") {
    // A Window with an empty partitionSpec moves ALL its input to one
    // task — fatal on a corpus-sized frame, fine on a dimension-bounded
    // one (GlobalOrder's partition-count offsets tables, q193's <=25-row
    // proration). Two-level guard (round-4 judge item #8):
    //  1. STRUCTURAL: every bare window's subtree must contain an
    //     Aggregate — the input is a grouped rollup, never raw rows
    //     (the corpus-sized global orders all go through GlobalOrder's
    //     range-partitioned shape instead).
    //  2. AUDIT: the set of queries planning bare windows is pinned, so
    //     a new site is a conscious whitelist edit, not a silent WARN in
    //     a bench log. (localCheckpoint-truncated lineage hides already-
    //     executed subtrees; those sites are pinned by their own specs.)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // every entry audited: GlobalOrder partition-count offsets tables
    // (q90/q112/q141/q146/q159/q161/q194), q193's <=25-nation proration
    // ranks, q181's quintile-boundary frames over per-metric aggregates
    val allowed = Set(
      "q90_sequence_packing", "q112_peak_concurrency",
      "q141_decile_analysis", "q146_abc_analysis",
      "q159_key_skew_profile", "q161_weighted_percentiles",
      "q181_rfm_segments", "q193_budget_proration",
      "q194_pareto_skyline",
      // r5: q218/q220's running totals over the 10-row batch aggregates;
      // q232's GlobalOrder partition-count offsets table (q141's shape)
      "q218_novelty_curve", "q220_novelty_sketch",
      "q232_quality_dup_audit",
      // r6: q235's two rank windows run over top-20 lists
      // (TakeOrderedAndProject outputs, aggregates below) — 20-row
      // frames by construction
      "q235_rrf_fusion",
      // r7: q312's global rank goes through GlobalOrder.withOrderedCumsum
      // — the bare window is its partition-count offsets table (grouped
      // by spark_partition_id, ≤ shuffle-partition rows), q141's shape
      "q312_quantile_normalize",
      // r8: GlobalOrder offsets tables again — q326's two cumulative
      // sample counts, q327's calibration-score cumsum, q333's rank +
      // running-revenue pair; q329's largest-remainder rank runs over
      // the |strata|-row allocation rollup (Aggregate below)
      // r10 (opt round 2): q327's cumsum now runs as a bare window
      // directly over the score-domain rollup — ≤ 10⁵ rows by the
      // mod-100000 construction at any corpus size (q397's shape at a
      // larger literal bound); the GlobalOrder offsets table it
      // replaced was the previously-whitelisted site
      "q326_ks_test", "q327_conformal_calibration",
      "q329_neyman_allocation", "q333_gini_concentration",
      // r8 wave 2/3: q335's 10-row decile cumsum (decile rollup below);
      // q336's 80-row resample rank; q337's stats-sized slope/residual
      // medians; q340's GlobalOrder offsets tables (cumsum + lag);
      // q341's 100-row largest-remainder rank
      "q335_vocab_growth", "q336_hash_bootstrap", "q337_theil_sen",
      "q340_wasserstein_1d", "q341_negative_sampling",
      // r8 wave 4: q343's pick-rank + running-token windows over the
      // |sources|-row knapsack rollup
      "q343_mixture_knapsack",
      // r8 wave 16: q350's BH rank over the ~100-test grid (distinct
      // rollup below); q351's MA/lag/lead windows over the |months|-row
      // gap-filled series (month rollup below)
      "q350_bh_fdr", "q351_seasonal_decompose",
      // r9: q357's cumulative class counts run over the ≤ max_len/16-row
      // length-bucket rollup (Aggregate below); q359's GlobalOrder
      // offsets table (partition-count-sized, Aggregate below)
      "q357_gini_stump", "q359_shard_manifest",
      // r9: q375's Holm rank over the ~100-test grid (distinct rollup
      // below) — q350's shape
      "q375_holm_fwer",
      // r10: q384's CUSUM cumsum/running-extremum windows run over the
      // ≈80-row month rollup (Aggregate below) — q351's series shape
      "q384_cusum",
      // r10: q386's global-distribution cumsum runs over the 10-row
      // bucket rollup (Aggregate below); the per-group EMD walk is
      // partitioned
      "q386_t_closeness",
      // r10: q397's midrank cumulative runs over the ≤1000-row
      // score-domain rollup (Aggregate below) — q327's shape
      "q397_roc_pr_curve",
      // r10: q399's reverse at-risk cumulative runs over the
      // ≤533-row duration-domain rollup (Aggregate below); q400's
      // twin windows are variant-partitioned and not flagged
      "q399_kaplan_meier",
      // r11: q404's two rank windows run over the BM25 top-20 shortlist
      // (TakeOrderedAndProject + Aggregate below) — q235's 20-row shape;
      // q406's rank + RBP cumsum ride the same 20-row frame
      "q404_cross_encoder_rerank", "q406_rbp_eval",
      // r11 wave 7: q413's GlobalOrder offsets table over the
      // (panel, value)-spectrum rollup (Aggregate below). q415's month
      // index rides GlobalOrder too, but its persistTracked panels
      // frame truncates the visible lineage — its shape is pinned by
      // the Round11OperatorsSpec replay instead
      "q413_kruskal_wallis",
      // r11 waves 8/9: q416's |delta|-spectrum and q420's combined
      // value-spectrum mid-ranks ride the same GlobalOrder offsets
      // shape (Aggregate below both)
      "q416_wilcoxon_signed_rank", "q420_effect_sizes",
      // r11 waves 11/12: q425's 5-column spectrum cumsum and q430's
      // customer-revenue rank — GlobalOrder offsets tables again
      // (Aggregate below both)
      "q425_jonckheere", "q430_palma_ratio",
      // r11 wave 13: q431's deviation-spectrum squared ranks — the
      // same GlobalOrder offsets shape (Aggregate below)
      "q431_conover_scale")
    val observed = scala.collection.mutable.SortedMap[String, Int]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf001)
      try {
        val bare = df.queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        bare.foreach { w =>
          assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
            s"$name: bare window over a non-aggregated (corpus-sized) frame")
        }
        if (bare.nonEmpty) observed(name) = bare.size
      } finally Caches.release()
    }
    assert(observed.keySet == allowed,
      s"bare-window site list drifted — audit the new site, then re-pin: " +
        s"observed=${observed.toSeq.mkString(", ")}")
  }

  test("q246 PIT join broadcasts the SCD2 dimension under LEFT semantics") {
    val plan = formatted("q246_scd2_pit_join")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      "interval residual must ride a broadcast equi-join, not a range join")
    assert(!plan.contains("SortMergeJoin"),
      "dimension side fell back to a shuffle join")
  }

  test("q267 federation: remote predicate pushed into Derby, TSV leg custom") {
    val plan = formatted("q267_federated_join")
    assert(plan.contains("JDBC") && plan.contains("c_acctbal > 0"),
      "the dimension filter must execute inside the remote engine")
    assert(plan.contains("TsvScan"),
      "the nation leg must read through the custom DSv2 source")
    assert(plan.contains("BroadcastHashJoin"),
      "federated dimensions must broadcast against the parquet fact")
  }

  test("q253 merge-on-read applies deletes as broadcast semi/anti joins") {
    val plan = formatted("q253_merge_on_read")
    assert(plan.contains("LeftAnti") && plan.contains("LeftSemi"))
    assert(!plan.contains("SortMergeJoin"),
      "the delete-key side must broadcast — it is O(deleted), tiny")
  }

  test("q284 spec evolution prunes each generation under its own spec") {
    // The scale claim of partition-spec evolution is that a query
    // spanning the boundary prunes BOTH generations — the month-grain
    // history under its month key, the day-grain current year under its
    // day key. A reader that lost either PartitionFilter would scan a
    // whole generation (at 100 TB: the whole decade of history).
    graft.sources.IngestJob.q284.run(spark, sf001).collect()
    graft.Caches.release()
    val dirs = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_ingest").listFiles()
      .filter(_.getName.startsWith("lineitem_pspec_0.001"))
    assert(dirs.length == 1, s"expected one committed layout: ${dirs.toSeq}")
    val root = dirs.head
    val py = root.getName.split("_").last.toInt
    def nParts(gen: String): Int =
      new java.io.File(root, gen).listFiles().count(_.getName.contains("="))
    val (tot1, tot2) = (nParts("gen1_month"), nParts("gen2_day"))
    val q = graft.sources.IngestJob.partitionEvolutionQuery(
      spark, s"$root/gen1_month", s"$root/gen2_day", py)
    assert(q.collect().nonEmpty)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val sc = scans(q.queryExecution.executedPlan)
    def gen(col: String): FileSourceScanExec = {
      val hits = sc.filter(_.relation.partitionSchema.fieldNames.contains(col))
      assert(hits.length == 1, s"expected one $col-partitioned scan, " +
        s"got ${hits.length} of ${sc.length}")
      hits.head
    }
    val (s1, s2) = (gen("ym"), gen("ymd"))
    Seq("ym" -> s1, "ymd" -> s2).foreach { case (c, s) =>
      assert(s.partitionFilters.nonEmpty,
        s"the $c predicate did not reach its scan as a PartitionFilter")
    }
    val read1 = s1.metrics("numPartitions").value
    val read2 = s2.metrics("numPartitions").value
    assert(read1 == 2,
      s"month generation read $read1 of $tot1 partitions — want exactly " +
        "the 2 pre-pivot months")
    assert(read2 > 0 && read2 <= 60 && read2 < tot2,
      s"day generation read $read2 of $tot2 partitions — the Jan-Feb " +
        "window must cut the year of day partitions")
  }

  test("q279 wedge enumeration runs over the hub-capped adjacency") {
    // A hub centre of degree d would emit d² wedge candidates; the cap
    // (r7 verdict item #5) bounds every centre to its first hubCap
    // neighbours. Since r9 the cap is the slice bound on the per-centre
    // sorted neighbour ARRAY (the wedge pairs explode in-operator from
    // that array instead of a capped self-join — same pair set, no
    // window sort, no shuffled join sides). Losing the slice re-opens
    // the d² path at 100 TB.
    val plan = formatted("q279_link_prediction")
    assert(plan.contains("slice(sort_array(collect_list"),
      "the per-centre sorted-slice neighbour cap disappeared — wedge " +
        "enumeration is uncapped")
    assert(plan.contains(s", 1, ${graft.queries.Olap.hubCap})"),
      s"the hubCap=${graft.queries.Olap.hubCap} slice bound " +
        "disappeared from the plan")
  }

  test("q179 dimension joins broadcast under the session threshold only") {
    // q179's four dimension joins (customer, supplier, both nation
    // roles) carry no hint: the planner broadcasts them while their
    // estimates fit spark.sql.autoBroadcastJoinThreshold, and -1 must
    // turn every broadcast off, AQE's runtime conversion included
    import org.apache.spark.QueryPlans
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def broadcasts(): Int = {
      val df = SparkEntry.queries("q179_nation_volume")(spark, sf001)
      try df.collect()
      finally Caches.release()
      QueryPlans.nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[BroadcastHashJoinExec])
    }
    val atDefault = broadcasts()
    assert(atDefault >= 4,
      s"expected >=4 broadcast joins at the default threshold, saw $atDefault")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try assert(broadcasts() == 0, "broadcast joins planned at threshold -1")
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
