package graft

/** Plan-shape regression guards: the scale properties the engine promises
  * (pushdown, broadcast, top-k pushdown, no nested loops in blocked joins)
  * asserted on the ACTUAL optimized plans, so a refactor that silently
  * degrades a plan fails here rather than in a 100 TB run.
  */
class PlanGuardSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf)
    df.queryExecution.executedPlan.toString
  }

  test("q2: filter reaches the parquet scan (PushedFilters), columns pruned") {
    val p = planOf("q2_filter_pushdown")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(!p.contains("PushedFilters: []"), s"empty pushed filters in:\n$p")
    // projection pruning: the scan must not read every lineitem column
    assert(!p.contains("l_comment"), s"unpruned scan reads l_comment:\n$p")
  }

  test("q4: small dimension joins broadcast, not shuffle") {
    val p = planOf("q4_broadcast_join_brand")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
  }

  test("q6: existing-key anti join broadcasts the key side") {
    val p = planOf("q6_anti_join_no_orders")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti in:\n$p")
  }

  test("q19: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = planOf("q19_topk_global")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k pushdown in:\n$p")
  }

  test("q74: binned interval join never falls back to a nested loop") {
    val p = planOf("q74_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to a nested loop:\n$p")
  }

  test("dedup candidate generation contains no cartesian product") {
    for (q <- Seq("q31_minhash_lsh", "q33_ngram_jaccard", "q68_simhash_neardup")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
    }
  }

  test("q386 at |q| = 1000: no cartesian, one broadcast-query kNN loop, every query document answered") {
    // the gate face runs 5 query docs; at sf0.01 |q| = 1000 makes every
    // one of the 500 documents (and vectors) a query, 200x the face
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.queries.VectorQueries.rrfHybridFusionN(spark, "/root/testdata/sf0.01", 1000L)
    // collect() runs this frame's own plan, so executedPlan is AQE-final
    val answered = df.collect().map(_.getAs[Long]("q_id")).toSet
    val plan = df.queryExecution.executedPlan
    val ops = PlanOps.operators(plan)
    assert(!ops.exists(_.isInstanceOf[CartesianProductExec]), s"cartesian at query volume:\n$plan")
    // the lexical leg and the fusion are keyed joins; the dense leg is a
    // brute-force kNN, a nested loop over the BROADCAST query vectors
    val loops = ops.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(loops.size == 1 && loops.head.right.output.exists(_.name == "q_vec"),
      s"expected only the dense leg's broadcast-query loop:\n$plan")
    assert(answered == (0L until 500L).toSet,
      s"${500 - answered.size} query documents got no row")
  }

  test("q91: centroid sides broadcast — the corpus is never shuffled for assignment") {
    val p = planOf("q91_kmeans_train")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast centroids in:\n$p")
  }

  test("q92: the chunker is a pure map — no exchange below the output sort") {
    val p = planOf("q92_chunk_overlap")
    // exactly one exchange: the rangepartitioning for the final ORDER BY
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"chunking should not shuffle below the sort:\n$p")
  }

  test("q89: upsert plans hash joins — no cartesian, no nested loop") {
    val p = planOf("q89_upsert_merge")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"upsert degraded:\n$p")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // force the sort-merge path and allow injection at test-table sizes
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val t = Tables(spark, Sf)
      val sel = t.orders.filter(col("o_totalprice") > 350000.0)
        .select(col("o_orderkey"))
      val joined = t.lineitem.join(sel, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      // at 100 TB this runtime filter is the difference between scanning the
      // fact table and scanning 1% of it — assert Spark injects it when the
      // build side is selective
      assert(p.toLowerCase.contains("bloom"), s"no runtime bloom filter in:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q151: TPC-H Q7 broadcasts the pre-filtered nation dims, no cartesian") {
    val p = planOf("q151_tpch_q7")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected both nation dims broadcast (got $bhj):\n$p")
    assert(!p.contains("CartesianProduct"), s"Q7 degraded to cartesian:\n$p")
  }

  test("q155: per-user mode argmax compiles to WindowGroupLimit (map-side top-1)") {
    val p = planOf("q155_user_mode")
    assert(p.contains("WindowGroupLimit"), s"rank<=1 did not push down:\n$p")
  }

  test("q160: basket pairs — top-k pushdown, broadcast frequency dims, no self-join SMJ") {
    val p = planOf("q160_basket_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 sorts globally:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"frequency dims should broadcast (got $bhj):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"pair generation should be array lambdas + broadcast, never an SMJ:\n$p")
  }

  test("q169: TPC-H Q6 pushes every predicate to the parquet scan") {
    val p = planOf("q169_tpch_q6")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"Q6 predicates did not reach the scan:\n$p")
    // the scan must stay narrow: only the filter+agg columns
    assert(!p.contains("l_partkey"), s"unpruned Q6 scan reads l_partkey:\n$p")
  }

  test("q99: semantic dedup broadcasts seeds; pair join is a shuffle join, never a cartesian") {
    val p = planOf("q99_semantic_dedup")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"seed assignment should be a broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair stage degraded to cartesian:\n$p")
  }

  test("q103: bloom probe is a broadcast map — the probe side is never shuffled before tagging") {
    val p = planOf("q103_bloom_filter")
    // the 1-row bitset arrives via BroadcastExchange; a SortMergeJoin
    // before the forall() probe would mean the probe side shuffled
    assert(p.contains("BroadcastExchange"), s"bitset not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe side shuffled for the bloom tag:\n$p")
  }

  test("q108: fuzzy match broadcasts the build side and spreads the probe side") {
    val p = planOf("q108_fuzzy_match")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast block join:\n$p")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"probe side must carry the AQE-coalescing-exempt spread:\n$p")
  }

  test("q115: the extension injects the length band into the naive fuzzy join, short-circuit first") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = SparkEntry.queries("q115_fuzzy_join_naive")(spark, Sf)
    // the session registers GraftExtensions (SparkSpec mirrors Verify/
    // Bench), so the naive `levenshtein <= 2` join conjunct must come out
    // of the optimizer with the implied |Δlen| <= 2 band prepended
    val cond = df.queryExecution.optimizedPlan.collectFirst {
      case j: Join if j.condition.exists(_.toString.contains("levenshtein")) =>
        j.condition.get.toString
    }
    assert(cond.isDefined, "no join carrying the levenshtein conjunct in the optimized plan")
    assert(cond.get.contains("abs((length("), s"band not injected:\n${cond.get}")
    assert(cond.get.indexOf("abs((length(") < cond.get.indexOf("levenshtein"),
      s"band must short-circuit before the DP:\n${cond.get}")
  }

  test("q123: the 6-way Q5 join plans hash joins only — no cartesian, no nested loop on facts") {
    val p = planOf("q123_tpch_q5")
    assert(!p.contains("CartesianProduct"), s"Q5 degraded to a cartesian:\n$p")
    // region/nation are broadcastable dims; customer⋈orders⋈lineitem must
    // all meet on keys (a key-less fact-fact meet would nest-loop)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join in Q5:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"key-less join in Q5:\n$p")
  }

  test("q116: lateral top-k plans as a window group-limit, not a per-row re-scan") {
    val p = planOf("q116_lateral_topk")
    assert(p.contains("WindowGroupLimit"), s"lateral not rewritten to group-limit:\n$p")
    assert(!p.contains("CartesianProduct"), s"lateral degraded to cartesian:\n$p")
  }

  test("q127: per-lang top-3 plans a WindowGroupLimit — map tasks never sort the vocabulary") {
    val p = planOf("q127_heavy_hitters")
    assert(p.contains("WindowGroupLimit"), s"rank<=3 not pushed below the exchange:\n$p")
  }

  test("q122: equi-depth deciles plan NO single-partition global sort/window") {
    val p = planOf("q122_equidepth_histogram")
    assert(!p.contains("SinglePartition"),
      s"distributedNtile must not funnel the relation through one task:\n$p")
  }

  test("q117/q120/q121: pipeline and vector faces plan no cartesian products") {
    for (q <- Seq("q117_inverted_index", "q120_training_pipeline", "q121_label_centroid_sim")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n$p")
    }
  }

  test("q100: incremental agg pushes both date filters to the scans (no full-history rescan)") {
    val p = planOf("q100_incremental_agg")
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(p).isDefined,
      s"date filters not pushed to the orders scans:\n$p")
  }

  test("q125: bucketed join runs exchange-free — the layout replaces the shuffle") {
    val df = SparkEntry.queries("q125_bucketed_join")(spark, Sf)
    df.collect() // materialize so AQE (if on) settles on the final plan
    val full = df.queryExecution.executedPlan.toString
    // AQE's toString appends the pre-execution "== Initial Plan ==" after
    // the final plan — only the final plan's shape is under test
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    val join = p.indexOf("SortMergeJoin")
    assert(join >= 0, s"bucketed join did not plan as sort-merge:\n$p")
    // the tree prints parents first: the aggregate/sort exchanges above
    // the join are legal, but ANY Exchange printed after the join line
    // sits below it — i.e. a side still shuffled and the bucket layout
    // went unused
    assert(p.lastIndexOf("Exchange") < join,
      s"bucketed join still shuffles a side — bucket layout not used:\n$p")
  }

  test("q126: lang filter prunes partitions — only en/fr directories are ever read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q126_partition_pruning")(spark, Sf)
    // df.inputFiles reports the relation PRE-pruning; ask the scan's own
    // FileIndex what survives its partition filters — exactly the file
    // set the executed scan reads
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_q126")) => f
    }
    assert(scans.nonEmpty, "no scan over the partitioned scratch dir in the plan")
    val files = scans.flatMap(f =>
      f.relation.location.listFiles(f.partitionFilters, f.dataFilters))
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty, "partition-filtered listing is empty")
    val offending = files.filterNot(f => f.contains("lang=en") || f.contains("lang=fr"))
    assert(offending.isEmpty,
      s"scan reads pruned partitions: ${offending.take(3).mkString(", ")}")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "lang filter did not become a partition filter")
  }

  test("q220: TPC-H Q8 broadcasts the pruned dims — no cartesian, no fact-fact SMJ explosion") {
    val p = planOf("q220_tpch_q8")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected region/nation/part dims broadcast (got $bhj):\n$p")
    assert(!p.contains("CartesianProduct"), s"Q8 degraded to cartesian:\n$p")
  }

  test("q222: PageRank iterations read checkpointed tables — the plan never re-reads parquet") {
    val p = planOf("q222_pagerank")
    // edges/edgeDeg/per-iteration ranks are localCheckpoint()ed: the final
    // iteration's plan must be rooted on RDD scans, or the 3-iteration
    // lineage re-executes the basket pair generation 2^3 times
    assert(!p.contains("FileScan parquet"),
      s"PageRank lineage escapes the checkpoints (re-reads parquet):\n$p")
    assert(!p.contains("CartesianProduct"), s"PageRank degraded:\n$p")
  }

  test("q235: never-promo is a broadcast left-anti with the part dim broadcast") {
    val p = planOf("q235_never_promo")
    assert(p.contains("LeftAnti"), s"expected an anti join in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct"), s"never-promo degraded:\n$p")
  }

  test("q236: disjunctive Q19 predicate — part dim broadcasts, quantity hull pushed to the fact scan") {
    val p = planOf("q236_disjunctive_pred")
    assert(p.contains("BroadcastHashJoin"), s"part dim should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"Q19 degraded:\n$p")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no predicate reached a scan:\n$p")
  }

  test("q251: Q2's correlated min-cost subquery decorrelates to an aggregate + join (no per-row subquery)") {
    val p = planOf("q251_tpch_q2")
    // RewriteCorrelatedScalarSubquery leaves no scalar-subquery node in
    // the physical plan — the min is an aggregate joined back
    assert(!p.toLowerCase.contains("scalarsubquery"),
      s"Q2 subquery did not decorrelate:\n$p")
    assert(!p.contains("CartesianProduct"), s"Q2 degraded:\n$p")
  }

  test("q252: Q4's EXISTS plans as a left semi join") {
    val p = planOf("q252_tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS should plan as semi join:\n$p")
    // the lineitem side carries no static predicate (the ship-date test
    // is the JOIN condition) — assert the orders-side window specifically
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"the order-date window never reached the orders scan:\n$p")
  }

  test("q257: Q21's EXISTS + NOT EXISTS plan as semi + anti joins") {
    val p = planOf("q257_tpch_q21")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"expected semi+anti joins in:\n$p")
    assert(!p.contains("CartesianProduct"), s"Q21 degraded:\n$p")
  }

  test("q259: delta-join view — every join is hash/broadcast, date filters reach the scans") {
    val p = planOf("q259_incr_join_view")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"delta joins degraded:\n$p")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"the snapshot/delta date splits never reached the scans:\n$p")
  }

  test("q271: dim-filtered join injects DYNAMIC partition pruning into the fact scan") {
    val p = planOf("q271_dynamic_pruning")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim should broadcast:\n$p")
  }

  test("q282: runtime Bloom filter prunes the fact side of a shuffle join") {
    val p = planOf("q282_bloom_join_prune")
    assert(p.contains("might_contain"),
      s"no runtime Bloom filter applied at the fact scan:\n$p")
    assert(p.contains("bloom_filter_agg"),
      s"no Bloom filter built over the filtered dim keys:\n$p")
  }

  test("q258: PQ search is map-side — encode/ADC plan has no join and one top-k") {
    val p = planOf("q258_pq_knn")
    assert(p.contains("TakeOrderedAndProject"),
      s"PQ top-k should plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"PQ search pass should not join:\n$p")
  }

  test("q317: IVF-PQ probes via ONE broadcast cell join; scoring is map-side") {
    val p = planOf("q317_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      s"query set should broadcast onto the corpus cells:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"IVF-PQ search must not shuffle-join or cross-join the corpus:\n$p")
  }

  test("q320: epoch shuffle plans per-epoch WindowGroupLimit, no global sort") {
    val p = planOf("q320_epoch_shuffle")
    assert(p.contains("WindowGroupLimit"),
      s"per-epoch top-k should push the limit below the exchange:\n$p")
  }

  test("q322: prefix-filter join is hash/broadcast joins only — no cartesian") {
    val p = planOf("q322_prefix_filter_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the candidate/verify stages degraded to a product:\n$p")
  }

  test("q323: the checksum is one scan + one partial-agg exchange") {
    val p = planOf("q323_table_checksum")
    // canonicalization + md5 + conv are all codegen projections over the
    // scan; the only exchange is the l_returnflag hash aggregate
    assert(p.contains("HashAggregate"), s"expected hash agg in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"a checksum must not join:\n$p")
  }
}
