package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite

/** Global plan-shape audit: every batch query's physical plan is
  * checked for the patterns that kill a 100 TB run. Runs at plan
  * time only (nothing executes), so it covers the whole inventory
  * cheaply on every test run.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  /** Entries that execute work on construction (streams, sinks, and
    * the artifact-building operators: d15's bloom count+build, p15's
    * B-row weight collect) — their plans are audited by the read-back
    * sweep below and their own specs instead.
    */
  private val sideEffecting =
    Set("st01_stream_window", "st02_stream_session", "st03_stream_dedup",
      "st04_stream_enrich", "st05_stream_asof",
      "k01_partitioned_sink", "k02_bucketed_join", "k03_compaction",
      "d10_dedup_incremental", "k04_fastq_ingest",
      "st06_stream_sink", "st07_stream_funnel", "k05_orc_roundtrip",
      "st08_stream_outlier", "k06_csv_roundtrip", "k07_jsonl_roundtrip",
      "k11_ingest_manifest", "st11_stream_ingest",
      "k12_partition_upsert", "st12_stream_upsert", "st16_stream_index",
      "st13_stream_heavy",
      "k13_sketch_ledger", "st14_stream_ledger", "st15_stream_select",
      "d15_bloom_decontaminate", "p15_importance_sample",
      "k14_time_travel")

  /** s01/s02 score a BROADCAST handful of query vectors against the
    * corpus with a non-equi self-exclusion — the one place a
    * broadcast nested loop is the intended shape (corpus scanned
    * once, map-side). s02/d08's k-means assignment likewise crosses
    * the corpus with the BROADCAST k-row centroid table map-side.
    */
  /** t08's grand-total join is the scalar-subquery shape: the
    * broadcast side is exactly ONE row (sum over the vocab).
    */
  /** s04's ADC scan crosses the codes-only corpus with the BROADCAST
    * per-query lookup tables (a handful of rows, like s01's queries).
    */
  /** s05 composes s02's probe cross (queries × broadcast centroids)
    * with s04's LUT broadcast — the same by-design tiny sides.
    */
  /** p13's corpus-total cross joins ONE broadcast row onto the
    * source-cardinality rate table (metadata-scale left side) — the
    * same scalar shape; the corpus-sized admission join below it is
    * a broadcast HASH join on source. p14 composes p13's mixture
    * stage and inherits exactly that scalar cross (its corpus-sized
    * joins are hash/anti joins, visible in the same plan).
    */
  private val bnljByDesign =
    Set("s01_ann_bruteforce", "s02_ann_ivf", "d08_dedup_embedding_auto",
      "t08_vocab", "s04_ann_pq", "s05_ann_ivfpq", "p13_token_mixture",
      "p14_training_build",
      // s06 is s05's machinery at lossless dials — same tiny probe
      // cross; s07's only nested loop is the #queries × #clusters
      // admission cross (both broadcast-sized); each one's corpus
      // side enters a hash join (SimilaritySpec pins it)
      "s06_ann_exact", "s07_range_search",
      // k31's fetch runs s05/s06's shared ivfPqScan over the LANDED
      // artifacts — the identical broadcast probe/LUT crosses; st27
      // is the same fetch through the STREAMED artifacts
      "k31_ann_index", "st27_stream_ann_ingest")

  test("no query plan contains a cartesian product") {
    plansByName.foreach { case (name, plan) =>
      assert(!plan.toString.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("nested-loop joins only where a broadcast side is by-design tiny") {
    plansByName.foreach { case (name, plan) =>
      if (!bnljByDesign(name))
        assert(!plan.toString.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join")
    }
  }

  /** Partition-less windows move ALL data to one task — fatal at
    * 100 TB unless the window's input is by-design bounded. These are
    * the justified cases (each runs post-aggregation / post-limit on
    * metadata-scale rows); anything NEW fails the gate loudly instead
    * of adding another "Moving all data to a single partition" line
    * to the log noise.
    */
  private val partitionlessWindowByDesign = Map(
    // rank + running coverage AFTER the top-N limit: ≤ topN rows
    "t08_vocab" -> "post-limit topN rows",
    // Gini rank over the bin table: ≤ #bins = range/binWidth rows
    "q34_evenness" -> "post-aggregation #bins rows",
    // per-bucket metadata ranks: ≤ `buckets` rows
    "p05_batch_assembly" -> "bucket metadata rows",
    // (q24 left this list in round 14: its λ/rank/BH windows are now
    // partitioned per event_type — q40's recipe)
    // drift ranks over the per-slice bin table (q24's justification)
    "q33_dist_drift" -> "post-aggregation #bins rows",
    // gaps-and-islands over the aggregated bin table: ≤ #bins rows
    // (bounded by time-range/binSeconds, PlanScan's q12 note)
    "q12_peak_detect" -> "post-aggregation #bins rows",
    // ratio-of-total over() on #statuses rows post-aggregation
    "q13_metrics" -> "post-aggregation #statuses rows",
    // cumulative share over the fixed-bin histogram: ≤ #bins rows
    "q07_histogram" -> "post-aggregation #bins rows",
    // (q21 likewise left in round 14: per-type partitioned windows)
    // q12's islands + per-island argmax rank, same bounded bin table
    "q36_peak_summits" -> "post-aggregation #bins rows",
    // q41's consensus side IS q12's global islands — same bin table
    "q41_interval_join" -> "post-aggregation #bins rows (q12 side)",
    // BAMPE detect over the census rollup: ≤ 2^bits flag rows
    "q35_flag_census" -> "post-aggregation 2^bits flag rows")

  private def physical(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Every auditable query PLANNED ONCE, shared by all sweeps (r19
    * verification-budget trim, VERDICT item 8): each sweep used to
    * re-construct and re-plan all ~143 queries itself, making this
    * suite 4x-pay the whole inventory's Catalyst cost (5m25s
    * measured). Planning is side-effect-free for the non-sideEffecting
    * set, so one shared pass is observationally identical.
    */
  private lazy val plansByName: Map[String, SparkPlan] =
    SparkEntry.queries.keys.filterNot(sideEffecting).map { name =>
      name -> SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    }.toMap

  /** Entries whose construction runs Spark jobs by design, each with
    * what the jobs do — every other auditable query must build with
    * zero jobs. The streams here are the finite arrival harness run to
    * completion inside the builder; the lakehouse reads consult a
    * staged manifest or index on the driver before they can say which
    * files to scan.
    */
  private val eagerBuild: Map[String, String] = {
    val stream = "runs its finite stream to completion"
    val versions = "collects the version manifest (TimeTravel.readManifest)"
    val zoneMap = "collects the zone-map files overlapping the rectangle"
    val bloom = "collects the bloom manifest's candidate files"
    val annIndex = "reads the landed ANN index manifest and artifacts"
    Map(
      "q40_interval_complement" -> "checkpoints the shared bin table",
      "d07_dedup_groups" -> "checkpoints each label-propagation round",
      "p03_dedup_corpus" -> "runs d07's checkpointed label propagation",
      "p13_token_mixture" -> "localCheckpoints the one token-mass pass",
      "p14_training_build" ->
        "checkpoints the split table; composes p03 and p13",
      "q22_incremental" -> "lands the resumed delta and its manifest",
      "k10_schema_evolution" ->
        "writes the two-schema tree, then merges its schemas",
      "k15_coverage_track" -> "collects the track's min bin (window bound)",
      "k17_bloom_point_lookup" -> bloom,
      "k18_index_maintenance" -> bloom,
      "k19_zonemap_skipping" -> zoneMap,
      "k20_compact_reindex" -> zoneMap,
      "k21_restore" -> versions,
      "k22_shallow_clone" -> versions,
      "k23_concurrent_commit" -> versions,
      "k24_schema_evolution" -> versions,
      "k26_partition_evolution" -> "collects the partition-spec log",
      "k28_change_feed" -> versions,
      "k29_column_stats" -> "infers the landed stats tree's schema",
      "k30_retention" -> versions,
      "k31_ann_index" -> annIndex,
      "st09_stream_neardup" -> stream,
      "st10_stream_sliding" -> stream,
      "st17_stream_zonemap" -> s"$stream; then $zoneMap",
      "st18_stream_join" -> stream,
      "st19_stream_outer_join" -> stream,
      "st20_stream_deletes" -> stream,
      "st21_stream_constraints" -> stream,
      "st22_stream_blob_ingest" -> stream,
      "st23_stream_session_timers" -> stream,
      "st25_stream_change_feed" -> stream,
      "st27_stream_ann_ingest" -> annIndex)
  }

  /** Building a query is lazy: with input schemas resolved once
    * (`Tables.load`) and staging memos landed by the planning pass
    * above, constructing a DataFrame not in `eagerBuild` must start no
    * Spark job. Jobs are attributed by a local property set on this
    * thread (inherited by any thread a builder spawns), and a marker
    * job drains the listener bus: its start arrives after every
    * earlier job's.
    */
  test("building a query not marked eager runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.audit.build"
    val drain = "__drain__"
    // written only on the listener thread, read after the latch
    val jobs = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach { q =>
            if (q == drain) drained.countDown()
            else jobs(q) += 1
          }
    }
    val names = plansByName.keys.toSeq.sorted // the warm-up build
    sc.addSparkListener(listener)
    try {
      names.foreach { name =>
        sc.setLocalProperty(key, name)
        SparkEntry.queries(name)(spark, sf)
      }
      sc.setLocalProperty(key, drain)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    val offenders = jobs.toSeq.sorted.collect {
      case (q, n) if !eagerBuild.contains(q) => s"$q($n jobs)"
    }
    val stale = eagerBuild.keys.filterNot(jobs.contains).toSeq.sorted
    assert(offenders.isEmpty,
      s"construction ran Spark jobs: ${offenders.mkString(", ")} — " +
        "make the build lazy or list it in eagerBuild with a reason")
    assert(stale.isEmpty,
      s"listed in eagerBuild but built with no job (remove): " +
        stale.mkString(", "))
  }

  /** TRUE iff the subtree below a window provably bounds its row
    * count: an aggregate (output ≤ #groups), a limit, or a rank-prune
    * filter over a prior window (row_number/rank compared to a small
    * literal). Shared by the partition-less and stratum-only gates —
    * r18 VERDICT item 6 upgraded the partition-less allowlist from
    * prose justifications to this machine-checked invariant, so a
    * future operator composing one of the allowlisted helpers over
    * raw-cardinality rows fails the gate instead of silently
    * funnelling the corpus through one task.
    */
  private def boundedInput(child: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec}
    child.exists {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec | _: LocalLimitExec => true
      case f: org.apache.spark.sql.execution.FilterExec =>
        rankPruneFilter(f)
      case _ => false
    }
  }

  /** The rank-prune form (factored out of the stratum gate): the
    * filter keeps rows whose row_number/rank — an attribute PRODUCED
    * by a window beneath it — compares against a small integer
    * literal, bounding cardinality at #partitions × literal.
    */
  private def rankPruneFilter(
      f: org.apache.spark.sql.execution.FilterExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    val winOuts = f.child.collect {
      case w2: WindowExec =>
        w2.windowExpression.map(_.toAttribute.exprId)
    }.flatten.toSet
    def smallLit(l: Any): Boolean = l match {
      case i: Int => i <= 4096
      case i: Long => i <= 4096L
      case _ => false
    }
    def winAttr(e: Expression): Boolean = e match {
      case a: AttributeReference => winOuts.contains(a.exprId)
      case c: Cast => winAttr(c.child)
      case _ => false
    }
    def rankPrune(e: Expression): Boolean = e match {
      case And(l, r) => rankPrune(l) || rankPrune(r)
      case EqualTo(a, Literal(v, _)) => winAttr(a) && smallLit(v)
      case EqualTo(Literal(v, _), a) => winAttr(a) && smallLit(v)
      case LessThanOrEqual(a, Literal(v, _)) => winAttr(a) && smallLit(v)
      case GreaterThanOrEqual(Literal(v, _), a) => winAttr(a) && smallLit(v)
      case LessThan(a, Literal(v, _)) => winAttr(a) && smallLit(v)
      case GreaterThan(Literal(v, _), a) => winAttr(a) && smallLit(v)
      case _ => false
    }
    winOuts.nonEmpty && rankPrune(f.condition)
  }

  test("partition-less windows only on by-design bounded inputs") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val stale = scala.collection.mutable.ListBuffer.empty[String]
    val unbounded = scala.collection.mutable.ListBuffer.empty[String]
    plansByName.foreach { case (name, plan0) =>
      val plan = physical(plan0)
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      if (partitionlessWindowByDesign.contains(name)) {
        if (bare.isEmpty) stale += name
        // the allowlist's prose claims ("post-aggregation", "post-
        // limit") are ASSERTED, per window site: every partition-less
        // window must have an aggregate/limit/rank-prune beneath it
        bare.foreach { w =>
          val child = w match {
            case we: WindowExec => we.child
            case wg: WindowGroupLimitExec => wg.child
          }
          if (!boundedInput(child))
            unbounded += s"$name(${w.nodeName})"
        }
      } else if (bare.nonEmpty)
        offenders += s"$name(${bare.map(_.nodeName).mkString(",")})"
    }
    assert(offenders.isEmpty,
      s"partition-less windows outside the allowlist: " +
        s"${offenders.mkString(", ")} — unbounded input would collapse " +
        "to ONE task; justify and allowlist or partition the window")
    assert(stale.isEmpty,
      s"allowlisted but plan no partition-less window (remove): " +
        s"${stale.mkString(", ")}")
    assert(unbounded.isEmpty,
      s"allowlisted partition-less windows with UNBOUNDED input " +
        s"(no aggregate/limit/rank-prune beneath): " +
        s"${unbounded.mkString(", ")} — the allowlist's bounded-input " +
        "claim must hold in the plan, not just in prose")
  }

  /** r15 verdict item 1: a window partitioned ONLY by a low-cardinality
    * stratum column (source/split/epoch) funnels each stratum through
    * one task — at 100 TB with ~10 sources the stage runs ~10-wide and
    * one task sorts a multi-TB stratum. The packing operators now use
    * stratifiedPrefixSum's (stratum, range-bucket) encoding; this gate
    * keeps them (and anything new) honest. A stratum-only window IS
    * legitimate on bounded metadata — i.e. when an aggregate sits
    * below it in the same plan subtree (the bucket-offset window runs
    * on ≤ strata×buckets representative rows) — so the gate fails only
    * on stratum-only windows with NO aggregate or limit beneath them.
    */
  test("no per-stratum single-task window on corpus-cardinality input") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec}
    val strataNames = Set("source", "split", "epoch", "lang")
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    plansByName.foreach { case (name, plan0) =>
      val plan = physical(plan0)
      plan.foreach {
        case w: WindowExec if w.partitionSpec.nonEmpty =>
          val partCols = w.partitionSpec.flatMap(_.references.map(_.name))
          val strataOnly = partCols.nonEmpty &&
            partCols.forall(strataNames.contains)
          val boundedBelow = w.child.exists {
            case _: BaseAggregateExec => true
            case _: GlobalLimitExec | _: LocalLimitExec => true
            case _ => false
          }
          // a RANK-PRUNE filter over a prior window also bounds the
          // input: stratifiedPrefixSum's _rn=1 representative slice
          // (≤ strata×buckets rows) and p07/q26's two-phase top-k
          // (≤ buckets·cap rows per stratum after the local ≤cap cut).
          // ADVICE r16 #3: the pruning conjunct must compare an
          // attribute PRODUCED by the window below (row_number/rank
          // output) against a small integer literal — a mere `<=` in
          // the condition string (e.g. an unbounded band filter
          // abs(a-b) <= 8) does NOT bound cardinality and must not
          // exempt a genuine stratum-only window. (Commuted forms and
          // Cast-wrapped rank attrs accepted — ADVICE r17 #5; the
          // predicate is rankPruneFilter, shared with the partition-
          // less gate.)
          val repSliceBelow = w.child.exists {
            case f: org.apache.spark.sql.execution.FilterExec =>
              rankPruneFilter(f)
            case _ => false
          }
          if (strataOnly && !boundedBelow && !repSliceBelow)
            offenders += s"$name(partitionBy=${partCols.mkString(",")})"
        case _ => ()
      }
    }
    assert(offenders.isEmpty,
      s"stratum-only windows on corpus-cardinality input: " +
        s"${offenders.distinct.mkString(", ")} — one task per stratum; " +
        "use Corpus.stratifiedPrefixSum's (stratum, bucket) encoding")
  }

  /** r9 verdict item 7: the side-effecting entries were excluded from
    * the sweeps above on the promise their own specs audit plans.
    * This closes the gap directly: each entry is constructed ONCE
    * (executing its write/stream against its own staging dir — the
    * same thing Verify does) and the RETURNED read-back/summary
    * DataFrame's physical plan passes the same three gates. Every
    * registered query is now inside SOME plan gate.
    */
  test("side-effecting entries: read-back plans pass the same gates") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    sideEffecting.toSeq.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = physical(df.queryExecution.executedPlan)
      val s = plan.toString
      if (s.contains("CartesianProduct")) offenders += s"$name(cartesian)"
      if (s.contains("BroadcastNestedLoopJoin")) offenders += s"$name(bnlj)"
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      if (bare.nonEmpty) offenders += s"$name(${bare.mkString(",")})"
    }
    assert(offenders.isEmpty,
      s"side-effecting read-back plans fail the sweep: " +
        offenders.mkString(", "))
  }

  test("document/embedding scans prune to the referenced columns") {
    // Operators over wide tables must not read every column: the
    // parquet ReadSchema should include only what the query uses.
    val narrow = Map(
      "d01_dedup_exact" -> Seq("doc_id", "text"),
      "t03_token_count" -> Seq("doc_id", "text"),
      "d05_dedup_embedding" -> Seq("vec_id", "label", "embedding"))
    narrow.foreach { case (name, cols) =>
      val scans = plansByName(name).toString
        .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
      val widest = Seq("n_chars", "props", "o_comment")
      widest.foreach(c => assert(!scans.contains(c),
        s"$name reads unreferenced column $c"))
      cols.filterNot(_ == "label").foreach(c => assert(scans.contains(c),
        s"$name scan missing $c"))
    }
  }
}
