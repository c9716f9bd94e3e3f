package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.ops.{DedupOps, Relational, SimilarityOps}

/** Plan-regression tests: lock in the physical-plan properties the 100 TB
  * design depends on, so a later edit can't silently rot a scan into a
  * full read or a bucketed join into a nested loop. Each assert names the
  * property, not the whole plan — plans may evolve, the properties must
  * not.
  *
  * Checks run on the FINAL (post-AQE) plan: the frame is executed first,
  * then the formatted explain is inspected (AQE re-plans at runtime, and
  * the runtime plan is the one that matters).
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  /** Execute, then render the final adaptive plan with full scan
    * metadata (simple-mode strings truncate PushedFilters at 100 chars). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  /** Pre-execution plan render, for shapes too expensive to run. */
  private def staticPlan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** The same final plan in SIMPLE mode — one line per operator with
    * grouping keys and aggregate functions TOGETHER, so a line-grain
    * assertion can tie an aggregate buffer to the keys it runs under
    * (FormattedMode splits Keys/Functions across detail lines). Call
    * only after [[finalPlan]] on the same frame: the query is already
    * executed, this just re-renders the adaptive plan. */
  private def finalPlanLines(df: DataFrame): Array[String] =
    df.queryExecution.explainString(SimpleMode).linesIterator.toArray

  private def assertNoBlowupJoin(plan: String, name: String): Unit = {
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$name plan contains BroadcastNestedLoopJoin — candidate generation degraded to all-pairs")
    assert(!plan.contains("CartesianProduct"),
      s"$name plan contains CartesianProduct")
  }

  test("q01 pushes its predicates into the parquet scan") {
    val plan = finalPlan(Relational.q01ScanFilter(spark, sf))
    assert(plan.contains("PushedFilters"), "no PushedFilters in scan node")
    assert(plan.contains("EqualTo(event_type,click)"),
      "event_type equality not pushed to the scan")
    assert(plan.contains("GreaterThan(value,10.0)"),
      "value range predicate not pushed to the scan")
  }

  test("q12 pushes the shipdate filter and prunes to the 6 used columns") {
    val plan = finalPlan(Relational.q12PricingSummary(spark, sf))
    assert(plan.contains("LessThanOrEqual(l_shipdate"),
      "l_shipdate filter not pushed to the parquet scan")
    assert(!plan.contains("l_comment") && !plan.contains("l_orderkey"),
      "scan reads columns the aggregate never touches (pruning lost)")
  }

  test("q11 joins its dimension side with a broadcast hash join") {
    val plan = finalPlan(Relational.q11Join3Way(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "nation join is not a BroadcastHashJoin — the broadcast hint was lost")
    assertNoBlowupJoin(plan, "q11")
  }

  test("q26 carries the range predicate on an equi join, not a nested loop") {
    val plan = finalPlan(Relational.q26RangeJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      "range join lost its equi-key (l_orderkey) carrier join")
    assertNoBlowupJoin(plan, "q26")
  }

  test("q35 salted join keeps its shuffle-hash shape (the skew demo is honest)") {
    val plan = finalPlan(Relational.q35SaltedJoin(spark, sf))
    assert(plan.contains("ShuffledHashJoin"),
      "salted join is not a ShuffledHashJoin — the hint was lost and the " +
        "plan no longer demonstrates the skew-split shuffle")
    assertNoBlowupJoin(plan, "q35")
  }

  test("q36 six-table join broadcasts its dims and pushes the date filter") {
    val plan = finalPlan(Relational.q36RegionalRevenue(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 4,
      s"only $broadcasts BroadcastHashJoins — a dimension join fell back to a shuffle")
    assert(plan.contains("o_orderdate"),
      "o_orderdate filter lost from the plan entirely")
    assert(plan.contains("PushedFilters"),
      "no pushed filters in any scan node")
    assertNoBlowupJoin(plan, "q36")
  }

  test("q43 scalar subquery decorrelates to one aggregate + join") {
    val plan = finalPlan(Relational.q43ScalarSubquery(spark, sf))
    assert(plan.contains("HashAggregate"),
      "no aggregate in the plan — the per-customer mean vanished?")
    assert(plan.contains("Join"),
      "no join in the plan — the subquery was not decorrelated")
    assertNoBlowupJoin(plan, "q43")
  }

  test("d3 minhash candidates meet on band values, never all-pairs") {
    assertNoBlowupJoin(finalPlan(DedupOps.d3MinhashLsh(spark, sf)), "d3")
  }

  test("d5 embedding near-dup candidates meet on sign bands, never all-pairs") {
    assertNoBlowupJoin(finalPlan(SimilarityOps.d5EmbedNearDup(spark, sf)), "d5")
  }

  test("s2 bucketed ANN probes its bucket, never all-pairs") {
    assertNoBlowupJoin(finalPlan(SimilarityOps.s2AnnBucket(spark, sf)), "s2")
  }

  test("d9 simhash candidates meet on fingerprint bytes, never all-pairs") {
    assertNoBlowupJoin(finalPlan(DedupOps.d9SimhashNearDup(spark, sf)), "d9")
  }

  test("d8 decontamination broadcasts the eval gram set, never all-pairs") {
    // the 100 TB story: benchmarks are MBs, the corpus is not — the train
    // side must meet the eval grams in a broadcast hash join, not shuffle
    val plan = finalPlan(DedupOps.d8Decontamination(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "eval gram set is not broadcast — the train side would shuffle for the join")
    assertNoBlowupJoin(plan, "d8")
  }

  test("d14 verify join stays an equi-join on grams, never all-pairs") {
    // the prefilter UDF is the scale lever; the residual exact join must
    // still meet on the gram digest (equi-join), not degrade to a BNLJ
    assertNoBlowupJoin(finalPlan(DedupOps.d14BloomDecontamination(spark, sf)), "d14")
  }

  test("p3 batch twin: candidate/verify/contam joins never degrade to all-pairs") {
    // the batch replay of the online funnel's semantics shares its join
    // shapes (band-keyed candidates, gram-keyed contam, digest window) —
    // a BNLJ anywhere here would be a corpus-squared plan at 100 TB
    val docs = graft.io.Sources.table(spark, sf, "documents")
    assertNoBlowupJoin(finalPlan(graft.streaming.FullFunnel.batchTwin(docs)), "p3")
  }

  test("t16 scoring folds against one broadcast model row, never a per-row join") {
    val plan = finalPlan(graft.ops.TextOps.t16CharLmScore(spark, sf))
    assert(!plan.contains("hashpartitioning(doc_id"),
      "scoring exchanges the corpus by doc_id — the model lookup " +
        "regressed from the broadcast-map fold to a join + re-aggregate")
    assert(!plan.contains("CartesianProduct"))
    // (the single-row model-map attach plans as a constant-size BNLJ,
    // same as s3's centroid attach — not an all-pairs blowup)
  }

  test("d15 assignment stays narrow and its pair join meets on cell, never all-pairs") {
    val plan = finalPlan(SimilarityOps.d15SemDedup(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "d15 pair generation degraded to an all-pairs product")
    assert(!plan.contains("hashpartitioning(vec_id"),
      "cell assignment shuffles the corpus by vec_id — the argmax " +
        "regressed out of the narrow expression-side form")
    assert(plan.contains("hashpartitioning(cell") || plan.contains("BroadcastHashJoin"),
      "within-cell pair join lost its cell equi-key")
    // (the 1-row centroid-array attaches plan as constant-size BNLJs,
    // same as s3/s6 — not an all-pairs blowup)
  }

  test("d11 never forces a broadcast of the cluster side") {
    // cluster membership is corpus-fraction-sized at heavy dup rates
    // (30-50% of a web crawl), so a broadcast() hint on it OOMs the
    // driver at 100 TB. The join must stay unhinted: AQE may still
    // *choose* a broadcast at fixture scale (that shows up only in the
    // physical plan), but the logical plan must carry no forced
    // strategy=broadcast hint on the d10 cluster table.
    val df = DedupOps.d11DedupImpact(spark, sf)
    assert(!df.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "d11 carries a forced broadcast hint — unbounded side would OOM the driver")
  }

  test("the forced-broadcast detector fires on the hinted formulation") {
    val docs = Sources.table(spark, sf, "documents").select("doc_id", "lang")
    val hinted = docs.join(broadcast(docs.select("doc_id")), Seq("doc_id"), "left")
    assert(hinted.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "hinted join lacks strategy=broadcast in the optimized plan — detector cannot fire")
  }

  test("s6 IVF-PQ probes the query's cell with a hash join, never all-pairs") {
    // the composed index must keep s3's probe shape: candidates meet the
    // queries on cell id (broadcast hash join — the query set is small),
    // and the scoring-kernel swap to ADC codes must not change any join
    val plan = finalPlan(SimilarityOps.s6AnnIvfPq(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s6 cell probe is not a broadcast hash join on cell id")
    // (the two 1-row codebook attaches plan as constant-size broadcast
    // nested loops, same as s3's centroid attach — not an all-pairs blowup;
    // a true blowup would show a join keyed on nothing with corpus inputs
    // on BOTH sides, which the cell equi-join assertion above rules out)
  }

  test("s9 rerank keeps the cell probe and fetches floats by equi-join only") {
    // two joins carry the whole operator: the ADC probe on cell id and
    // the exact-float fetch on vec_id — both must be hash joins. The
    // fetch joining corpus-side floats against a Q×R shortlist must not
    // degrade to a nested loop (a second corpus-scan shape at 100 TB).
    val plan = finalPlan(SimilarityOps.s9AnnRerank(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s9 lost its broadcast hash joins (cell probe / shortlist fetch)")
    // (the 1-row codebook/centroid attaches plan as constant-size BNLJs,
    // same as s3/s6 — not an all-pairs blowup)
  }

  test("s8 residual IVF-PQ keeps s6's cell-probe shape") {
    // the residual encode is a narrow map on top of assignment; the
    // search must remain the same equi-join on cell id as s6 — swapping
    // the scoring kernel to residual codes changes no exchange
    val plan = finalPlan(SimilarityOps.s8AnnIvfPqRes(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s8 cell probe is not a broadcast hash join on cell id")
  }

  test("s3 IVF centroid assignment is a narrow map — no corpus exchange by vec_id") {
    // the argmax over centroids must fold expression-side: a regression to
    // the row_number-over-Window formulation exchanges + sorts IvfCells
    // copies of every corpus vector (16 corpus-volumes of network at 100 TB)
    val plan = finalPlan(SimilarityOps.s3AnnIvf(spark, sf))
    assert(!plan.contains("hashpartitioning(vec_id"),
      "assignment stage shuffles the corpus by vec_id — argmax regressed " +
        "to a window/aggregate over the fanned-out candidate rows")
    // (no assertNoBlowupJoin here: attaching the single-row centroid-array
    // frame plans as a 1-row BroadcastNestedLoopJoin — a literal attach,
    // constant-size broadcast, not an all-pairs blowup)
  }

  test("the assignment-exchange detector fires on the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val e = Sources.table(spark, sf, "embeddings")
      .select(col("vec_id"), explode(array(lit(0), lit(1))).as("c_id"))
    val w = Window.partitionBy("vec_id").orderBy(col("c_id"))
    val degraded = e.withColumn("arn", row_number().over(w)).filter(col("arn") === 1)
    assert(staticPlan(degraded).contains("hashpartitioning(vec_id"),
      "window-formulation plan lacks the vec_id exchange — detector cannot fire")
  }

  test("narrow-map ops never hash-shuffle: scan → map → output sort only") {
    // these entries claim "narrow map" in SURVEY §2.5 — the only Exchange
    // allowed is the final orderBy's range partitioning; a
    // hashpartitioning Exchange means a groupBy/join/window crept in
    val narrow = Seq("t1_lang_id", "t2_text_quality", "t3_token_count",
      "t4_fingerprint", "t5_redact", "t8_repetition", "t12_chunking",
      "d6_quantize", "m1_multimodal_meta", "q02_cast_projection",
      "q19_scalar_suite", "q42_date_battery")
    // NOTE the pattern: FormattedMode prints the node as "Exchange (n)"
    // and its arguments ("hashpartitioning(...)") on a separate line, so
    // grepping "Exchange hashpartitioning" matches NOTHING and the lock
    // would be decoration; "hashpartitioning(" is the form that appears
    // (the output sort's Exchange renders as rangepartitioning)
    narrow.foreach { name =>
      val plan = staticPlan(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("hashpartitioning("),
        s"$name claims a narrow map but its plan hash-shuffles")
    }
  }

  test("t10 rule battery is one narrow map + one tiny aggregation exchange") {
    // every rule (incl. the sorted-array fold for max_run) must stay
    // array-side: no Generate (explode), no Join, and exactly one hash
    // exchange — the (lang × source) aggregation; a second exchange means
    // the max-run computation regressed to an explode + re-aggregation
    val plan = staticPlan(graft.ops.TextOps.t10GopherRules(spark, sf))
    assert(!plan.contains("Generate"), "t10 explodes — rules left the array side")
    assert(!plan.contains("Join"), "t10 joins — a rule recomputed via self-join")
    val exchanges = "hashpartitioning\\(".r.findAllIn(plan).length
    assert(exchanges == 1, s"t10 has $exchanges hash exchanges, expected 1")
  }

  test("t13 packing is one shard-key exchange + in-partition sort, no join") {
    // the running sum must window over (source, shard) ONLY: one hash
    // exchange, bounded per-partition sort, no join, no explode — a
    // second hash exchange or a global window means packing stopped
    // being embarrassingly parallel in the shard count
    val plan = staticPlan(graft.ops.TextOps.t13SeqPacking(spark, sf))
    assert(!plan.contains("Join"), "t13 joins — the ledger regressed to a self-join")
    assert(!plan.contains("Generate"), "t13 explodes — tokenize left the array side")
    val exchanges = "hashpartitioning\\(".r.findAllIn(plan).length
    assert(exchanges == 1, s"t13 has $exchanges hash exchanges, expected 1")
    assert(plan.contains("hashpartitioning(source"),
      "t13's window does not partition by the shard key")
  }

  test("t14 mixture sampling joins its rate table by broadcast, corpus unshuffled") {
    // the per-source rate table is |sources| rows; attaching it to the
    // corpus must be a broadcast hash join — a sort-merge join here
    // means the whole corpus shuffles for a 20-row dimension
    val full = finalPlan(graft.ops.TextOps.t14MixSample(spark, sf))
    // AQE's formatted explain appends the pre-adaptive "Initial Plan"
    // (which legitimately carries a SortMergeJoin before runtime stats
    // demote it) — judge only the executed section
    val plan = full.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      "t14 rate attach is not a broadcast hash join")
    assert(!plan.contains("SortMergeJoin"),
      "t14 shuffles the corpus to meet its 20-row rate table")
    assertNoBlowupJoin(plan, "t14")
  }

  test("t11 span mining: no count-distinct Expand, distributed top-k") {
    // n_docs must come from the per-(doc,span) pre-collapse (count(1) on
    // the second aggregate), not a countDistinct Expand; and the limit
    // must plan as a distributed TakeOrderedAndProject
    val plan = staticPlan(graft.ops.TextOps.t11DupSpans(spark, sf))
    assert(!plan.contains("Expand"), "t11 plans an Expand — countDistinct crept in")
    assert(!plan.contains("Join"), "t11 joins — span counting regressed to a self-join")
    assert(plan.contains("TakeOrderedAndProject"),
      "t11 limit is not a distributed TakeOrderedAndProject")
  }

  test("t17 span scrub: every shuffle keyed on span digest or doc_id, no all-pairs") {
    val plan = finalPlan(graft.ops.TextOps.t17SpanScrub(spark, sf))
    assertNoBlowupJoin(plan, "t17")
    // the dup-occurrence join must meet on the span key (AQE may choose
    // to broadcast the dup-span stats side at fixture scale — also fine)
    assert(plan.contains("hashpartitioning(span") || plan.contains("BroadcastHashJoin"),
      "t17 dup-occurrence join lost its span-digest equi-key")
    // the scrub is array arithmetic after the doc_id meet — a per-token
    // coverage join here would be a corpus×W row blowup
    assert(plan.contains("hashpartitioning(doc_id") || plan.contains("BroadcastHashJoin"),
      "t17 range list no longer meets its documents on doc_id")
  }

  test("d17 prototype pruning: narrow assignment, one cell exchange, no pair term") {
    val plan = finalPlan(SimilarityOps.d17ProtoPrune(spark, sf))
    assert(!plan.contains("hashpartitioning(vec_id"),
      "d17 assignment shuffles the corpus by vec_id — the argmax " +
        "regressed out of the narrow expression-side form")
    assert(plan.contains("hashpartitioning(cell"),
      "d17 rank/count windows lost their cell exchange key")
    // unlike d15/d16 there is NO pairwise term: any real join here means
    // the linear rank form regressed to a pair generation
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "d17 plans a corpus join — the linear window form regressed")
    assert(!plan.contains("CartesianProduct"))
    // (the 1-row centroid-array attach plans as a constant-size BNLJ,
    // same as d15/s3 — not an all-pairs blowup)
  }

  /** The gates this CollectLimit sweep skips so as not to re-run their
    * replays. */
  private val StreamingGates: Set[String] = Set(
    "q07_tumbling_window", "q08_sliding_window", "q09_session_window",
    "q24_stream_score", "q37_stream_join", "q38_static_enrich",
    "d12_stream_minhash", "s11_stream_ann_ingest",
    "s12_stream_ann_delete", "s13_ann_compact", "s14_ann_partial_compact",
    "s15_stream_ann_multiprobe", "s16_stream_ann_upsert",
    "s20_stream_radius_alert",
    "p2_stream_funnel", "p3_full_funnel", "p6_incremental_export",
    "x8_stream_sketch", "x9_stream_quantile", "x10_stream_cms",
    "x11_stream_window_quantile", "x12_stream_window_distinct",
    "x13_stream_window_cms", "x15_stream_drift", "x16_stream_topk",
    "x17_stream_growth", "x18_retention_vacuum", "x19_late_ledger")

  test("no gate query plans a mid-pipeline CollectLimit") {
    // static check: CollectLimit appears in the physical plan before
    // execution too, and this sweep covers every entry without re-running
    // the streaming replays. q21's LIMIT must plan as TakeOrderedAndProject
    // (distributed top-k), not a collect-to-driver.
    SparkEntry.queries.filterNot(kv => StreamingGates(kv._1)).foreach { case (name, fn) =>
      val plan = staticPlan(fn(spark, sf))
      assert(!plan.contains("CollectLimit"),
        s"$name plans a CollectLimit — result funnels through the driver")
    }
  }

  test("the blowup-join detector actually fires on a degraded plan") {
    // deliberately-broken variants: the properties above must be able to
    // fail, or the suite is decoration.
    val e = Sources.table(spark, sf, "events").select("event_id")
    val cross = e.as("a").crossJoin(e.as("b"))
    assertThrows[org.scalatest.exceptions.TestFailedException] {
      assertNoBlowupJoin(staticPlan(cross), "cross")
    }
    // and the broadcast property: same join, hint removed, broadcast off
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val orders = Sources.table(child, sf, "orders")
    val customer = Sources.table(child, sf, "customer")
    val unhinted = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val plan = staticPlan(unhinted)
    assert(!plan.contains("BroadcastHashJoin"),
      "threshold off + no hint should not broadcast — detector cannot fire")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
  }

  test("p4 packing joins stay bounded: no blowup join, shard exchange keyed on (source, shard)") {
    // the export composite must add exactly one exchange class to p1's
    // audited funnel — the (source, shard) hash for the per-shard pack —
    // and must never degrade a keep-decision join to all-pairs
    import graft.ops.PipelineOps
    val plan = finalPlan(PipelineOps.p4CuratePack(spark, sf))
    assertNoBlowupJoin(plan, "p4")
    assert(plan.contains("hashpartitioning(source") ||
      plan.contains("hashpartitioning(shard"),
      "packing lost its (source, shard) exchange — per-shard concat would be global")
  }

  test("p6 pack carries p4's shard bound: one exchange keyed on (batch, source, shard)") {
    // the per-batch pack and the from-scratch twin share the SAME
    // packShards stage (IncrementalExport.packShards), so locking the
    // twin's plan locks the streaming path's pack too: the group key
    // must include the ShardDocs shard — without it, one source's whole
    // batch concatenates in a single task (the r10 scale-killer)
    val plan = finalPlan(graft.streaming.IncrementalExport.p6BatchTwin(spark, sf))
    assertNoBlowupJoin(plan, "p6")
    assert("hashpartitioning\\(batch_id[^)]*shard".r.findFirstIn(plan).isDefined,
      "p6 pack exchange lost its shard key — a (batch, source) group is unbounded")
  }

  test("s18 filtered probe keeps s3's equi-join shape — the tenant key adds no blowup") {
    // filtered vector search must stay candidate generation by equi-join:
    // the metadata predicate rides the (cell, tenant) join key, it never
    // degrades the probe to a filtered cross product. The probe itself
    // must be a hash join keyed on cell AND tenant (the 1-row codebook
    // attach plans as a constant-size broadcast nested loop, same as
    // s3's centroid attach — not a blowup).
    val plan = finalPlan(SimilarityOps.s18AnnFiltered(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s18 probe is not a broadcast hash join")
    assert(plan.contains("cell") && plan.contains("tenant"),
      "probe join keys lost cell/tenant")
    assert(!plan.contains("CartesianProduct"), "s18 plan contains CartesianProduct")
  }

  test("s28 hier filtered probe keeps the (cell, tenant) equi-join shape under the two-level codebook") {
    // the hier twin of the s18 lock: the tenant predicate must ride the
    // candidate join key (cutting probe work), never become a
    // post-filter on a wider join; the 1-row codebook attach plans as a
    // constant-size BNLJ (s3's centroid-attach class), so only a
    // CartesianProduct is a blowup here
    val plan = finalPlan(SimilarityOps.s28HierFiltered(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s28 probe is not a broadcast hash join")
    assert(plan.contains("cell") && plan.contains("tenant"),
      "probe join keys lost cell/tenant")
    assert(!plan.contains("CartesianProduct"), "s28 plan contains CartesianProduct")
  }

  test("s29 hier radius probe: hash join with a fused threshold, NO rank exchange") {
    // s19's structural saving must survive the quantizer swap: the
    // threshold fuses into the join output, so no Window — and with it
    // no q_id exchange + sort — appears anywhere in the plan
    val plan = finalPlan(SimilarityOps.s29HierRadius(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s29 probe is not a broadcast hash join")
    assert(!plan.contains("CartesianProduct"), "s29 plan contains CartesianProduct")
    assert(!plan.contains("Window"),
      "s29 plan contains a Window — the radius read must not pay the top-k rank machinery")
  }

  test("m13/m14 perceptual near-dup chains: every join an equi-join, never all-pairs") {
    // both codec families' fingerprint dedups are the d3/d5 discipline
    // on binary columns: band explode → df-capped (band, value)
    // equi-join → fingerprint fetch by id — a blowup join anywhere
    // means candidate generation degraded to all-pairs over the corpus
    assertNoBlowupJoin(
      finalPlan(graft.ops.MultimodalOps.m13BmpNearDup(spark, sf)), "m13")
    assertNoBlowupJoin(
      finalPlan(graft.ops.MultimodalOps.m14WavNearDup(spark, sf)), "m14")
  }

  test("s19 radius probe is s3's hash join with NO rank exchange after it") {
    // the radius read's scale advantage over top-k is structural: the
    // threshold is a filter fused into the join output, so the per-query
    // rank Window — and the q_id exchange + sort it costs at scale —
    // must be absent from the plan entirely
    val plan = finalPlan(SimilarityOps.s19AnnRadius(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "s19 probe is not a broadcast hash join")
    assert(!plan.contains("CartesianProduct"), "s19 plan contains CartesianProduct")
    assert(!plan.contains("Window"),
      "s19 plan contains a Window — the radius read must not pay the top-k rank machinery")
  }

  test("s21 bulk probe: two-sided shuffle-hash cell join, no query broadcast, no rank window") {
    // batch retrieval's defining constraint: NEITHER vector side may
    // broadcast (the query set is the corpus). The candidate join must
    // be a ShuffledHashJoin keyed on cell; the only broadcast machinery
    // allowed is the single-row centroid-array attach (a constant-size
    // BNLJ, same as s3). The top-1 read must be the partial-aggregated
    // struct max — a per-query rank Window would re-exchange and sort
    // the full pair set by q_id.
    val plan = finalPlan(SimilarityOps.s21AnnBulkProbe(spark, sf))
    assert(plan.contains("ShuffledHashJoin"),
      "s21 cell join is not a ShuffledHashJoin — the hint was lost")
    assert(!plan.contains("BroadcastHashJoin"),
      "s21 broadcasts a vector side — impossible at corpus-scale query sets")
    assert(!plan.contains("CartesianProduct"), "s21 plan contains CartesianProduct")
    assert(!plan.contains("Window"),
      "s21 plans a Window — top-1 must fold map-side, not rank the pair set")
    assert(plan.contains("partial_max"),
      "s21 top-1 lost its map-side partial aggregation")
    assert(!plan.contains("hashpartitioning(vec_id"),
      "s21 assignment shuffles the corpus by vec_id — argmax left the narrow form")
  }

  test("s21 bulk top-k: same two-sided join discipline, bounded k-slot fold instead of max") {
    // widening top-1 to top-k must not re-admit the machinery the top-1
    // read banned: still a ShuffledHashJoin on cell, still no broadcast
    // of a vector side, still NO Window — and the read must be the
    // bounded graft_topk fold with its map-side partial present (the
    // k-per-query exchange), never collect_list (unbounded buffer) or a
    // rank window (full pair-set exchange + sort)
    val plan = finalPlan(SimilarityOps.s21AnnBulkTopK(spark, sf))
    assert(plan.contains("ShuffledHashJoin"),
      "s21-topk cell join is not a ShuffledHashJoin — the hint was lost")
    assert(!plan.contains("BroadcastHashJoin"),
      "s21-topk broadcasts a vector side — impossible at corpus-scale query sets")
    assert(!plan.contains("CartesianProduct"), "s21-topk plan contains CartesianProduct")
    assert(!plan.contains("Window"),
      "s21-topk plans a Window — top-k must fold map-side, not rank the pair set")
    assert(plan.contains("partial_graft_topk"),
      "s21-topk lost its map-side partial aggregation — the q_id exchange " +
        "would move one row per candidate pair instead of k per query")
    // collect_list is allowed ONLY in the 16-row centroid-array build
    // (the kilobyte broadcast literal); the per-query read must never
    // use it — its buffer would hold a dense cell's whole candidate
    // list. The q_id grouping is the one keyed on q_id.
    assert(!plan.contains("collect_list(struct(c"),
      "s21-topk's per-query read uses collect_list — unbounded aggregation state")
    assert(!plan.contains("hashpartitioning(vec_id"),
      "s21-topk assignment shuffles the corpus by vec_id — argmax left the narrow form")
  }

  test("s22 hierarchical assignment stays narrow: two folds, no corpus exchange, s3's probe join") {
    // the whole point of the two-level quantizer is CHEAPER assignment
    // with the same plan class: both argmax levels must fold
    // expression-side over the one broadcast nested literal (no vec_id
    // exchange — the s3 regression detector applies), and the probe
    // must remain the broadcast hash join on cell (the tiny group-mean
    // codebook build may shuffle its 16 seed rows; the corpus may not)
    val plan = finalPlan(SimilarityOps.s22AnnHier(spark, sf))
    assert(!plan.contains("hashpartitioning(vec_id"),
      "s22 assignment shuffles the corpus by vec_id — a fold regressed to a window/agg")
    assert(plan.contains("BroadcastHashJoin"),
      "s22 cell probe is not a broadcast hash join")
    assert(!plan.contains("CartesianProduct"), "s22 plan contains CartesianProduct")
  }

  test("s26 hier retrain: the M-step is the only corpus-keyed exchange, both sweeps stay narrow") {
    // the retrain's cost claim: re-indexing is an assignment SWEEP, not
    // a data rewrite — the gen-0 and gen-1 two-level assignments must
    // both fold expression-side (no vec_id exchange, s22's detector),
    // the one corpus-sized exchange is the M-step's (cell, i) partial
    // aggregate (map-side combined to cells × dims rows), and the probe
    // keeps the broadcast hash join on cell
    val plan = finalPlan(SimilarityOps.s26HierRetrain(spark, sf))
    assert(!plan.contains("hashpartitioning(vec_id"),
      "s26 assignment shuffles the corpus by vec_id — a fold regressed to a window/agg")
    assert(plan.contains("hashpartitioning(cell, i") ||
      plan.contains("hashpartitioning(cell#"),
      "s26 plan lost the M-step's (cell, dim) partial aggregate exchange")
    assert(plan.contains("BroadcastHashJoin"),
      "s26 cell probe is not a broadcast hash join")
    assert(!plan.contains("CartesianProduct"), "s26 plan contains CartesianProduct")
  }

  test("d18 hier semdedup keeps d15's shape: narrow two-fold assignment, pair join on cell") {
    val plan = finalPlan(SimilarityOps.d18SemDedupHier(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "d18 pair generation degraded to an all-pairs product")
    assert(!plan.contains("hashpartitioning(vec_id"),
      "d18 assignment shuffles the corpus by vec_id — a fold regressed")
    assert(plan.contains("hashpartitioning(cell") || plan.contains("BroadcastHashJoin"),
      "d18 within-cell pair join lost its cell equi-key")
  }

  test("p5 reshuffle is one oshard exchange — no global sort, no rank window") {
    // the training-order shuffle must hash-partition (shard = hash mod
    // OutShards), never rank round-robin: a global rank would need a
    // total order over the corpus (one all-data sort + a single-partition
    // window). The only wide exchange is the oshard hash partition.
    val df = graft.ops.PipelineOps.p5ShuffleShard(spark, sf)
    val plan = finalPlan(df)
    assertNoBlowupJoin(plan, "p5")
    assert(plan.contains("hashpartitioning(oshard"),
      "reshuffle lost its oshard hash exchange — per-shard packing would be global")
    // the funnel's norm_key window is inherent (exact-dup keep-one); what
    // must NOT appear is rank machinery over the hash order — a
    // round-robin-by-rank implementation would row_number the whole
    // corpus in one partition
    assert(!plan.contains("row_number"),
      "p5 plan ranks rows — shard assignment degraded to a global rank")
    assert(!plan.contains("rangepartitioning(u"),
      "p5 plan globally sorts the corpus by hash — assignment must be a narrow map")
    // the pack digest's buffer pin: every collect_list that gathers the
    // packed TEXT (the struct carrying doc_id) must be keyed by the
    // u-range sub-bucket too — a flat per-oshard collect would hold
    // corpus/OutShards full documents in one aggregation buffer
    val textCollects = finalPlanLines(df)
      .filter(l => l.contains("collect_list") && l.contains("doc_id#"))
    assert(textCollects.nonEmpty, "p5 plan lost the packed-text sub-digest collect entirely")
    textCollects.foreach(l =>
      assert("keys=\\[oshard#\\d+L?, sbucket#".r.findFirstIn(l).nonEmpty,
        s"p5 collects packed text at a non-bucket grain — shard-sized buffer is back: $l"))
  }

  test("p8 mixture sample: two-level prefix sum — (source, bucket) exchange, no skewed per-source window") {
    // the scale mechanism under the balanced-mixture sampler: the
    // running token total must NOT be one window per source (a handful
    // of huge partitions at 100 TB); the plan must carry the
    // (source, bucket) hash exchange of the two-level prefix sum and
    // never a corpus-wide range sort on the preference hash
    val df = graft.ops.PipelineOps.p8MixtureSample(spark, sf)
    val plan = finalPlan(df)
    // the budget attach is the documented single-row broadcast pattern
    // (one BroadcastNestedLoopJoin over ONE row — the s22 codebook
    // convention), so only the all-pairs product is banned here
    assert(!plan.contains("CartesianProduct"), "p8 plan contains CartesianProduct")
    // the combined key must appear in one exchange — `source` alone
    // also appears in the final ledger aggregation's exchange, so the
    // two-substring form would pass even after a regression to the
    // per-source window
    assert("hashpartitioning\\(source#\\d+, bucket#".r.findFirstIn(plan).nonEmpty,
      "p8 lost the (source, bucket) exchange — the prefix sum regressed to per-source windows")
    assert(!plan.contains("rangepartitioning(u"),
      "p8 plan globally range-sorts the corpus by the preference hash")
    // the digest-buffer pin: every collect_list that gathers kept
    // doc_ids must be keyed by the u-range bucket too — a per-source
    // collect of kept ids is the corpus-proportional aggregation buffer
    // (billions of ids in one executor's state at 100 TB); the only
    // per-source collect allowed is the bounded sub-digest fold, which
    // never touches doc_id
    val idCollects = finalPlanLines(df)
      .filter(l => l.contains("collect_list") && l.contains("doc_id#"))
    assert(idCollects.nonEmpty, "p8 plan lost the kept-id sub-digest collect entirely")
    idCollects.foreach(l =>
      assert("keys=\\[source#\\d+, bucket#".r.findFirstIn(l).nonEmpty,
        s"p8 collects kept doc_ids at a non-bucket grain — corpus-proportional buffer is back: $l"))
  }

  test("p9 weighted mixture keeps p8's scale shape: budget attach is a broadcast equi-join") {
    // p9 shares p8's machinery; what the weight table must NOT add is a
    // new corpus-keyed exchange — budgets ride in on a broadcast
    // equi-join of the sources-sized frame, and the digest stays at
    // (source, bucket) grain
    val df = graft.ops.PipelineOps.p9WeightedMixture(spark, sf)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"), "p9 plan contains CartesianProduct")
    assert("hashpartitioning\\(source#\\d+, bucket#".r.findFirstIn(plan).nonEmpty,
      "p9 lost the (source, bucket) exchange — the prefix sum regressed to per-source windows")
    assert(!plan.contains("rangepartitioning(u"),
      "p9 plan globally range-sorts the corpus by the preference hash")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "p9 budget attach is not a broadcast — the sources-sized frame got shuffled wide")
    val idCollects = finalPlanLines(df)
      .filter(l => l.contains("collect_list") && l.contains("doc_id#"))
    assert(idCollects.nonEmpty, "p9 plan lost the kept-id sub-digest collect entirely")
    idCollects.foreach(l =>
      assert("keys=\\[source#\\d+, bucket#".r.findFirstIn(l).nonEmpty,
        s"p9 collects kept doc_ids at a non-bucket grain — corpus-proportional buffer is back: $l"))
  }

  test("p10 sampled export: the composed chain adds no blowup join and keeps the sampler's exchange") {
    // the composition must inherit its parts' shapes: the funnel's
    // digest-keyed joins (no all-pairs anywhere), the sampler's
    // (source, bucket) prefix-sum exchange, and p4's ShardDocs-bounded
    // pack — with no corpus-wide range sort sneaking in between
    val plan = finalPlan(graft.ops.PipelineOps.p10SampledExport(spark, sf))
    assert(!plan.contains("CartesianProduct"), "p10 plan contains CartesianProduct")
    assert("hashpartitioning\\(source#\\d+, bucket#".r.findFirstIn(plan).nonEmpty,
      "p10 lost the sampler's (source, bucket) exchange")
    assert(!plan.contains("rangepartitioning(u"),
      "p10 plan globally range-sorts the corpus by the preference hash")
  }

  test("p15 sampled shuffle: the composed chain keeps the sampler's exchange AND p5's shard shape") {
    // the training-order composition must inherit BOTH parents' scale
    // shapes: p10's sampler exchange with no blowup joins, and p5's
    // one-oshard-exchange reshuffle with no rank machinery and the
    // packed-text collect pinned at the sub-bucket grain
    val df = graft.ops.PipelineOps.p15SampledShuffle(spark, sf)
    val plan = finalPlan(df)
    // the sampler's largest-feasible budget rides a ONE-ROW broadcast
    // attach (a BroadcastNestedLoopJoin by construction, p8/p10's
    // documented shape), so the blowup assertion is CartesianProduct
    // only — p10's lock, verbatim
    assert(!plan.contains("CartesianProduct"), "p15 plan contains CartesianProduct")
    assert("hashpartitioning\\(source#\\d+, bucket#".r.findFirstIn(plan).nonEmpty,
      "p15 lost the sampler's (source, bucket) exchange")
    assert(plan.contains("hashpartitioning(oshard"),
      "p15 lost the reshuffle's oshard hash exchange")
    assert(!plan.contains("rangepartitioning(u"),
      "p15 plan globally sorts the corpus by the preference hash")
    val textCollects = finalPlanLines(df)
      .filter(l => l.contains("collect_list") && l.contains("doc_id#"))
    assert(textCollects.nonEmpty, "p15 plan lost the packed-text sub-digest collect entirely")
    textCollects.foreach(l =>
      assert("keys=\\[oshard#\\d+L?, sbucket#".r.findFirstIn(l).nonEmpty,
        s"p15 collects packed text at a non-bucket grain — shard-sized buffer is back: $l"))
  }

  test("AQE splits a skewed join partition at runtime (the second skew lever)") {
    // q35's salting is the PLANNED answer to skew; this locks the RUNTIME
    // one — on a hot key the engine's AQE config must actually rewrite
    // the shuffled join with skew-split partitions (OptimizeSkewedJoin),
    // visible as `skew=true` on the join node of the final adaptive
    // plan. Thresholds are lowered to let a megabyte-scale fixture
    // cross them (sizes are COMPRESSED shuffle bytes — the repetitive
    // fixture payload shrinks ~50×, which is why the threshold here is
    // kilobytes); at production sizes the defaults (256 MB) play the
    // same role. If this stops firing, a hot key once again pins one
    // reducer at 100 TB while the rest of the cluster idles.
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.conf.set("spark.sql.adaptive.enabled", "true")
    child.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    child.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    child.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    child.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import child.implicits._
    // one hot key carrying ~90% of the rows, padded to real bytes
    val hot = child.range(200000)
      .select(when(col("id") % 10 === 0, col("id")).otherwise(lit(0L)).as("k"),
        concat(lit("x"), col("id").cast("string"), lit("y" * 64)).as("payload"))
    val dim = child.range(200)
      .select(col("id").as("k"), concat(lit("d"), col("id").cast("string")).as("dv"))
    // no keyed operator downstream of the join: an agg on the join key
    // would REUSE the join's hash partitioning and legitimately veto the
    // split (splitting breaks the partitioning contract) — the global
    // count has no such requirement
    val joined = hot.join(dim, Seq("k")).agg(count(lit(1)).as("cnt"))
    joined.collect()
    val plan = joined.queryExecution.explainString(FormattedMode)
    assert(plan.contains("skew=true"),
      "AQE did not skew-split the hot partition — the runtime skew lever is dead")
    assert(plan.contains("AQEShuffleRead"),
      "no runtime shuffle-read rewrite in the final plan")
  }
}
