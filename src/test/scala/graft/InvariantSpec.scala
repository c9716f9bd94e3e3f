package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.ops._

/** Cross-query invariants (SURVEY.md §5.2#4): structural laws that must
  * hold for any input, checked over the sf0.001 fixture. */
class InvariantSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val nEvents = Sources.table(spark, sf, "events").count()
  private lazy val nDocs = Sources.table(spark, sf, "documents").count()
  private lazy val nCustomers = Sources.table(spark, sf, "customer").count()

  test("q05 topk-other buckets partition all events") {
    val total = Relational.q05TopkOther(spark, sf)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == nEvents)
  }

  test("q03 class shares sum to 1") {
    val s = Relational.q03ClassShare(spark, sf)
      .agg(sum("share")).collect()(0).getDouble(0)
    assert(math.abs(s - 1.0) < 1e-3)
  }

  test("q06 percentages sum to 100 within each event_type") {
    val bad = Relational.q06TwoDimPct(spark, sf)
      .groupBy("event_type").agg(sum("pct").as("s"))
      .filter(abs(col("s") - 100.0) > 0.01)
    assert(bad.count() == 0)
  }

  test("q07 tumbling windows partition all events") {
    val total = Windowed.q07Tumbling(spark, sf)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == nEvents)
  }

  test("q09 session event counts partition all events") {
    val total = Windowed.q09Sessions(spark, sf)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == nEvents)
  }

  test("q13 semi + anti partitions the customer table") {
    val total = Relational.q13SemiAnti(spark, sf)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == nCustomers)
  }

  test("q14 emits at most 2 ranks per customer, ranks in {1,2}") {
    val df = Relational.q14RankInGroup(spark, sf)
    assert(df.filter(!col("rn").isin(1L, 2L)).count() == 0)
    assert(df.groupBy("o_custkey").count().filter(col("count") > 2).count() == 0)
  }

  test("d1 dedup groups partition the documents table (idempotence)") {
    val d1 = DedupOps.d1Exact(spark, sf)
    assert(d1.agg(sum("dup_cnt")).collect()(0).getLong(0) == nDocs)
    // idempotent: dedup of the survivors finds no further duplicates
    assert(d1.filter(col("dup_cnt") < 1).count() == 0)
  }

  test("d3 candidates verify within the declared Jaccard band") {
    val bad = DedupOps.d3MinhashLsh(spark, sf)
      .filter(col("jaccard") < 0.7 || col("jaccard") > 1.0)
    assert(bad.count() == 0)
  }

  test("d5 pairs are ordered and above the cosine floor") {
    val df = graft.ops.SimilarityOps.d5EmbedNearDup(spark, sf)
    assert(df.filter(col("a_id") >= col("b_id")).count() == 0)
    assert(df.filter(col("cos_sim") < 0.4).count() == 0)
  }

  test("q22 returns exactly 5 ranked neighbours per query vector") {
    val df = SimilarityOps.q22KnnCosine(spark, sf)
    val perQ = df.groupBy("q_id").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(perQ.filter(col("n") =!= 5 || col("mx") =!= 5).count() == 0)
  }

  test("t3 BPE-ish tokens are at least as many as whitespace tokens") {
    val bad = TextOps.t3TokenCount(spark, sf)
      .filter(col("bpe_tokens") < col("ws_tokens"))
    assert(bad.count() == 0)
  }

  test("q18 set-op cardinality laws: |A| = except + intersect") {
    val m = Relational.q18SetOps(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val clickUsers = Sources.table(spark, sf, "events")
      .filter(col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(m("except") + m("intersect") == clickUsers)
    assert(m("union") >= m("intersect"))
  }

  test("q25 as-of: matched click precedes its purchase, same user") {
    val df = Relational.q25AsofJoin(spark, sf).filter(col("click_id").isNotNull)
    assert(df.filter(col("ts_c") > col("ts_p")).count() == 0)
    assert(df.filter(col("lag_sec") < 0).count() == 0)
  }

  test("q26 range join never exceeds the plain equi-join row count") {
    val ranged = Relational.q26RangeJoin(spark, sf)
      .agg(sum("n_items")).collect()(0).getLong(0)
    val full = Sources.table(spark, sf, "lineitem")
      .join(Sources.table(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(ranged <= full && ranged > 0)
  }

  test("q17 approx_count_distinct variant tracks the exact counts within 5%") {
    val exact = Relational.q17DistinctExact(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Sources.table(spark, sf, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct("user_id").as("dusers"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex).toDouble / ex <= 0.05,
        s"$k: approx ${approx(k)} vs exact $ex")
    }
  }

  test("t5 regex dialect agrees with the oracle's RE2 on synthetic cases") {
    // fixture text contains no emails/long numbers, so the gate pass is
    // vacuous for the patterns; these expectations were computed with
    // DuckDB's RE2 — Spark (Java regex) must produce the same answers
    import spark.implicits._
    val rows = Seq(
      "contact john.doe+spam@ex-ample.co.uk thanks" -> (1L, 0L, "contact <EMAIL> thanks"),
      "card 1234567890 pin 12345" -> (0L, 1L, "card <NUM> pin 12345"),
      "a@b.c" -> (0L, 0L, "a@b.c"),
      "x@y.io and z@w.org" -> (2L, 0L, "<EMAIL> and <EMAIL>"),
      "user123456@mail.com" -> (1L, 1L, "<EMAIL>"),
      "no matches here" -> (0L, 0L, "no matches here"))
    val df = rows.map(_._1).toDF("text")
      .select(col("text"),
        size(regexp_extract_all(col("text"), lit(TextOps.EmailRe), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(col("text"), lit(TextOps.LongNumRe), lit(0))).cast("long").as("n"),
        regexp_replace(regexp_replace(col("text"), TextOps.EmailRe, "<EMAIL>"),
          TextOps.LongNumRe, "<NUM>").as("red"))
    val got = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    rows.foreach { case (text, expected) =>
      assert(got(text) == expected, s"dialect divergence on: $text")
    }
  }

  test("t6 CMS estimates dominate exact counts (one-sided error)") {
    val df = TextOps.t6CmsHeavyHitters(spark, sf)
    assert(df.count() == 20)
    assert(df.filter(col("cms_est") < col("cnt")).count() == 0)
  }

  test("t8 repetition ratios are consistent: 0 ≤ dup_ratio ≤ 1, uniq ≤ total") {
    val df = TextOps.t8Repetition(spark, sf)
    assert(df.count() > 0)
    assert(df.filter(col("n_uniq_tri") > col("n_tri") || col("n_uniq_tri") < 1).count() == 0)
    assert(df.filter(col("dup_ratio") < 0.0 || col("dup_ratio") > 1.0).count() == 0)
  }

  test("d8 contamination never reports an eval doc, and hits imply shared grams") {
    val df = DedupOps.d8Decontamination(spark, sf)
    assert(df.filter(col("doc_id") % DedupOps.EvalMod === 0).count() == 0)
    assert(df.filter(col("n_eval_docs") < 1 || col("n_shared_grams") < 1).count() == 0)
    // a doc can't collide with more eval docs than it has shared grams
    assert(df.filter(col("n_eval_docs") > col("n_shared_grams")).count() == 0)
  }

  test("d14 bloom-prefiltered decontamination ≡ d8 exactly (FPs never surface)") {
    // the bloom prefilter may pass false-positive grams, but the exact
    // verify join behind it must drop every one — row-for-row equality
    // with d8 is the whole contract
    val d8 = DedupOps.d8Decontamination(spark, sf).collect().toSeq
    val d14 = DedupOps.d14BloomDecontamination(spark, sf).collect().toSeq
    assert(d8.nonEmpty, "fixture has no contamination — equality would be vacuous")
    assert(d14 == d8)
  }

  test("d9 banding is complete: output equals brute-force hamming ≤ 3") {
    // the pigeonhole claim (≤3 differing bits over 4 disjoint bytes leave
    // one byte equal) makes the banded candidate stage EXACT — provable
    // by brute force over the small fixture's fingerprints
    val fps = DedupOps.d4Simhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = (for {
      (a, sa) <- fps; (b, sb) <- fps if a < b
      d = sa.zip(sb).count(t => t._1 != t._2) if d <= DedupOps.SimhashMaxDist
    } yield (a, b, d.toLong)).toSet
    val got = DedupOps.d9SimhashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture produced no close pairs — test is vacuous")
  }

  test("d10 clusters reproduce brute-force union-find over the d3 pairs") {
    val pairs = DedupOps.d3MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture produced no near-dup pairs — test is vacuous")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = nodes.map(n => n -> find(n)).toMap
    val sizes = expect.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = DedupOps.d10DupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(g => g._1 -> g._2).toMap == expect)
    assert(got.forall(g => g._3 == sizes(g._2)))
    // canonical survivor: the cluster id is a member of its own cluster
    assert(got.filter(g => g._1 == g._2).map(_._2).toSet == expect.values.toSet)
  }

  test("p1 funnel partitions every document exactly once") {
    val df = PipelineOps.p1PipelineLedger(spark, sf)
    // stages are mutually exclusive and exhaustive: they sum to n_docs
    val bad = df.filter(
      col("n_eval") + col("n_fail_quality") + col("n_exact_dup") +
        col("n_near_dup") + col("n_contam") + col("n_kept") =!= col("n_docs"))
    assert(bad.count() == 0)
    assert(df.agg(sum("n_docs")).collect()(0).getLong(0) == nDocs)
    // the funnel must tie to the standalone gates it claims to compose:
    // quality failures = gopherPerDoc's per-doc verdicts restricted to
    // non-eval docs (empty docs fail; eval docs leave the funnel first,
    // so their failures count as n_eval, not n_fail_quality); near-dup
    // drops ≤ d10's non-canonical members (p1 only drops among quality
    // survivors)
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val expFail = docs.select("doc_id")
      .join(
        TextOps.gopherPerDoc(docs).select(col("doc_id"),
          (col("r_wc") && col("r_mean") && col("r_stop") && col("r_top")).as("q")),
        Seq("doc_id"), "left")
      .filter(col("doc_id") % DedupOps.EvalMod =!= 0 && !coalesce(col("q"), lit(false)))
      .count()
    val p1 = df.agg(sum("n_fail_quality"), sum("n_near_dup"), sum("n_kept"))
      .collect()(0)
    assert(p1.getLong(0) == expFail)
    val d10Drop = DedupOps.d10DupClusters(spark, sf)
      .filter(col("doc_id") =!= col("cluster_id")).count()
    assert(p1.getLong(1) <= d10Drop)
    assert(p1.getLong(2) > 0, "pipeline kept nothing — fixture degenerate")
  }

  test("t16 familiarity: per-doc floor holds and the total is the model's sum of squared counts") {
    val df = TextOps.t16CharLmScore(spark, sf)
    // each scored bigram's corpus count includes its own occurrence
    assert(df.filter(col("familiarity") < col("n_bigrams")).count() == 0)
    // independent model recomputation: summing familiarity over all docs
    // groups cnt_g instances of gram g, each scoring cnt_g — Σ cnt_g²
    val grams = Sources.table(spark, sf, "documents")
      .select(regexp_replace(lower(col("text")), "[^a-z ]", "").as("norm"))
      .filter(length(col("norm")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("norm")) - 1),
        i => col("norm").substr(i, lit(2)))).as("g"))
    val agg = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")), sum(col("cnt") * col("cnt"))).collect()(0)
    val mine = df.agg(sum("n_bigrams"), sum("familiarity")).collect()(0)
    assert(mine.getLong(0) == agg.getLong(0))
    assert(mine.getLong(1) == agg.getLong(1))
  }

  test("d15 semdedup ledger partitions every vector; every cell keeps a survivor") {
    val df = SimilarityOps.d15SemDedup(spark, sf)
    assert(df.filter(col("n_dropped") + col("n_kept") =!= col("n_vecs")).count() == 0)
    // the pairwise rule drops the MORE-central member, so each duplicate
    // component's least-central vector never loses a pair — ≥1 survivor
    assert(df.filter(col("n_kept") < 1).count() == 0)
    assert(df.filter(col("n_dropped") > col("n_pairs")).count() == 0)
    val nVec = Sources.table(spark, sf, "embeddings").count()
    assert(df.agg(sum("n_vecs")).collect()(0).getLong(0) == nVec)
    assert(df.agg(sum("n_pairs")).collect()(0).getLong(0) > 0,
      "fixture has no within-cell semantic dups — degenerate")
  }

  test("d16 components: one survivor per cluster; the component rule bounds the pairwise rule") {
    val df = SimilarityOps.d16SemClusters(spark, sf)
    val per = df.groupBy("cluster_id").agg(
      sum(when(col("kept"), 1L).otherwise(0L)).as("nk"),
      count(lit(1)).as("n"), first("cluster_size").as("cs"))
    assert(per.filter(col("nk") =!= 1L).count() == 0,
      "a cluster kept zero or multiple representatives")
    assert(per.filter(col("n") =!= col("cs")).count() == 0)
    // pairwise d15 never drops a component's least-central member and
    // only drops component members, so component drops dominate
    val d16Drops = df.filter(!col("kept")).count()
    val d15Drops = SimilarityOps.d15SemDedup(spark, sf)
      .agg(sum("n_dropped")).collect()(0).getLong(0)
    assert(d16Drops >= d15Drops)
    assert(df.count() > 0, "no semantic clusters on the fixture — degenerate")
  }

  test("p3 online funnel partitions every document exactly once, ties to p1 on the fixture") {
    val df = graft.streaming.FullFunnel.p3StreamFunnel(spark, sf)
    val bad = df.filter(
      col("n_eval") + col("n_fail_quality") + col("n_exact_dup") +
        col("n_near_dup") + col("n_contam") + col("n_kept") =!= col("n_docs"))
    assert(bad.count() == 0)
    assert(df.agg(sum("n_docs")).collect()(0).getLong(0) == nDocs)
    // first-arrival near-drops can never exceed the global keep-one
    // drops (every direct-collision victim is a non-canonical member)
    val d10Drop = DedupOps.d10DupClusters(spark, sf)
      .filter(col("doc_id") =!= col("cluster_id")).count()
    val agg = df.agg(sum("n_near_dup"), sum("n_kept")).collect()(0)
    assert(agg.getLong(0) <= d10Drop)
    assert(agg.getLong(1) > 0, "online funnel kept nothing — fixture degenerate")
  }

  test("t15 overlap matrix: full pair triangle, intersections bounded, jaccard in [0,1]") {
    val df = TextOps.t15SourceOverlap(spark, sf)
    val nSources = Sources.table(spark, sf, "documents")
      .select("source").distinct().count()
    assert(df.count() == nSources * (nSources - 1) / 2)
    assert(df.filter(col("n_shared") > least(col("n_grams_a"), col("n_grams_b"))).count() == 0)
    assert(df.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    // a source's gram-set size is one number, whatever row it appears in
    val szs = df.select(col("source_a").as("s"), col("n_grams_a").as("n"))
      .unionByName(df.select(col("source_b").as("s"), col("n_grams_b").as("n")))
      .distinct().groupBy("s").count()
    assert(szs.filter(col("count") =!= 1).count() == 0)
  }

  test("connectedComponents flattens a 1000-node path within the log-round cap") {
    // diameter 999: min-label propagation would need 999 rounds and trip
    // MaxClusterIters (32); the large-star/small-star contraction must
    // land the whole chain in one cluster labelled by node 0 well inside
    // the cap — this is the chained-cluster (templated-page) pathology
    import spark.implicits._
    val path = spark.range(999).select(col("id").as("a"), (col("id") + 1).as("b"))
    val labels = DedupOps.connectedComponents(path)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 1000)
    assert(labels.values.forall(_ == 0L))
    // and a forest of disjoint chains keeps its components separate
    val twoChains = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val got = DedupOps.connectedComponents(twoChains)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("t10 rule ledger: groups partition tokenized docs, p_all ≤ each rule") {
    val df = TextOps.t10GopherRules(spark, sf)
    val tokenized = Sources.table(spark, sf, "documents")
      .filter(size(TextOps.tokens(col("text"))) > 0).count()
    assert(df.agg(sum("n_docs")).collect()(0).getLong(0) == tokenized)
    for (c <- Seq("p_wc", "p_mean", "p_stop", "p_top")) {
      assert(df.filter(col(c) > col("n_docs")).count() == 0, s"$c exceeds n_docs")
      assert(df.filter(col("p_all") > col(c)).count() == 0, s"p_all exceeds $c")
    }
    // thresholds are discriminative on the fixture: some docs fail, some pass
    val t = df.agg(sum("n_docs"), sum("p_all")).collect()(0)
    assert(t.getLong(1) > 0 && t.getLong(1) < t.getLong(0))
  }

  test("t10's sorted-array fold equals brute-force max token count") {
    // randomized docs over a tiny vocabulary force runs, ties, singletons
    // and empty-adjacent shapes through the fold in one DataFrame pass
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val docs = (1 to 300).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)("w" + rnd.nextInt(6)).mkString(" "))
    }
    val got = docs.toDF("doc_id", "text")
      .withColumn("ts", TextOps.tokens(col("text")))
      .select(col("doc_id"), TextOps.maxTokenRun("ts").as("max_run"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, text) =>
      val expect = text.split(" ").groupBy(identity).values.map(_.length).max.toLong
      assert(got(id) == expect, s"doc $id: fold ${got(id)} vs brute $expect")
    }
  }

  test("t12 chunks tile each document: aligned starts, full coverage") {
    val df = TextOps.t12Chunking(spark, sf)
    assert(df.filter(col("start_tok") =!= col("chunk_no") * TextOps.ChunkStride).count() == 0)
    assert(df.filter(col("n_tok") < 1 || col("n_tok") > TextOps.ChunkTokens).count() == 0)
    // last chunk reaches exactly the document's token count
    val cover = df.groupBy("doc_id")
      .agg(max(col("start_tok") + col("n_tok")).as("covered"), min("start_tok").as("first"))
    val toks = Sources.table(spark, sf, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    assert(cover.join(toks, "doc_id")
      .filter(col("covered") =!= col("n") || col("first") =!= 0).count() == 0)
    assert(cover.count() == toks.count())
  }

  test("t11 dup spans: every span spreads over ≥2 docs, occurrences ≥ docs") {
    val df = TextOps.t11DupSpans(spark, sf)
    assert(df.count() > 0 && df.count() <= TextOps.TopSpans)
    assert(df.filter(col("n_docs") < 2 || col("n_occ") < col("n_docs")).count() == 0)
    // spot-check the top span against a direct corpus count — matched on
    // the same normalized token stream the spans are built from (a raw
    // text.contains would miss spans crossing punctuation/case/multi-space
    // and fail spuriously on such fixtures)
    val top = df.collect()(0)
    val hits = Sources.table(spark, sf, "documents")
      .filter(concat_ws(" ", TextOps.tokens(col("text"))).contains(top.getString(0)))
      .count()
    assert(hits >= top.getLong(1))
  }

  test("d11 impact ledger is consistent with d10's clusters") {
    val d11 = DedupOps.d11DedupImpact(spark, sf)
    assert(d11.agg(sum("n_docs")).collect()(0).getLong(0) == nDocs)
    // per group: kept + dropped = docs; dropped ≤ clustered
    assert(d11.filter(col("n_kept") + col("n_dropped") =!= col("n_docs")).count() == 0)
    assert(d11.filter(col("n_dropped") > col("n_clustered")).count() == 0)
    // totals tie to d10 exactly: every cluster keeps exactly one doc
    val d10 = DedupOps.d10DupClusters(spark, sf)
    val members = d10.count()
    val clusters = d10.select("cluster_id").distinct().count()
    val t = d11.agg(sum("n_clustered"), sum("n_dropped")).collect()(0)
    assert(t.getLong(0) == members)
    assert(t.getLong(1) == members - clusters)
  }

  test("s6 IVF-PQ emits exactly 3 ranked rows per query from its own cell") {
    val df = SimilarityOps.s6AnnIvfPq(spark, sf)
    val perQ = df.groupBy("q_id").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(perQ.count() > 0)
    assert(perQ.filter(col("n") =!= 3 || col("mx") =!= 3).count() == 0)
    assert(df.filter(abs(col("adc_sim")) > 1.5).count() == 0)
  }

  test("s9 rerank: 3 rows/query from the ADC shortlist; exact-cos dominates s6's picks") {
    val s9 = SimilarityOps.s9AnnRerank(spark, sf)
    val perQ = s9.groupBy("q_id").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(perQ.count() > 0)
    assert(perQ.filter(col("n") =!= 3 || col("mx") =!= 3).count() == 0)
    assert(s9.filter(col("adc_rnk") < 1 || col("adc_rnk") > SimilarityOps.RerankR).count() == 0)
    // dominance is a theorem, not a hope: s6's 3 picks are inside the
    // shortlist (RerankR ≥ 3, same ADC order), and s9 keeps the
    // exact-cosine-best 3 of the shortlist — so per query s9's summed
    // exact cosine ≥ the summed exact cosine of s6's picks
    val emb = Sources.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def exactCosSum(pairs: org.apache.spark.sql.DataFrame) = pairs
      .join(emb.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .join(emb.select(col("vec_id").as("n_id"), col("v").as("nv")), Seq("n_id"))
      .withColumn("c", SimilarityOps.dot(col("qv"), col("nv")) /
        (sqrt(SimilarityOps.dot(col("qv"), col("qv"))) *
          sqrt(SimilarityOps.dot(col("nv"), col("nv")))))
      .groupBy("q_id").agg(sum("c").as("s"))
    val bad = exactCosSum(s9.select("q_id", "n_id"))
      .join(exactCosSum(SimilarityOps.s6AnnIvfPq(spark, sf).select("q_id", "n_id"))
        .withColumnRenamed("s", "s6s"), Seq("q_id"))
      .filter(col("s") < col("s6s") - 1e-9)
    assert(bad.count() == 0, "rerank picked an exact-cosine-worse set than ADC top-3")
  }

  test("s5 PQ-ANN emits exactly 3 ranked rows per query; codes reconstruct") {
    val df = SimilarityOps.s5AnnPq(spark, sf)
    val perQ = df.groupBy("q_id").agg(count(lit(1)).as("n"), max("rnk").as("mx"))
    assert(perQ.count() > 0)
    assert(perQ.filter(col("n") =!= 3 || col("mx") =!= 3).count() == 0)
    // ADC approximates cosine: scores stay in a sane band (the
    // reconstruction can overshoot ±1 only slightly)
    assert(df.filter(abs(col("adc_sim")) > 1.5).count() == 0)
  }

  test("s4 recall is monotone in nprobe: ivf ≤ ivf_np2 ≤ ivf_np4 per query") {
    // more probed cells can only add candidates, so per-query hits are
    // monotone — a structural law of the multi-probe plan, not a tuning
    // accident
    val wide = SimilarityOps.s4AnnRecall(spark, sf)
      .groupBy("q_id").pivot("method", Seq("ivf", "ivf_np2", "ivf_np4"))
      .agg(first("hits"))
    assert(wide.count() > 0)
    assert(wide.filter(col("ivf") > col("ivf_np2") || col("ivf_np2") > col("ivf_np4")).count() == 0)
  }

  test("m2 histograms are normalized (bins sum to ~1)") {
    val df = MultimodalOps.m2DecodeHistogram(spark, sf)
    val s = (0 until 8).map(i => col(s"b$i")).reduce(_ + _)
    assert(df.filter(abs(s - 1.0) > 0.01).count() == 0)
  }

  test("t17 scrub laws: every doc ledgered once; removal bounded by coverage; clean docs untouched") {
    val df = TextOps.t17SpanScrub(spark, sf).cache()
    try {
      // the ledger partitions the corpus: one row per document
      assert(df.count() == nDocs)
      assert(df.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
      // no duplicate occurrence → nothing removed, and vice versa a
      // removal needs at least one covering occurrence
      assert(df.filter(col("n_dup_occ") === 0 && col("n_removed") > 0).count() == 0)
      assert(df.filter(col("n_removed") > col("n_dup_occ") * TextOps.SpanWords).count() == 0)
      assert(df.filter(col("n_removed") > col("n_tok")).count() == 0)
      // the fixture genuinely contains duplicated spans (t11 finds them),
      // so the scrub must actually cut something somewhere
      assert(df.agg(sum("n_removed")).collect()(0).getLong(0) > 0,
        "no tokens removed — the scrub is vacuous on a fixture t11 mines spans from")
      // untouched docs keep their exact token stream: clean_md5 must
      // equal the digest of the full tokenization
      val fullMd5 = Sources.table(spark, sf, "documents")
        .select(col("doc_id"),
          md5(concat_ws(" ", TextOps.tokens(col("text")))).as("full_md5"))
      val mismatched = df.filter(col("n_removed") === 0)
        .join(fullMd5, "doc_id")
        .filter(col("clean_md5") =!= col("full_md5"))
      assert(mismatched.count() == 0,
        "an untouched doc's clean digest differs from its full-token digest")
    } finally { df.unpersist(); () }
  }

  test("d17 pruning laws: every vector verdicted once; per-cell cut is exactly ⌊n/den⌋, most-prototypical first") {
    val df = SimilarityOps.d17ProtoPrune(spark, sf).cache()
    try {
      val nVecs = Sources.table(spark, sf, "embeddings").count()
      assert(df.count() == nVecs)
      // per cell: pruned count is exactly ⌊n/den⌋, and the pruned set is
      // a rank prefix (max pruned rank == pruned count — no gaps)
      val perCell = df.groupBy("cell").agg(
        count(lit(1)).as("n"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_pruned"),
        max(when(!col("kept"), col("proto_rank"))).as("max_pruned_rank"))
      assert(perCell.filter(
        col("n_pruned") =!= floor(col("n") / SimilarityOps.ProtoPruneDen)).count() == 0,
        "a cell's pruned count is not ⌊n/den⌋")
      assert(perCell.filter(col("n_pruned") > 0 &&
        col("max_pruned_rank") =!= col("n_pruned")).count() == 0,
        "pruned verdicts are not the rank-1..⌊n/den⌋ prefix")
      // something is pruned somewhere (cells are bigger than den on the fixture)
      assert(df.filter(!col("kept")).count() > 0)
    } finally { df.unpersist(); () }
  }

  test("p4 packs exactly p1's kept set: doc and token totals agree, shards bounded") {
    // the export must ship precisely what the funnel kept — nothing
    // dropped on the floor, nothing resurrected (the two gates share
    // stagedEligible, and this pins the contract observably)
    val ledger = PipelineOps.p1PipelineLedger(spark, sf)
      .agg(sum("n_kept"), sum("tok_kept")).collect()(0)
    val packed = PipelineOps.p4CuratePack(spark, sf)
      .agg(sum("n_docs"), sum("n_tok")).collect()(0)
    assert(packed.getLong(0) == ledger.getLong(0),
      s"packed ${packed.getLong(0)} docs != funnel kept ${ledger.getLong(0)}")
    assert(packed.getLong(1) == ledger.getLong(1),
      s"packed ${packed.getLong(1)} tokens != funnel kept ${ledger.getLong(1)}")
    // t13's geometry: no shard exceeds its doc budget, and every shard's
    // sequence count is exactly ceil(tokens / SeqTokens)
    val bad = PipelineOps.p4CuratePack(spark, sf)
      .filter(col("n_docs") > TextOps.ShardDocs ||
        col("n_seqs") =!= ceil(col("n_tok") / lit(TextOps.SeqTokens.toDouble)).cast("long"))
    assert(bad.count() == 0, "a shard broke the packing geometry")
  }

  test("s18 filtered ANN: every neighbour shares its query's tenant, and the filter bites") {
    val df = SimilarityOps.s18AnnFiltered(spark, sf).cache()
    try {
      // tenant purity: the metadata predicate holds on BOTH endpoints of
      // every returned pair (pre-filtering, so no out-of-tenant row can
      // even reach the ranking)
      val impure = df.filter(
        col("q_id") % SimilarityOps.TenantMod =!= col("tenant") ||
          col("n_id") % SimilarityOps.TenantMod =!= col("tenant"))
      assert(impure.count() == 0, "a returned neighbour crossed the tenant boundary")
      // and the filter is not vacuous: restricting candidates must change
      // some query's top-3 vs the unfiltered s3 probe
      val unfiltered = SimilarityOps.s3AnnIvf(spark, sf)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val filtered = df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(filtered != unfiltered,
        "filtered probe returned s3's exact pairs — the tenant predicate did nothing")
    } finally { df.unpersist(); () }
  }

  test("s17 Lloyd step does not decrease the spherical k-means objective") {
    // The law that makes one refinement step a RETRAIN and not a shuffle
    // of centroids: re-assignment only ever moves a vector to a centroid
    // it is MORE cosine-similar to, and a cell's mean is the direction
    // maximizing average cosine over its members — so the mean own-cell
    // cosine must be monotone across the generation (up to the fixed
    // CentroidScale publication rounding, bounded here at 1e-4).
    import SimilarityOps.dot
    val all = SimilarityOps.normed(spark, sf)
    val seeds0 = SimilarityOps.ivfSeedCentroids(all)
    def objective(seeds: org.apache.spark.sql.DataFrame): Double =
      SimilarityOps.assignCells(all, seeds)
        .join(seeds, col("cell") === col("c_id"))
        .select((dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("c"))
        .agg(avg("c")).collect()(0).getDouble(0)
    val gen0 = objective(seeds0)
    val gen1 = objective(SimilarityOps.Flat.retrained.seeds(all))
    assert(gen1 >= gen0 - 1e-4,
      f"retrain worsened the objective: gen0 $gen0%.6f -> gen1 $gen1%.6f")
    // and on this fixture the improvement is macroscopic, so the gate's
    // "retrained quantizer" claim is not vacuous
    assert(gen1 > gen0 + 0.01,
      f"retrain was a no-op on the fixture: gen0 $gen0%.6f -> gen1 $gen1%.6f")
  }

  test("p5 shuffle-shard conserves p4's export and genuinely permutes it") {
    val packed = PipelineOps.p4CuratePack(spark, sf)
      .agg(sum("n_docs"), sum("n_tok")).collect()(0)
    val shuffled = PipelineOps.p5ShuffleShard(spark, sf).cache()
    try {
      // conservation: the reshuffle ships exactly the packed corpus —
      // same doc and token totals as p4 (and hence p1's kept set)
      val tot = shuffled.agg(sum("n_docs"), sum("n_tok")).collect()(0)
      assert(tot.getLong(0) == packed.getLong(0),
        s"shuffled ${tot.getLong(0)} docs != packed ${packed.getLong(0)}")
      assert(tot.getLong(1) == packed.getLong(1),
        s"shuffled ${tot.getLong(1)} tokens != packed ${packed.getLong(1)}")
      // shard geometry: ids in [0, OutShards), n_seqs = ceil(tok/SeqTokens)
      val bad = shuffled.filter(
        col("oshard") < 0 || col("oshard") >= PipelineOps.OutShards ||
          col("n_seqs") =!= ceil(col("n_tok") / lit(TextOps.SeqTokens.toDouble)).cast("long"))
      assert(bad.count() == 0, "an output shard broke the shuffle geometry")
      // interleaving: the POINT of the shuffle — every output shard mixes
      // sources (a single-source shard means the permutation failed)
      val monoculture = shuffled.filter(col("n_docs") >= 2 && col("n_sources") < 2)
      assert(monoculture.count() == 0, "an output shard holds a single source")
    } finally { shuffled.unpersist(); () }
  }

  test("p5 hash order is a nontrivial permutation of corpus order") {
    // rebuild p5 with the WITHIN-BUCKET sort key replaced by corpus
    // order (doc_id) — construction otherwise identical, including the
    // two-level sub-digest fold, so the digests can only differ if the
    // hash genuinely reorders docs inside at least one sub-bucket. If
    // every shard's digest still matched, the 'shuffle' would be the
    // identity and the training-order claim vacuous.
    val docs = Sources.table(spark, sf, "documents")
    val bucketWidth = TextOps.MixHashMod / PipelineOps.MixBuckets
    val hashOrdered = PipelineOps.p5ShuffleShard(spark, sf)
      .select("oshard", "pack_md5").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpusOrdered = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), concat_ws(" ", col("ts")).as("s"))
      .withColumn("u",
        col("doc_id") % TextOps.MixHashMod * TextOps.MixHashMul % TextOps.MixHashMod)
      .withColumn("oshard", (col("u") % PipelineOps.OutShards).cast("long"))
      .withColumn("sbucket", floor(col("u") / bucketWidth).cast("long"))
      .groupBy("oshard", "sbucket")
      .agg(md5(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("doc_id"), col("s")))),
        x => x.getField("s")))).as("sub_md5"))
      .groupBy("oshard")
      .agg(md5(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("sbucket"), col("sub_md5")))),
        x => x.getField("sub_md5")))).as("corpus_md5"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val differing = hashOrdered.keySet.count(k =>
      corpusOrdered.get(k).exists(_ != hashOrdered(k)))
    assert(differing > 0,
      "every shard digests identically in hash order and corpus order — no permutation happened")
  }

  test("m11 audit outcomes partition the corpus and every reject branch fires") {
    val audit = MultimodalOps.m11WavAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the guard loses nothing: outcome counts partition the corpus
    assert(audit.values.map(_._1).sum == nDocs,
      s"audit rows sum to ${audit.values.map(_._1).sum}, corpus has $nDocs")
    // both parser reject branches genuinely fired on the fixture — the
    // audit exercised paths m4's happy case never enters
    assert(audit.contains("bad_magic") && audit("bad_magic")._1 > 0)
    assert(audit.contains("overrun") && audit("overrun")._1 > 0)
    assert(!audit.contains("other"), "a reject fell through classification")
    // rejects carry zero decodable bytes; ok mass equals the clean docs'
    // total payload
    assert(audit("bad_magic")._2 == 0L && audit("overrun")._2 == 0L)
    // BYTE length (octet_length of the UTF-8 payload), not character
    // length — the audit reports the data chunk's byte mass, and the
    // two only coincide on ASCII-only fixtures
    val cleanBytes = Sources.table(spark, sf, "documents")
      .filter(!(col("doc_id") % MultimodalOps.CorruptMod)
        .isin(MultimodalOps.BadMagicResidue, MultimodalOps.OverrunResidue))
      .agg(sum(octet_length(col("text")))).collect()(0).getLong(0)
    assert(audit("ok")._2 == cleanBytes,
      s"ok byte mass ${audit("ok")._2} != clean payload total $cleanBytes")
  }

  test("m10 sub-frame payload decodes to the defined empty thumbnail, not an abort") {
    // a payload shorter than one block-align (here 1 byte against a
    // 2-channel/16-bit block align of 4) has no complete frame; the
    // decoder must classify it — nf = 0, zero slots — the way m11
    // classifies malformed containers, never throw and kill the gate
    val wav = MultimodalOps.buildWav(1L, "xx", Array[Byte](7)) // doc_id 1 → 2 channels, ba = 4
    val (nf, samples) = MultimodalOps.decodeWavThumb(wav)
    assert(nf == 0L, s"sub-frame payload reported $nf frames")
    assert(samples.isEmpty, s"sub-frame payload produced ${samples.length} slots")
    // and a one-complete-frame payload still thumbnails normally (every
    // slot maps to frame 0) — the boundary just above the guard
    val (nf1, s1) = MultimodalOps.decodeWavThumb(
      MultimodalOps.buildWav(2L, "xx", Array[Byte](1, 2))) // doc_id 2 → 1 channel, ba = 2
    assert(nf1 == 1L && s1.length == MultimodalOps.AudioThumb)
    assert(s1.distinct.length == 1, "all slots of a 1-frame payload must read frame 0")
  }

  test("m14 planted audio twins: identical payloads land the hamming-0 pair through the real codec") {
    // two docs with byte-identical text at matching channel parity
    // (doc_id 0 and 2 → 1 channel each; sample rate differs but only
    // lives in the header) must fingerprint identically end-to-end —
    // build, chunk walk, 64-slot seek decode, mean, banding — and a
    // different-payload doc must not join them at hamming 0
    val work = graft.streaming.Replay.workspace("graft_m14_")
    import org.apache.spark.sql.functions.lit
    val twinText = "the quick brown fox jumps over the lazy dog again and again"
    val spark0 = spark
    import spark0.implicits._
    Seq(
      (0L, twinText, "en", "src0"),
      (2L, twinText, "fr", "src1"), // lang differs: note chunk only
      (4L, "a completely different payload with other bytes inside it", "en", "src0"),
      (6L, "yet another unrelated document body for candidate noise", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", lit(60L))
      .write.parquet(s"$work/documents.parquet")
    val pairs = MultimodalOps.m14WavNearDup(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 2L && p._3 == 0L),
      s"identical payloads did not land a hamming-0 pair: ${pairs.mkString(",")}")
    assert(pairs.forall(p => p._3 == 0L || !(p._1 == 0L && p._2 == 2L)))
    assert(!pairs.exists(p => p._3 == 0L && !(p._1 == 0L && p._2 == 2L)),
      "a non-twin pair fingerprinted as identical")
  }

  test("m14 gate invariants: ordered pairs, hamming within the verify bound") {
    val pairs = MultimodalOps.m14WavNearDup(spark, sf).collect()
    assert(pairs.nonEmpty, "no audio near-dups on the fixture")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not normalized a_id < b_id")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= MultimodalOps.AHashHamMax)
    }
  }

  test("m12 BMP audit outcomes partition the corpus and every reject branch fires") {
    val audit = MultimodalOps.m12BmpAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.values.map(_._1).sum == nDocs,
      s"audit rows sum to ${audit.values.map(_._1).sum}, corpus has $nDocs")
    // both BMP reject branches genuinely fired — the guard's logic is
    // proven against the second codec's own failure modes, on a
    // different corrupted subset than m11's (mod 19 vs mod 17)
    assert(audit.contains("bad_magic") && audit("bad_magic")._1 > 0)
    assert(audit.contains("overrun") && audit("overrun")._1 > 0)
    assert(!audit.contains("other"), "a reject fell through classification")
    assert(audit("bad_magic")._2 == 0L && audit("overrun")._2 == 0L)
  }

  test("s21 bulk probe generalizes the online probe: s3's rank-1 rows are a restriction of s21") {
    // the bulk read answers every vector; restricted to s3's query set
    // (label = 1) it must reproduce the online probe's nearest
    // neighbour exactly — same quantizer, same cells, same tie-break
    val bulk = SimilarityOps.s21AnnBulkProbe(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val online = SimilarityOps.s3AnnIvf(spark, sf)
      .filter(col("rnk") === 1).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
    assert(online.nonEmpty)
    online.foreach { case (q, (n, c)) =>
      assert(bulk.get(q).contains((n, c)),
        s"query $q: online probe found ($n, $c), bulk probe found ${bulk.get(q)}")
    }
    // and the bulk answer is genuinely corpus-wide, not the query subset
    val nVecs = Sources.table(spark, sf, "embeddings").count()
    assert(bulk.size > online.length,
      "bulk probe answered only the online query set")
    assert(bulk.size <= nVecs)
  }

  test("s22 hierarchical quantizer: same query set as s3, genuinely different assignment") {
    // the two-level quantizer is its OWN quantizer, not the flat argmax
    // renamed: on the fixture at least one vector lands in a different
    // cell, so the probe answers differ — while the query set (label=1)
    // is identical, proving the probe chain downstream is s3's
    val hier = SimilarityOps.s22AnnHier(spark, sf).collect()
    val flat = SimilarityOps.s3AnnIvf(spark, sf).collect()
    assert(hier.nonEmpty && flat.nonEmpty)
    assert(hier.map(_.getLong(0)).toSet == flat.map(_.getLong(0)).toSet,
      "hier probe answers a different query set than s3")
    assert(hier.map(_.toSeq).toSeq != flat.map(_.toSeq).toSeq,
      "hierarchical assignment equals the flat argmax everywhere — s22 is s3 renamed here")
  }

  test("d18 hier semdedup: partition law holds and the hierarchy changed at least one cell") {
    // same laws d15 pins, under the two-level quantizer: every vector
    // appears in exactly one cell (Σ n_vecs = corpus), kept + dropped
    // partition each cell, ≥1 survivor per cell
    val led = SimilarityOps.d18SemDedupHier(spark, sf).collect()
    val nVecs = Sources.table(spark, sf, "embeddings").count()
    assert(led.map(_.getLong(1)).sum == nVecs, "cells do not partition the corpus")
    led.foreach { r =>
      assert(r.getLong(4) == r.getLong(1) - r.getLong(3), "kept + dropped != n_vecs")
      assert(r.getLong(4) >= 1, s"cell ${r.getLong(0)} kept no survivor")
    }
    // and the two-level cells genuinely differ from d15's flat ones
    val flat = SimilarityOps.d15SemDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier = led.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hier != flat, "hier cell populations equal flat everywhere — d18 is d15 renamed here")
  }

  test("quantizer contract: queryCells(frame, art, 1) picks every row's assign cell, ties to the lowest id") {
    // The one probe serves n = 1 from the STORED cell (no quantizer work)
    // and n > 1 from queryCells' fan-out, so both must pick the same top
    // cell. Flat assigns and fans out through one sorted ranking; hier
    // assigns with strict-improvement folds but fans out through a sort
    // of the groups, so a tie could split them. The tie fixture repeats
    // seed centroids 0..7 as 8..15 (for hier: groups 0, 1 repeated as
    // 2, 3), so every row's best centroid — and best group — ties
    // exactly, and the lowest id must win on the sort and the fold path.
    val all = SimilarityOps.normed(spark, sf)
    val frame = all.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val base = SimilarityOps.seedCentroids(all, 8)
    val tied = base.unionByName(base.withColumn("c_id", col("c_id") + 8))
    for ((name, q) <- Seq("flat" -> SimilarityOps.Flat, "hier" -> SimilarityOps.Hier);
         (fixture, seeds) <- Seq("sf" -> q.seeds(all), "tie" -> tied)) {
      val art = q.build(seeds)
      val assigned = q.assign(all, art).select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val probed = q.queryCells(frame, art, 1).select("q_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(assigned.nonEmpty)
      assert(probed.length == assigned.size,
        s"$name/$fixture: queryCells at n = 1 is not one cell per row")
      assert(probed.toMap == assigned,
        s"$name/$fixture: queryCells(…, 1) disagrees with assign")
      if (fixture == "tie")
        assert(assigned.values.forall(_ < 8),
          s"$name: a tied row went to the higher duplicate id")
    }
  }

  test("s26 hier retrain: genuinely moves assignments, and sparse-id codebooks assign correctly") {
    // (1) the retrain is not a no-op: at least one vector's two-level
    // cell changes between the gen-0 and gen-1 codebooks (the LayoutSpec
    // flip test depends on this too — pinned here at the assignment
    // level, where the retrain actually acts)
    val all = SimilarityOps.normed(spark, sf)
    val seeds = SimilarityOps.ivfSeedCentroids(all)
    val gen0 = SimilarityOps.hierAssignCells(all, seeds, SimilarityOps.HierSub)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gen1 = SimilarityOps.s26Gen1Assigned(spark, sf)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gen0.keySet == gen1.keySet, "retrain changed the corpus itself")
    assert(gen0 != gen1, "hier retrain moved no vector — the M-step was a no-op here")

    // (2) the retired-group path: a retrained codebook may lose a whole
    // group (every cell memberless), leaving SPARSE group ids — the
    // exact case the by-ID sub-lookup exists for. Build that codebook
    // deliberately (drop group 1's cells: ids {4..7}) and check the
    // expression-side two-level fold against an independent join+window
    // reference over the same nested literal. Positional sub indexing
    // would read group 2's subs for group-id 2 at position 2 — wrong —
    // so equality here is the regression pin for the sparse-ids rule.
    val sub = SimilarityOps.HierSub
    val sparseSeeds = seeds.filter(!(col("c_id") >= sub && col("c_id") < 2 * sub))
    val arr = SimilarityOps.hierCentArr(sparseSeeds, sub)
    val groupsTbl = arr.select(explode(col("groups")).as("grp"))
      .select(col("grp.c_id").as("g"), col("grp.cv").as("sv"),
        col("grp.cn").as("sn"), col("grp.subs").as("subs"))
    val gids = groupsTbl.select("g").collect().map(_.getLong(0)).sorted
    assert(gids.sameElements(Array(0L, 2L, 3L)),
      s"fixture codebook is not sparse (groups ${gids.toSeq}) — the test is vacuous")
    val got = SimilarityOps.hierAssignWithCodebook(all, arr)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: level-1 best group by (gcos desc, g), level-2 best cell
    // within it by (ccos desc, c_id) — the fold's documented tie-break
    import org.apache.spark.sql.expressions.Window
    val l1 = all.crossJoin(groupsTbl)
      .withColumn("gcos", SimilarityOps.dot(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .withColumn("grn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("gcos").desc, col("g"))))
      .filter(col("grn") === 1)
    val subsTbl = groupsTbl.select(col("g"), explode(col("subs")).as("s"))
      .select(col("g"), col("s.c_id").as("c_id"), col("s.cv").as("cv"), col("s.cn").as("cn"))
    val ref = l1.join(subsTbl, Seq("g"))
      .withColumn("ccos", SimilarityOps.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("crn") === 1)
      .select("vec_id", "c_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref,
      "two-level fold diverged from the join reference on a sparse-id codebook")
    // and some vector genuinely lands in a group whose id ≠ its array
    // position (g ≥ 2 — where positional lookup would misread)
    assert(got.values.exists(_ >= 2 * sub),
      "no vector assigned past the gap — the sparse path went unexercised")
  }

  test("p8 mixture sample: budget laws — floor crossed once, min source intact, mixture balanced") {
    // the balanced-mixture contract, checked as laws on the gate's own
    // ledger: (1) every source samples AT LEAST the budget (the
    // crossing doc is kept — budgets are floors) and at most budget +
    // one document's tokens; (2) the smallest source defines the budget
    // and keeps everything; (3) sampling never invents documents
    val rows = PipelineOps.p8MixtureSample(spark, sf).collect()
    assert(rows.length > 1, "mixture sample needs multiple sources to balance")
    val budget = rows.map(_.getLong(2)).min
    val maxDocTok = Sources.table(spark, sf, "documents")
      .select(size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    rows.foreach { r =>
      val (src, nDocs, nTok, nDocsS, nTokS) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nDocsS <= nDocs && nTokS <= nTok, s"$src sampled more than it has")
      assert(nTokS >= math.min(budget, nTok), s"$src under-filled its budget: $nTokS < $budget")
      assert(nTokS < budget + maxDocTok,
        s"$src overshot by more than one document: $nTokS vs budget $budget")
      if (nTok == budget)
        assert(nDocsS == nDocs && nTokS == nTok, s"min source $src lost documents")
    }
    // the sample genuinely drops something somewhere (not a no-op)
    assert(rows.exists(r => r.getLong(3) < r.getLong(1)),
      "no source was down-sampled — the fixture makes this test vacuous")
  }

  test("p9 weighted mixture: declared weight table, largest feasible blend, binding source whole") {
    // p9 ledger: (source, w, budget, n_docs, n_tok, n_docs_sampled,
    // n_tok_sampled, sample_md5) — the laws are p8's, generalized to
    // per-source budgets from t14's weight table
    val rows = PipelineOps.p9WeightedMixture(spark, sf).collect()
    assert(rows.length > 1, "weighted mixture needs multiple sources to blend")
    // the weight table is t14's declared rule, w = (srcN mod 4) + 1 —
    // the doc-count blend t14 reports and the token blend p9 enforces
    // must read the SAME config
    rows.foreach { r =>
      val expW = r.getString(0).drop(3).toLong % 4 + 1
      assert(r.getLong(1) == expW,
        s"${r.getString(0)} carries weight ${r.getLong(1)}, declared table says $expW")
    }
    assert(rows.map(_.getLong(1)).distinct.length > 1,
      "all weights equal on the fixture — p9 degenerates to p8 and proves nothing")
    // the binding source minimizes tot/w (ties by name): its budget is
    // its FULL token total and it is kept whole — t14's "keeps the
    // binding source whole" law in token space
    val m = rows.minBy(r => (r.getLong(4).toDouble / r.getLong(1), r.getString(0)))
    val (totM, wM) = (m.getLong(4), m.getLong(1))
    assert(m.getLong(2) == totM,
      s"binding source ${m.getString(0)} budget ${m.getLong(2)} != its total $totM")
    assert(m.getLong(5) == m.getLong(3) && m.getLong(6) == m.getLong(4),
      s"binding source ${m.getString(0)} lost documents")
    // largest feasible blend: budget_s = ⌊w_s · tot_m / w_m⌋, and every
    // budget fits inside its source's availability
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * totM / wM,
        s"${r.getString(0)} budget ${r.getLong(2)} breaks the blend rule " +
          s"(w=${r.getLong(1)}, tot_m=$totM, w_m=$wM)")
      assert(r.getLong(2) <= r.getLong(4),
        s"${r.getString(0)} budget exceeds availability — the blend is infeasible")
    }
    // budgets are floors: every source fills its budget, overshooting by
    // less than one document (the kept crossing doc)
    val maxDocTok = Sources.table(spark, sf, "documents")
      .select(size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    rows.foreach { r =>
      assert(r.getLong(6) >= math.min(r.getLong(2), r.getLong(4)),
        s"${r.getString(0)} under-filled its budget")
      assert(r.getLong(6) < r.getLong(2) + maxDocTok,
        s"${r.getString(0)} overshot its budget by more than one document")
    }
    // the weighted blend genuinely differs from the uniform one — the
    // weight table is load-bearing, not decorative
    val uniform = PipelineOps.p8MixtureSample(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(rows.exists(r => uniform(r.getString(0)) != r.getLong(6)),
      "weighted ledger identical to uniform — weights changed nothing")
    // and something genuinely drops (not a no-op blend)
    assert(rows.exists(r => r.getLong(5) < r.getLong(3)),
      "no source was down-sampled — the fixture makes this test vacuous")
  }

  test("p10 sampled export: funnel × weighted budgets × pack compose exactly") {
    // p10 rows: (source, shard, n_docs, n_tok, n_seqs, pack_md5) — p4's
    // schema over the p9-sampled blend of the kept corpus. The laws tie
    // all three composed stages to their standalone gates.
    val p4 = PipelineOps.p4CuratePack(spark, sf).collect()
    val p10 = PipelineOps.p10SampledExport(spark, sf).collect()
    assert(p10.nonEmpty)
    val p4ByKey = p4.map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    // containment + geometry: every sampled shard exists in p4's export
    // with no more docs/tokens, and n_seqs follows t13's rule
    p10.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val full = p4ByKey.get(key)
      assert(full.isDefined, s"shard $key not in p4's full export")
      assert(r.getLong(2) <= full.get.getLong(2) && r.getLong(3) <= full.get.getLong(3),
        s"shard $key packs more than the full export")
      assert(r.getLong(4) == (r.getLong(3) + TextOps.SeqTokens - 1) / TextOps.SeqTokens,
        s"shard $key broke the sequence geometry")
    }
    // budget laws, recomputed from p4's per-source totals + the declared
    // weight rule: every source fills its largest-feasible budget and
    // overshoots by less than one document
    val tot = p4.groupBy(_.getString(0)).map { case (s, rs) => s -> rs.map(_.getLong(3)).sum }
    val w = tot.keys.map(s => s -> (s.drop(3).toLong % 4 + 1)).toMap
    val mSrc = tot.keys.minBy(s => (tot(s).toDouble / w(s), s))
    val sampledTok = p10.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(3)).sum }
    val maxDocTok = Sources.table(spark, sf, "documents")
      .select(size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    tot.keys.foreach { s =>
      val budget = w(s) * tot(mSrc) / w(mSrc)
      val st = sampledTok.getOrElse(s, 0L)
      assert(st >= math.min(budget, tot(s)), s"$s under-filled its budget: $st < $budget")
      assert(st < budget + maxDocTok, s"$s overshot its budget by more than one document")
    }
    // the binding source is kept WHOLE, so its packed shards — content
    // digests included — must be byte-identical to p4's: the strongest
    // composition pin (any drift in funnel, sampler, or pack breaks it)
    val p4m = p4.filter(_.getString(0) == mSrc).map(_.toString).toSeq
    val p10m = p10.filter(_.getString(0) == mSrc).map(_.toString).toSeq
    assert(p4m == p10m,
      s"binding source $mSrc's packed shards differ from p4's full export")
    // and the blend genuinely drops documents somewhere
    assert(p10.map(_.getLong(2)).sum < p4.map(_.getLong(2)).sum,
      "no document was dropped — the fixture makes this test vacuous")
  }

  test("p15 sampled shuffle: the blend in training order conserves p10 and contains into p5") {
    // p15 rows: (oshard, n_docs, n_sources, n_tok, n_seqs, pack_md5) —
    // p5's schema over p10's blend. The laws tie the composition to
    // BOTH parents: same blend as p10 (totals), same permutation as p5
    // (per-shard containment — a doc's u, and hence its oshard, is a
    // function of doc_id alone, so the sampled shard is a subset of the
    // kept shard).
    val p15 = PipelineOps.p15SampledShuffle(spark, sf).collect()
    assert(p15.nonEmpty)
    val p10tot = PipelineOps.p10SampledExport(spark, sf)
      .agg(sum("n_docs"), sum("n_tok")).collect()(0)
    assert(p15.map(_.getLong(1)).sum == p10tot.getLong(0),
      "p15 reshuffled a different doc count than p10's blend")
    assert(p15.map(_.getLong(3)).sum == p10tot.getLong(1),
      "p15 reshuffled a different token count than p10's blend")
    val p5ByShard = PipelineOps.p5ShuffleShard(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    p15.foreach { r =>
      val full = p5ByShard.get(r.getLong(0))
      assert(full.isDefined, s"oshard ${r.getLong(0)} not in p5's full reshuffle")
      assert(r.getLong(1) <= full.get.getLong(1) && r.getLong(3) <= full.get.getLong(3),
        s"oshard ${r.getLong(0)} ships more than the full reshuffle")
      // p5's geometry laws hold on the blend too
      assert(r.getLong(0) >= 0 && r.getLong(0) < PipelineOps.OutShards)
      assert(r.getLong(4) == (r.getLong(3) + TextOps.SeqTokens - 1) / TextOps.SeqTokens,
        s"oshard ${r.getLong(0)} broke the sequence geometry")
      // interleaving survives the sampler: the blend keeps every source
      // (budgets are floors > 0), so no shard collapses to one source
      assert(r.getLong(1) < 2 || r.getLong(2) >= 2,
        s"oshard ${r.getLong(0)} holds a single source after the blend")
    }
    // the blend genuinely drops documents relative to the kept corpus
    assert(p15.map(_.getLong(1)).sum <
      p5ByShard.values.map(_.getLong(1)).sum,
      "no document was dropped — the fixture makes this test vacuous")
  }

  test("m17 consensus: exact union of both perceptual channels with faithful provenance") {
    // m17 must be precisely "m13 ⋈full m14": same pair keys, channel
    // provenance derived from membership, hammings carried verbatim
    // (-1 marking the absent channel)
    val img = MultimodalOps.m13BmpNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val aud = MultimodalOps.m14WavNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val m17 = MultimodalOps.m17ConsensusNearDup(spark, sf).collect()
    assert(m17.nonEmpty)
    assert(m17.map(r => (r.getLong(0), r.getLong(1))).toSet == img.keySet ++ aud.keySet,
      "consensus pair keys are not the union of the two channels")
    m17.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val expected = (img.contains(k), aud.contains(k)) match {
        case (true, true) => "both"
        case (true, false) => "image"
        case _ => "audio"
      }
      assert(r.getString(2) == expected, s"pair $k mislabeled ${r.getString(2)}")
      assert(r.getLong(3) == img.getOrElse(k, -1L), s"pair $k image hamming drifted")
      assert(r.getLong(4) == aud.getOrElse(k, -1L), s"pair $k audio hamming drifted")
    }
    // the channels genuinely disagree somewhere on this corpus — if one
    // channel's pairs were always the other's, the consensus verb would
    // be vacuous
    assert(m17.map(_.getString(2)).distinct.length >= 2,
      "single channel class only — the consensus fixture is vacuous")
  }

  test("s22's recall cost is bounded: hier recall@3 within 0.1 of flat on the fixture") {
    // the hierarchical quantizer buys its 2√k assignment with a recall
    // trade (a vector near a group boundary can land in the wrong
    // group's cells) — the standard IVF trade, recovered in practice by
    // multiprobe. Pin the cost so a regression (a broken level-1 fold
    // collapsing recall) is caught: on the fixture hier loses ≤ 0.1
    // absolute recall@3 vs the flat argmax (measured 0.177 vs 0.206).
    def recall3(probe: Array[org.apache.spark.sql.Row],
                exact: Map[Long, Set[Long]]): Double = {
      val hits = probe.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      exact.map { case (q, e) => (e & hits.getOrElse(q, Set.empty)).size / 3.0 }
        .sum / exact.size
    }
    val exact3 = SimilarityOps.q22KnnCosine(spark, sf).collect()
      .filter(_.getLong(3) <= 3).groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val flat = recall3(SimilarityOps.s3AnnIvf(spark, sf).collect(), exact3)
    val hier = recall3(SimilarityOps.s22AnnHier(spark, sf).collect(), exact3)
    assert(flat > 0.1, s"flat recall $flat collapsed — fixture changed under the pin")
    assert(hier >= flat - 0.1,
      f"hier recall@3 $hier%.3f fell more than 0.1 below flat $flat%.3f")
  }

  test("hier multiprobe recovers the quantizer's recall loss past flat nprobe=1") {
    // the documented recovery lever, now a measured battery row: the
    // group-level fan-out (hier_np2 probes the runner-up GROUP — where
    // the level-1 argmax errors that cost hier its recall live) must
    // (a) never lose recall vs hier np1 on any query, and (b) lift mean
    // recall AT LEAST back past the flat quantizer's nprobe=1 row
    // (measured 0.305 vs hier 0.177 / flat ivf 0.206 at sf0.001,
    // 0.275 vs 0.152 / 0.232 at sf0.01).
    val rows = SimilarityOps.s4AnnRecall(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getDouble(3)).toMap
    val qs = rows.keys.map(_._2).toSeq.distinct
    qs.foreach { q =>
      assert(rows(("hier_np2", q)) >= rows(("hier", q)),
        s"query $q: hier_np2 recall fell below hier — fan-out lost a probed cell")
    }
    def mean(m: String): Double = qs.map(q => rows((m, q))).sum / qs.size
    assert(mean("hier_np2") >= mean("ivf"),
      f"hier_np2 mean recall ${mean("hier_np2")}%.3f did not recover past " +
        f"flat nprobe=1 ${mean("ivf")}%.3f")
  }

  test("s24 dominates s23 per query: more probed cells never worsen the best neighbour") {
    // the structural law behind the recovery lever, on the STREAM-store
    // serves: s24's candidate set per query is a superset of s23's (the
    // top-1 group is always among the top-2), so the rank-1 cosine can
    // only improve. A violated dominance means the fan-out silently
    // dropped the primary cell — the bug class this pin exists for.
    def best(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.filter(col("rnk") === 1).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val np1 = best(graft.streaming.StreamAnnIngest.s23StreamHierIngest(spark, sf))
    val np2 = best(graft.streaming.StreamAnnIngest.s24StreamHierMultiprobe(spark, sf))
    assert(np1.keySet.subsetOf(np2.keySet),
      "a query answered under gprobe=1 vanished under gprobe=2")
    np1.foreach { case (q, c1) =>
      assert(np2(q) >= c1 - 1e-9,
        f"query $q: gprobe=2 best cosine ${np2(q)}%.4f fell below gprobe=1 $c1%.4f")
    }
  }

  test("s19 radius search: every match clears τ, and it agrees with s3's ranked view") {
    val radius = SimilarityOps.s19AnnRadius(spark, sf).cache()
    try {
      // the defining predicate, on the gate's own output
      assert(radius.filter(col("cos_sim") < SimilarityOps.RadiusTau).count() == 0,
        "a returned pair is below the radius")
      // pair uniqueness (each corpus row lives in one cell → no dups)
      assert(radius.groupBy("q_id", "n_id").count().filter(col("count") > 1).count() == 0)
      // consistency with s3 over the SAME candidate set: every top-3
      // neighbour at/above τ must appear in the radius answer, and every
      // radius match must score ≥ any s3 top-3 row it outranks — checked
      // as subset: s3's τ-clearing rows ⊆ s19
      val fromS3 = SimilarityOps.s3AnnIvf(spark, sf)
        .filter(col("cos_sim") >= SimilarityOps.RadiusTau)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fromRadius = radius.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fromS3.subsetOf(fromRadius),
        s"${(fromS3 -- fromRadius).size} τ-clearing s3 neighbours missing from the radius answer")
      // and the radius view is strictly wider than the top-3 view on this
      // fixture (some query has > 3 matches), so the gate is not s3 renamed
      assert(fromRadius.size > fromS3.size,
        "radius answer equals s3's τ-clearing top-3 rows — the unbounded read added nothing")
    } finally { radius.unpersist(); () }
  }
}
