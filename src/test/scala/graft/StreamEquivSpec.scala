package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.ops.Windowed
import graft.streaming.{Replay, StreamPipeline}

/** Batch≡stream equivalence (SURVEY.md §5.2#3): the identical transform
  * object runs as a batch DataFrame and as a Structured Streaming replay
  * (file source, AvailableNow, into a memory table, a parquet sink or a
  * per-batch store); results must agree. */
class StreamEquivSpec extends AnyFunSuite {
  import TestSpark._

  /** `f`'s result and the number of micro-batches its replays ran. */
  private def withBatches[T](f: => T): (T, Int) = {
    val (r, batches) = Replay.recorded(f)
    (r, batches.size)
  }

  test("q07 tumbling window: batch twin ≡ streaming gate entry") {
    val batch = rows(Windowed.q07TumblingBatch(spark, sf))
    val stream = rows(Windowed.q07Tumbling(spark, sf))
    assert(stream == batch)
  }

  test("q08 sliding window: batch twin ≡ streaming gate entry") {
    val batch = rows(Windowed.q08SlidingBatch(spark, sf))
    val stream = rows(Windowed.q08Sliding(spark, sf))
    assert(stream == batch)
  }

  test("q09 session windows: batch twin ≡ streaming gate entry") {
    // the scale-correct session shape: watermarked append mode — session
    // state is finalized and evicted as the watermark passes; since r5
    // this IS the gate path, matching q07/q08
    val batch = rows(Windowed.q09SessionsBatch(spark, sf))
    val stream = rows(Windowed.q09Sessions(spark, sf))
    assert(stream == batch)
  }

  test("q10 dedup: streaming first-arrival keeps exactly the batch key set") {
    val batchKeys = Windowed.q10Dedup(spark, sf)
      .select("user_id", "event_type").collect().map(_.toSeq).toSet
    val stream = Replay.append(spark, sf, "events")(Windowed.dedupExactStream)
    val streamKeys = stream.select("user_id", "event_type")
      .collect().map(_.toSeq).toSet
    assert(streamKeys == batchKeys)
    assert(stream.count() == batchKeys.size.toLong, "a key was emitted twice")
  }

  test("q10 dedup within watermark: bounded state emits a superset of batch keys") {
    val batchKeys = Windowed.q10Dedup(spark, sf)
      .select("user_id", "event_type").collect().map(_.toSeq).toSet
    val stream = Replay.append(spark, sf, "events")(Windowed.dedupWithinWatermark)
    val streamKeys = stream.select("user_id", "event_type")
      .collect().map(_.toSeq).toSet
    assert(batchKeys.subsetOf(streamKeys))
    assert(stream.count() >= batchKeys.size.toLong)
  }

  test("q24 score pipeline: gate (streaming) ≡ batch twin") {
    val batch = rows(StreamPipeline.q24Batch(spark, sf))
    val stream = rows(StreamPipeline.q24StreamScore(spark, sf))
    assert(stream == batch)
  }

  test("stream-stream interval join ≡ batch join (purchases x prior clicks)") {
    // q37's gate path IS the streaming side: two file sources, watermarks
    // on both, append mode into a parquet sink.
    val batch = rows(graft.streaming.JoinOps.q37Batch(spark, sf))
    val stream = rows(graft.streaming.JoinOps.q37StreamJoin(spark, sf))
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("custom flatMapGroupsWithState sessionizer ≡ session_window batch (x21's gate path)") {
    // the explicit-state sessionizer must reproduce the built-in's
    // sessions exactly: same merge rule (t joins iff t < last+gap,
    // micros-precise), same end = last+gap, emitted once at watermark
    val batch = rows(Windowed.q09SessionsBatch(spark, sf))
    val custom = rows(graft.streaming.StatefulOps.x21FmgwsSessions(spark, sf))
    assert(batch.nonEmpty)
    assert(custom == batch)
  }

  test("transformWithState sessionizer ≡ session_window batch (x22's gate path)") {
    // the modern state API (StatefulProcessor + registered event-time
    // timers) must reproduce the same sessions as the built-in and the
    // legacy API: same merge rule, same end = last+gap, emitted once
    // when the watermark passes the end (timer-driven)
    val batch = rows(Windowed.q09SessionsBatch(spark, sf))
    val custom = rows(graft.streaming.StatefulOps.x22TwsSessions(spark, sf))
    assert(batch.nonEmpty)
    assert(custom == batch)
  }

  test("sessionizers never emit before the micros-precise session end (sub-millisecond fixture)") {
    // The q09/x21/x22 fixtures carry whole-second timestamps, which
    // mask a floor-vs-ceiling bug in the micros→millis end conversion:
    // with FLOOR, a timer can fire in the millisecond BEFORE the true
    // end (last + gap, micros-precise), emitting a session that a
    // non-late event in that same millisecond could still join — the
    // session splits in two where the batch rule merges. This drives
    // exactly that boundary: gap 1 s, an event at 10.000500 s (true end
    // 11.000500 s, floored end 11.000 s), the watermark parked at
    // 11.000 s, a timer opportunity, then a joining event at
    // 11.000400 s (> watermark → admitted; < true end → same session).
    // Correct output: ONE session (10, 12, cnt 2) per sessionizer.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    def drive(name: String,
              mk: org.apache.spark.sql.DataFrame =>
                org.apache.spark.sql.Dataset[StatefulOps.SessionRow])
        : Seq[(Long, Long, Long, Long)] = {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val events = input.toDF.toDF("user_id", "ts")
      val q = mk(events)
        .toDF()
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation",
          Replay.workspace(s"graft_${name}_ckpt_"))
        .start()
      try {
        // batch 1: the session opener + a watermark pacer
        input.addData((1L, ts(10000500L)), (99L, ts(10500000L)))
        q.processAllAvailable()
        // batch 2: park the watermark at exactly 11.000 s — one micro
        // past the FLOORED end, half a millisecond before the TRUE end
        input.addData((99L, ts(11000000L)))
        q.processAllAvailable()
        // batch 3: no user-1 input — the timer's chance to (wrongly)
        // fire at wm = floored end
        input.addData((99L, ts(11000000L)))
        q.processAllAvailable()
        // batch 4: the joining event, inside the true end and not late
        input.addData((1L, ts(11000400L)))
        q.processAllAvailable()
        // flush: drive the watermark far past everything
        input.addData((99L, ts(100000000L)))
        q.processAllAvailable()
        input.addData((99L, ts(200000000L)))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).filter("user_id = 1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._2)
    }
    val viaFmgws = drive("subms_fmgws",
      df => StatefulOps.sessionize(df.withWatermark("ts", "0 seconds"), gapSec = 1))
    assert(viaFmgws == Seq((1L, 10L, 12L, 2L)),
      s"flatMapGroupsWithState sessionizer split the sub-ms boundary session: $viaFmgws")
    val viaTws = drive("subms_tws",
      df => StatefulOps.twsSessionize(df.withWatermark("ts", "0 seconds"), gapSec = 1))
    assert(viaTws == Seq((1L, 10L, 12L, 2L)),
      s"transformWithState sessionizer split the sub-ms boundary session: $viaTws")
  }

  test("mapGroupsWithState per-user counts ≡ groupBy counts") {
    import org.apache.spark.sql.functions._
    val batch = graft.io.Sources.table(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // streaming: update mode; with AvailableNow the final state per key is
    // the last emitted row for that key
    val stateStream = Replay.update(spark, sf, "events")(
      graft.streaming.StatefulOps.userCounts(_).toDF())
    val finalCounts = stateStream.groupBy("user_id")
      .agg(max("cnt").as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == batch)
  }

  // twsUserCountsTtl (the transformWithState TTL port) is NOT replayed
  // here: like its legacy twin, a TTL-stateful query keeps scheduling
  // micro-batches for time maintenance and never reports caught up, so
  // an AvailableNow drain spins forever — ContinuousSpec proves its
  // multi-batch counting, cross-batch state carry, and SILENT eviction
  // under a paced ProcessingTime trigger (the deployment shape).

  test("d12 incremental MinHash dedup: multi-batch replay ≡ batch d3") {
    // the incremental band/shingle store must emit exactly the batch
    // pairs, each exactly once, across a genuinely multi-batch replay —
    // and in the batch where the pair's later doc arrived, so the union
    // over batches is the full d3 answer with no dedup pass at read time
    val batch = rows(graft.ops.DedupOps.d3MinhashLsh(spark, sf))
    val (streamDf, nBatches) =
      withBatches(graft.streaming.IncrementalDedup.d12StreamMinhash(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch)
  }

  test("s11 streaming ANN ingest: stream-built index serves batch s3's answer") {
    val batch = rows(graft.ops.SimilarityOps.s3AnnIvf(spark, sf))
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.ingestServe(spark, sf,
        graft.ops.SimilarityOps.Flat, 1, org.apache.spark.sql.functions.col("vec_id")))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch)
    // query-time plan property (asserted here because the store only
    // exists after a replay): the probe reads cells FROM the store —
    // no centroid attach anywhere, so unlike s3 there is no BNLJ at
    // all, and the inverted-list read meets queries on the cell key
    streamDf.collect()
    val plan = streamDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "store probe re-ran quantizer assignment — query time must pay " +
        "zero assignment work over the corpus")
    assert(!plan.contains("CartesianProduct"))
  }

  test("d19 band-store compaction: mid-stream swap invisible to first-arrival joins, partitions bounded") {
    val half = graft.streaming.Replay.Waves / 2
    val (result, before, after, end, emitted) =
      graft.streaming.IncrementalDedup.d19WithStoreInfo(spark, sf)
    // the compaction genuinely consolidated: half the replay's batch
    // dirs collapse to ONE partition, and the listing stays bounded at
    // 1 + batches-since-compaction afterwards
    assert(before == half, s"pre-compaction store has $before partitions, expected $half")
    assert(after == 1, s"compacted store has $after partitions, expected 1")
    assert(end == 1 + half, s"post-stream store has $end partitions, expected ${1 + half}")
    // the pair OUTPUT ledger is untouched by compaction: one dir per batch
    assert(emitted == graft.streaming.Replay.Waves,
      s"pair ledger has $emitted batch dirs — compaction touched the output store")
    // the first-arrival claim end to end: the second half's batches read
    // the COMPACTED prior state, and the union still equals batch d3
    assert(rows(result) == rows(graft.ops.DedupOps.d3MinhashLsh(spark, sf)),
      "pair union diverged from batch d3 — the compacted store fed the join a different set")
  }

  test("compactStore preserves the row set exactly and stays inside the batch prune") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val work = Replay.workspace("graft_compact_")
    val store = s"$work/bands"
    // three batch partitions with overlapping keys (compaction must
    // keep duplicates across batches — these are SETS per batch, and
    // the first-arrival join counts on every prior row surviving)
    (0 until 3).foreach { b =>
      (0 until 20).map(i => (i.toLong + b, i % 4, s"v${i % 5}"))
        .toDF("doc_id", "bi", "bv")
        .write.parquet(s"$store/batch_id=$b")
    }
    def snapshot() = rows(spark.read.parquet(store).drop("batch_id")
      .orderBy("doc_id", "bi", "bv"))
    val pre = snapshot()
    graft.streaming.IncrementalDedup.compactStore(spark, store, "bv")
    val dirs = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName)
    assert(dirs.toSeq == Seq("batch_id=-1"), s"store dirs after compaction: ${dirs.toSeq}")
    assert(snapshot() == pre, "compaction changed the store's row multiset")
    // the prune rule every later batch applies still admits everything:
    // -1 sorts below any real batch id
    assert(spark.read.parquet(store).filter(col("batch_id") < 3).count() == pre.size)
    // every row lives in the consolidated partition — nothing strayed
    assert(spark.read.parquet(store).filter(col("batch_id") === -1).count() == pre.size)
  }

  test("a swap killed between its renames self-heals on the next compaction (crash window closed)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val work = Replay.workspace("graft_swapcrash_")
    val store = s"$work/bands"
    (0 until 3).foreach { b =>
      (0 until 20).map(i => (i.toLong + b, i % 4, s"v${i % 5}"))
        .toDF("doc_id", "bi", "bv")
        .write.parquet(s"$store/batch_id=$b")
    }
    def snapshot() = rows(spark.read.parquet(store).drop("batch_id")
      .orderBy("doc_id", "bi", "bv"))
    val pre = snapshot()
    // simulate the EXACT state a crash between swapStore's two renames
    // leaves: the live store retired aside (only copy at _retired), the
    // promote never executed, and the crashed attempt's consolidated
    // tmp dead on disk
    spark.read.parquet(store).drop("batch_id")
      .write.parquet(s"${store}_compacting/batch_id=-1")
    val retired = new java.io.File(store + "_retired")
    assert(new java.io.File(store).renameTo(retired),
      "fixture: could not simulate the crash state")
    // a bare read of the crash state heals it — the reader-side guard,
    // independent of any compaction being retried
    graft.streaming.StreamSketch.healRetiredStore(spark, store)
    assert(snapshot() == pre, "healed store lost rows")
    assert(!retired.exists, "heal left the store duplicated at _retired")
    // heal is a no-op on a healthy store (idempotent — a second call
    // must not touch anything)
    graft.streaming.StreamSketch.healRetiredStore(spark, store)
    assert(snapshot() == pre)
    // re-crash, then prove the RETRIED COMPACTION heals end to end:
    // restore from _retired, clear the dead tmp, rebuild, complete the
    // swap — no manual promotion anywhere
    assert(new java.io.File(store).renameTo(retired),
      "fixture: could not re-simulate the crash state")
    graft.streaming.IncrementalDedup.compactStore(spark, store, "bv")
    assert(snapshot() == pre, "retried compaction changed the row multiset")
    val dirs = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName)
    assert(dirs.toSeq == Seq("batch_id=-1"), s"store dirs after healed swap: ${dirs.toSeq}")
    assert(!retired.exists, "_retired debris survived the healed swap")
    assert(!new java.io.File(store + "_compacting").exists,
      "dead tmp survived the healed swap")
    // the loud branch: with NEITHER the store nor a _retired copy, the
    // swap refuses with the named instruction instead of silently
    // swapping in a tmp over nothing
    val ghost = s"$work/ghost"
    Seq((1L, 1, "v1")).toDF("doc_id", "bi", "bv")
      .write.parquet(s"${ghost}_compacting/batch_id=-1")
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamSketch.swapStore(spark, s"${ghost}_compacting", ghost)
    }
    assert(err.getMessage.contains("no _retired copy to recover"),
      s"swap on a missing store failed without the recovery instruction: ${err.getMessage}")
  }

  test("s23 hier streaming ingest: stream-built two-level index serves batch s22's answer, order-free") {
    import org.apache.spark.sql.functions._
    val batch = rows(graft.ops.SimilarityOps.s22AnnHier(spark, sf))
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.ingestServe(spark, sf,
        graft.ops.SimilarityOps.Hier, 1, col("vec_id")))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch)
    // the quantizer swap must be invisible downstream of the cell
    // column: the store probe still pays zero assignment work over the
    // corpus (no codebook attach = no BNLJ in the serve plan)
    streamDf.collect()
    val plan = streamDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "hier store probe re-ran quantizer assignment — query time must pay " +
        "zero assignment work over the corpus")
    assert(!plan.contains("CartesianProduct"))
    // order-free (the s11 move): each row assigns independently against
    // the static two-level codebook, so reversed arrival is the same set
    val (rev, nr) = withBatches(graft.streaming.StreamAnnIngest
      .ingestServe(spark, sf, graft.ops.SimilarityOps.Hier, 1, negate(col("vec_id"))))
    assert(nr == graft.streaming.Replay.Waves)
    assert(rows(rev) == batch,
      "reversed-arrival s23 diverged from batch s22 — hier index union is order-dependent")
  }

  test("s20 streaming radius alerts: per-arrival alert union ≡ batch s19, raised incrementally") {
    val batch = rows(graft.ops.SimilarityOps.s19AnnRadius(spark, sf))
    val ((streamDf, perBatchF), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.s20WithInfo(spark, sf))
    val perBatch = perBatchF()
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(batch.nonEmpty)
    // the union of the per-batch alert ledgers IS the batch radius answer
    assert(rows(streamDf) == batch,
      "streamed alerts diverged from the batch radius answer")
    // and the alerts were genuinely raised at arrival time across the
    // replay, not accumulated into one final batch — each s19 pair fires
    // in the batch its corpus vector arrived
    assert(perBatch.count(_ > 0) >= 2,
      s"alerts concentrated in one batch (${perBatch.mkString(",")}) — nothing incremental happened")
    assert(perBatch.sum == batch.size.toLong,
      "per-batch alert counts do not sum to the answer size — a pair fired twice or never")
  }

  test("s30 hier radius alerts: per-arrival alert union ≡ batch s29, raised incrementally") {
    // s20's alert verb under the two-level quantizer: the shared
    // scaffold swaps ONLY the assignment fold, so the per-arrival union
    // must land exactly on the batch hier radius answer — and the hier
    // cells must genuinely differ from the flat ones somewhere (else
    // the quantizer seam is vacuous on this fixture)
    val batch = rows(graft.ops.SimilarityOps.s29HierRadius(spark, sf))
    val ((streamDf, perBatchF), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.s30WithInfo(spark, sf))
    val perBatch = perBatchF()
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch,
      "streamed hier alerts diverged from the batch hier radius answer")
    assert(perBatch.count(_ > 0) >= 2,
      s"alerts concentrated in one batch (${perBatch.mkString(",")}) — nothing incremental happened")
    assert(perBatch.sum == batch.size.toLong,
      "per-batch alert counts do not sum to the answer size — a pair fired twice or never")
    assert(batch != rows(graft.ops.SimilarityOps.s19AnnRadius(spark, sf)),
      "hier and flat radius answers coincide on this fixture — the seam swap proved nothing")
  }

  test("s15 store-served multi-probe: stream-built index ≡ batch s3 at nprobe=2, fan-out touches only query rows") {
    val np = graft.streaming.StreamAnnIngest.MultiNprobe
    val batch = rows(graft.ops.SimilarityOps.s3AnnIvfProbe(spark, sf, np))
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.ingestServe(spark, sf,
        graft.ops.SimilarityOps.Flat, np, org.apache.spark.sql.functions.col("vec_id")))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(batch.nonEmpty)
    // multi-probe genuinely widens the answer set vs the nprobe=1 serve
    // (on this fixture some top-3 neighbours live in the second cell)
    val np1 = rows(graft.streaming.StreamAnnIngest.s11StreamAnnIngest(spark, sf))
    assert(batch != np1, "nprobe=2 answered identically to nprobe=1 — fixture exercises nothing")
    assert(rows(streamDf) == batch)
    // plan property: the fan-out is query-side only — the corpus-sized
    // store side never repartitions on cell (the query set rides a
    // broadcast into the equi-join, the s11 shape widened)
    streamDf.collect()
    val plan = streamDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val nCellExchanges = "hashpartitioning\\(cell".r.findAllMatchIn(plan).length
    assert(nCellExchanges == 0,
      s"store side repartitioned on cell ($nCellExchanges exchanges) — " +
        "the fan-out must touch only query rows")
  }

  test("s12 streaming deletes: tombstone-merged probe ≡ batch IVF over survivors, original quantizer") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin: assignment over SURVIVORS with the FULL-SET seeds
    // (deletes never retrain the coarse quantizer), probed identically
    val all = ops.normed(spark, sf)
    val seeds = ops.ivfSeedCentroids(all)
    val survivors = graft.streaming.StreamAnnIngest.survivorFilter(
      all.select("vec_id", "v", "nrm", "label"))
    val batch = rows(ops.probeAssigned(ops.assignCells(survivors, seeds)))
    val ((streamDf, drainsF), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.s12WithInfo(spark, sf))
    val drains = drainsF()
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    // the ledger drains per batch: requests for not-yet-arrived vectors
    // stay pending and are tombstoned by the batch their vector lands in
    assert(drains.length > 1,
      s"all tombstones registered in one batch (${drains.toSeq}) — " +
        "cross-batch pending-drain path never exercised")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch)
  }

  test("s13 compaction: query-invisible, tombstones retired, probe sheds the anti-join") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin is s12's: survivors under the original quantizer
    val all = ops.normed(spark, sf)
    val seeds = ops.ivfSeedCentroids(all)
    val survivors = graft.streaming.StreamAnnIngest.survivorFilter(
      all.select("vec_id", "v", "nrm", "label"))
    val batch = rows(ops.probeAssigned(ops.assignCells(survivors, seeds)))
    val (compDf, nLiveF, nDroppedF) =
      graft.streaming.StreamAnnIngest.s13WithStoreInfo(spark, sf)
    val (nLive, nDropped) = (nLiveF(), nDroppedF())
    // compaction actually dropped the tombstoned rows from the store
    assert(nDropped > 0, "no tombstones were registered — vacuous compaction")
    assert(nLive == survivors.count(),
      s"compacted store has $nLive rows, expected survivor count")
    assert(batch.nonEmpty)
    assert(rows(compDf) == batch, "compacted probe diverged from batch twin")
    // the probe paid no merge: compaction retired the anti-join entirely
    compDf.collect()
    val plan = compDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Anti"),
      "compacted probe still carries a tombstone anti-join")
  }

  test("s25 hier-store lifecycle: delete + compact over the hier-ingested store ≡ batch hier over survivors") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin: the TWO-LEVEL assignment over SURVIVORS with the
    // full-set codebook (deletes never retrain the quantizer — s12's
    // rule, unchanged by the quantizer swap), probed identically. This
    // is the check that converts s23's "the store layout is
    // byte-compatible, every lifecycle verb reads it unchanged" from
    // scaladoc prose to a row-for-row equality.
    val all = ops.normed(spark, sf)
    val survivors = graft.streaming.StreamAnnIngest.survivorFilter(
      all.select("vec_id", "v", "nrm", "label"))
    val batch = rows(ops.probeAssigned(
      ops.hierAssignCells(survivors, ops.ivfSeedCentroids(all), ops.HierSub)))
    val ((compDf, drainsF, nLiveF, nDroppedF), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.s25WithInfo(spark, sf))
    val (drains, nLive, nDropped) = (drainsF(), nLiveF(), nDroppedF())
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    // the ledger drains across batches (the out-of-order pending path)
    assert(drains.length > 1,
      s"all tombstones registered in one batch (${drains.toSeq}) — " +
        "cross-batch pending-drain path never exercised")
    assert(nDropped > 0, "no tombstones were registered — vacuous compaction")
    assert(nLive == survivors.count(),
      s"compacted hier store has $nLive rows, expected survivor count")
    assert(batch.nonEmpty)
    assert(rows(compDf) == batch, "compacted hier probe diverged from batch twin")
    // the probe paid no merge: compaction retired the anti-join entirely
    compDf.collect()
    val plan = compDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Anti"),
      "compacted hier probe still carries a tombstone anti-join")
  }

  test("s16 streaming upserts: latest-version probe ≡ batch IVF over the updated corpus, original quantizer") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin: assignment of the UPDATED corpus (the same
    // rotate-left-by-one rule, norm recomputed over the rotated fold
    // order) with the ORIGINAL full-set seeds — updates never retrain
    // the offline quantizer
    val all = ops.normed(spark, sf)
    val seeds = ops.ivfSeedCentroids(all)
    val updated = all.select("vec_id", "v", "nrm", "label")
      .withColumn("v",
        when(col("vec_id") % 20 === 3 && col("label") === 0,
          transform(col("v"), x => x * lit(1.25)))
          .when(col("vec_id") % 20 === 13 && col("label") === 0,
            concat(slice(col("v"), 2, 63), slice(col("v"), 1, 1)))
          .otherwise(col("v")))
      .withColumn("nrm", sqrt(ops.dot(col("v"), col("v"))))
    val batch = rows(ops.probeAssigned(ops.assignCells(updated, seeds)))
    val ((streamDf, nTombsF, nSameF, nMovedF), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.s16WithInfo(spark, sf))
    val (nTombs, nSame, nMoved) = (nTombsF(), nSameF(), nMovedF())
    // 4 corpus batches + the update wave
    assert(nBatches == graft.streaming.Replay.Waves + 1,
      s"replay ran $nBatches micro-batches — expected corpus batches + update wave")
    assert(nTombs > 0, "no prior entries were tombstoned — vacuous upsert run")
    // both replacement kinds exercised: a same-cell update proves the
    // 3-key (cell, vec_id, batch_id) anti-join precision (a 2-key merge
    // would shadow the new version); a cell-mover proves the old
    // inverted list is actually vacated
    assert(nSame > 0, "no same-cell replacement — the 3-key tombstone precision is untested")
    assert(nMoved > 0, "no cross-cell replacement — the cell-move path is untested")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch, "upserted probe diverged from the updated-corpus batch twin")
  }

  test("s27 hier upserts: latest-version probe ≡ batch hier over the updated corpus, original codebook") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin: the TWO-LEVEL assignment of the UPDATED corpus
    // with the original full-set codebook — the s16 twin with the
    // quantizer swapped, completing the lifecycle-verb matrix on the
    // hier store (delete+compact s25, multiprobe s24, retrain s26,
    // and now upsert)
    val all = ops.normed(spark, sf)
    val updated = all.select("vec_id", "v", "nrm", "label")
      .withColumn("v",
        when(col("vec_id") % 20 === 3 && col("label") === 0,
          transform(col("v"), x => x * lit(1.25)))
          .when(col("vec_id") % 20 === 13 && col("label") === 0,
            concat(slice(col("v"), 2, 63), slice(col("v"), 1, 1)))
          .otherwise(col("v")))
      .withColumn("nrm", sqrt(ops.dot(col("v"), col("v"))))
    val batch = rows(ops.probeAssigned(
      ops.hierAssignCells(updated, ops.ivfSeedCentroids(all), ops.HierSub)))
    val ((streamDf, nTombsF, nSameF, nMovedF), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.s27WithInfo(spark, sf))
    val (nTombs, nSame, nMoved) = (nTombsF(), nSameF(), nMovedF())
    assert(nBatches == graft.streaming.Replay.Waves + 1,
      s"replay ran $nBatches micro-batches — expected corpus batches + update wave")
    assert(nTombs > 0, "no prior entries were tombstoned — vacuous upsert run")
    // both replacement kinds must occur UNDER THE HIER CELLS: the
    // 1.25-scale class is cosine-invariant at both quantizer levels, so
    // its replacements provably stay in-cell (3-key precision); the
    // rotation class must still move some vector across a hier cell
    assert(nSame > 0, "no same-cell replacement under hier cells — 3-key precision untested")
    assert(nMoved > 0, "no cross-cell replacement under hier cells — the move path is untested")
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch,
      "hier upserted probe diverged from the updated-corpus hier batch twin")
  }

  test("s21 bulk serve over the stream-built hier store ≡ batch hier bulk serve") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the s21 × s23 composition: s23's SURVEY row claims the stored-
    // assignment serve reads the stream-built hier store unchanged —
    // prove it: the bulk top-1 read over the store's rows equals the
    // batch bulk serve over the same two-level assignment (both sides
    // fold candidates map-side; the store side paid assignment at
    // ingest, the batch twin pays it inline)
    val all = ops.normed(spark, sf)
    val batch = rows(ops.s21ServeAssigned(
      ops.hierAssignCells(all, ops.ivfSeedCentroids(all), ops.HierSub)))
    val (store, _) = graft.streaming.StreamAnnIngest.s23StoreAndCodebook(spark, sf)
    val served = rows(ops.s21ServeAssigned(
      spark.read.parquet(store).drop("batch_id")))
    assert(batch.nonEmpty)
    assert(served == batch,
      "bulk serve over the stream-built hier store diverged from the batch twin")
  }

  test("s23 × s26: the retrained codebook is a drop-in ingest artifact — stream under gen-1 ≡ batch retrain") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the full production cycle: ingest (s23) → retrain (s26) →
    // RE-INGEST under the gen-1 codebook. The ingest batches only read
    // the written artifact file, so the retrained two-level codebook —
    // sparse group ids and all — must plug in unchanged, and the
    // store-served probe must equal batch s26's answer exactly
    val expect = rows(ops.s26HierRetrain(spark, sf))
    val ((store, _), nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.runIngestStream(spark, sf,
        ops.Hier.retrained, col("vec_id")))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val served = rows(ops.probeAssigned(
      spark.read.parquet(store).drop("batch_id")))
    assert(expect.nonEmpty)
    assert(served == expect,
      "stream ingest under the retrained codebook diverged from batch s26")
  }

  test("s27 × s26: gen-1 retrain AFTER the upsert wave — marker flip serves the updated-corpus oracle") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the last unproven lifecycle sequence, in production order: upsert
    // wave first, THEN the retrain runs over the MERGED (latest-version)
    // store, the marker flips, and the serve must equal the closed-form
    // gen-1 chain over the UPDATED corpus — no stream anywhere in the
    // oracle side
    val (live, nBatches) = withBatches(graft.streaming.StreamAnnIngest.s27LiveRows(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves + 1,
      s"replay ran $nBatches micro-batches — expected corpus batches + update wave")
    val liveC = live.cache()
    try {
      // the retrain reads ONLY the store: M-step means of the live
      // rows' cells, gen-1 codebook by hierCentArr's closed form, then
      // an assignment sweep of the same live rows under gen-1
      val gen1 = ops.hierAssignWithCodebook(
        liveC.select("vec_id", "v", "nrm", "label"),
        ops.hierCentArr(ops.cellMeans(liveC), ops.HierSub))
      // marker-gated deployment: gen-0 = the upserted store as-is;
      // gen-1 lands uncommitted (must not leak), then ONE marker create
      // flips the serve
      val gens = Replay.workspace("graft_s27s26_") + "/gens"
      ops.s17WriteGeneration(liveC, gens, 0)
      val preFlip = rows(ops.s17ServeLatest(spark, gens))
      assert(preFlip == rows(ops.probeAssigned(liveC)),
        "gen-0 serve is not the upserted-store (s27) answer")
      ops.s17WriteGenData(gen1, gens, 1)
      assert(rows(ops.s17ServeLatest(spark, gens)) == preFlip,
        "uncommitted gen-1 leaked into the serve")
      ops.s17CommitGen(spark, gens, 1)
      val served = rows(ops.s17ServeLatest(spark, gens))
      // the closed-form oracle twin: the updated corpus under the
      // ORIGINAL codebook (s27's proven store content), M-step means,
      // gen-1 supers over survivors, re-assignment, probe — all batch
      val all = ops.normed(spark, sf)
      val updated = all.select("vec_id", "v", "nrm", "label")
        .withColumn("v",
          when(col("vec_id") % 20 === 3 && col("label") === 0,
            transform(col("v"), x => x * lit(1.25)))
            .when(col("vec_id") % 20 === 13 && col("label") === 0,
              concat(slice(col("v"), 2, 63), slice(col("v"), 1, 1)))
            .otherwise(col("v")))
        .withColumn("nrm", sqrt(ops.dot(col("v"), col("v"))))
      val gen0Assigned =
        ops.hierAssignCells(updated, ops.ivfSeedCentroids(all), ops.HierSub)
      val expect = rows(ops.probeAssigned(ops.hierAssignWithCodebook(
        updated, ops.hierCentArr(ops.cellMeans(gen0Assigned), ops.HierSub))))
      assert(expect.nonEmpty)
      assert(served != preFlip,
        "the retrain was a no-op on the fixture — the flip proved nothing")
      assert(served == expect,
        "post-flip serve diverged from the closed-form gen-1-over-updated-corpus answer")
    } finally { liveC.unpersist(); () }
  }

  test("p11 stream blend: ledger accretes per batch, final batch ≡ p9's batch view, totals monotone") {
    val (df, nBatches) = withBatches(graft.streaming.BlendMonitor.p11StreamBlend(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val ledger = df.collect()
    // the composition pin: after the final batch the arrived corpus IS
    // the whole table, so the last ledger rows must equal the batch
    // gate's (source, w, n_tok, budget) view exactly — the streaming
    // monitor and batch p9 read the same blend
    val streamFinal = ledger.filter(_.getLong(0) == nBatches - 1L)
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batchView = graft.ops.PipelineOps.p9WeightedMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(2))).toSet
    assert(streamFinal == batchView,
      "final-batch blend differs from p9's batch view of the same corpus")
    // totals accrete monotonically per source (a batch can only add)
    ledger.groupBy(_.getString(1)).foreach { case (s, rs) =>
      rs.sortBy(_.getLong(0)).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(3) <= b.getLong(3), s"$s totals shrank between batches")
        case _ =>
      }
    }
    // every batch names a binding source (budget == tot — kept whole)
    (0L until nBatches).foreach { b =>
      val br = ledger.filter(_.getLong(0) == b)
      assert(br.nonEmpty, s"batch $b emitted no ledger rows")
      assert(br.exists(r => r.getLong(4) == r.getLong(3)),
        s"batch $b has no binding source — the blend rule broke mid-stream")
    }
  }

  test("p12 blend-stats compaction: mid-stream sum fold invisible to the ledger, partitions bounded") {
    val half = graft.streaming.Replay.Waves / 2
    val ((df, before, after, end), nBatches) =
      withBatches(graft.streaming.BlendMonitor.p12WithStoreInfo(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"phased replay ran $nBatches micro-batches")
    // the fold genuinely consolidated: half the replay's stats dirs
    // collapse to ONE batch_id=-1 partition, then the listing stays
    // bounded at 1 + batches-since-compaction
    assert(before == half, s"pre-compaction stats store has $before partitions, expected $half")
    assert(after == 1, s"compacted stats store has $after partitions, expected 1")
    assert(end == 1 + half, s"post-stream stats store has $end partitions, expected ${1 + half}")
    // compaction is LEDGER-INVISIBLE: every (batch, source) blend row —
    // before and after the mid-stream fold — equals uncompacted p11's
    assert(rows(df) == rows(graft.streaming.BlendMonitor.p11StreamBlend(spark, sf)),
      "the blend ledger diverged after the mid-stream stats fold")
  }

  test("p13 stream sampler: ledger accretes per batch, final batch ≡ p9's sample, binding source whole") {
    val (df, nBatches) = withBatches(graft.streaming.StreamSampler.p13StreamSample(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val ledger = df.collect()
    // the composition pin: after the final batch the arrived corpus IS
    // the whole table, so the last batch's rows — kept counts AND the
    // kept-set digest — must equal p9's batch answer column for column
    val streamFinal = ledger.filter(_.getLong(0) == nBatches - 1L)
      .map(r => r.toSeq.drop(1)).toSet
    val batchView = graft.ops.PipelineOps.p9WeightedMixture(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(streamFinal == batchView,
      "final-batch sample ledger differs from p9's batch view of the same corpus")
    // every batch keeps its binding source whole (n_tok_sampled == tot
    // for at least one source) and never samples past any budget
    (0L until nBatches).foreach { b =>
      val br = ledger.filter(_.getLong(0) == b)
      assert(br.nonEmpty, s"batch $b emitted no ledger rows")
      assert(br.exists(r => r.getLong(3) == r.getLong(5)),
        s"batch $b has no binding source kept whole")
      // budgets are floors with the crossing doc kept, so sampled
      // tokens may exceed the budget only by the crossing doc — and
      // sampled docs never exceed arrived docs
      br.foreach { r =>
        assert(r.getLong(6) <= r.getLong(4), s"batch $b sampled more docs than arrived")
      }
    }
  }

  test("d20 streaming semdedup: multi-batch replay ≡ batch d18 pairs, reversed arrival too") {
    // the semantic family's stream ≡ batch claim at pair granularity:
    // the per-batch emissions union to exactly the batch hier SemDeDup
    // pair set (cosine + victim included), each pair exactly once —
    // and the victim rule reads only stored centroid cosines, so the
    // claim survives REVERSED arrival (order-free, like d12/s11 and
    // unlike the first-arrival funnels)
    import org.apache.spark.sql.functions._
    val batch = rows(graft.ops.SimilarityOps.d20BatchPairs(spark, sf))
    assert(batch.nonEmpty)
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSemDedup.d20StreamSemDedup(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(rows(streamDf) == batch)
    val (revDf, nRev) = withBatches(graft.streaming.StreamSemDedup
      .d20StreamSemDedup(spark, sf, negate(col("vec_id"))))
    assert(nRev == graft.streaming.Replay.Waves)
    assert(rows(revDf) == batch,
      "reversed-arrival d20 diverged from batch d18 pairs — emission is order-dependent")
  }

  test("d21 semantic-store compaction: mid-stream swap invisible to pair emission, partitions bounded") {
    // compact d20's assigned store at the adversarial moment — half the
    // arrivals shipped, half to come — and the pair union must still be
    // the batch hier SemDeDup answer exactly; the store listing must
    // genuinely consolidate (half the waves → 1) and stay bounded at
    // 1 + batches-since after
    val half = graft.streaming.Replay.Waves / 2
    val (result, before, after, end, crossPhaseF) =
      graft.streaming.StreamSemDedup.d21WithStoreInfo(spark, sf)
    val crossPhase = crossPhaseF()
    assert(before == half, s"phase A shipped $before store partitions, expected $half")
    assert(after == 1, s"compaction left $after partitions, expected 1")
    assert(end == 1 + half, s"post-phase listing $end, expected ${1 + half}")
    val batch = rows(graft.ops.SimilarityOps.d20BatchPairs(spark, sf))
    assert(batch.nonEmpty)
    assert(rows(result) == batch,
      "pair union diverged after the mid-stream store compaction")
    // the swap is proven LOAD-BEARING, not just harmless: at least one
    // phase-B pair's earlier side lives only in the consolidated
    // batch_id=-1 partition — that match could only have come through
    // the swapped store
    assert(crossPhase > 0,
      "no cross-phase pair matched through the consolidated partition — the swap was never exercised")
  }

  test("m15 streaming near-dup: final materialized set ≡ batch m13, reversed arrival too") {
    import org.apache.spark.sql.functions._
    val batch = rows(graft.ops.MultimodalOps.m13BmpNearDup(spark, sf))
    assert(batch.nonEmpty)
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamMediaDedup.m15StreamNearDup(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(rows(streamDf) == batch)
    // the per-batch re-derivation reads only the order-free fingerprint
    // store, so the final set must survive REVERSED arrival
    val docs = Sources.table(spark, sf, "documents").select("doc_id", "text")
      .withColumn("rk", lit(graft.streaming.Replay.Waves - 1)
        - pmod(col("doc_id"), lit(graft.streaming.Replay.Waves)))
    val ((revPairs, _), nRev) =
      withBatches(graft.streaming.StreamMediaDedup.runReplay(spark, docs, "rk"))
    assert(nRev == graft.streaming.Replay.Waves)
    assert(rows(revPairs) == batch,
      "reversed-arrival m15 diverged from batch m13 — the re-derivation is order-dependent")
  }

  test("m18 streaming audio near-dup: the shared runner's final set ≡ batch m14") {
    // the quantizer-seam claim on the fingerprint function: only
    // whashBandsFrom swaps in, so the audio stream must land exactly on
    // batch m14's pair set through the replay/store/delta machinery
    // m15 already proves order-free
    val batch = rows(graft.ops.MultimodalOps.m14WavNearDup(spark, sf))
    assert(batch.nonEmpty)
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamMediaDedup.m18StreamWavNearDup(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(rows(streamDf) == batch,
      "streamed audio near-dup diverged from batch m14")
  }

  test("m16 change feed: conservation, batch 0 all-additions, digest null-ness") {
    val (df, nBatches) = withBatches(graft.streaming.StreamMediaDedup.m16NearDupDelta(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves)
    val ledger = df.collect()
    assert(ledger.length == nBatches)
    // batch 0 diffs against the empty set: all additions, no retraction
    ledger.filter(_.getLong(0) == 0L).foreach { r =>
      assert(r.getLong(2) == r.getLong(1), "batch 0 has non-added pairs")
      assert(r.getLong(3) == 0L && r.isNullAt(5), "batch 0 retracted from an empty set")
    }
    // digests are null exactly when their direction is empty
    ledger.foreach { r =>
      assert((r.getLong(2) > 0) != r.isNullAt(4), "add_md5 null-ness diverged from n_added")
      assert((r.getLong(3) > 0) != r.isNullAt(5), "rm_md5 null-ness diverged from n_retracted")
    }
    // conservation: n_pairs(b) = n_pairs(b-1) + n_added(b) - n_retracted(b)
    val pairsAt = ledger.map(r => r.getLong(0) -> r.getLong(1)).toMap
    ledger.foreach { r =>
      val prev = pairsAt.getOrElse(r.getLong(0) - 1, 0L)
      assert(r.getLong(1) == prev + r.getLong(2) - r.getLong(3),
        s"conservation broke at batch ${r.getLong(0)}")
    }
  }

  test("m15/m16 planted over-the-cap clique: pairs emit while cold, RETRACT when the band crosses the df cap") {
    import org.apache.spark.sql.functions._
    val m = graft.streaming.Replay.Waves
    // 120 byte-identical payloads at a CONSTANT BMP width (doc_id ≡ 0
    // mod 17 pins buildBmp's 16 + id%17 geometry), so all 120 share one
    // fingerprint — every band value's df is exactly the arrived clique
    // size: 30/60/90 (cold, pairs emitted) then 120 > AHashDfMax (hot,
    // all four bands dropped, the clique's pairs must RETRACT). ids
    // 17k spread k mod 4 across the waves evenly; a distinct-text
    // background rides along so retraction is proven amid live data.
    val clique = spark.range(0, 120)
      .select((col("id") * 17L).as("doc_id"), lit("planted twin payload").as("text"))
    val bg = spark.range(0, 8)
      .select((col("id") * 17L + 5000L).as("doc_id"),
        concat(lit("background-"), col("id").cast("string"),
          lit(" payload with enough distinct bytes to matter")).as("text"))
    val docs = clique.unionByName(bg)
    val ((finalPairs, ledgerDf), n) =
      withBatches(graft.streaming.StreamMediaDedup.runReplay(spark, docs, "doc_id"))
    assert(n == m)
    val ledger = ledgerDf.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the per-batch LAW: after batch b, the materialized set is the
    // batch chain's answer over the arrived corpus — checked per wave
    // against a single all-at-once decode (the store-accretion path vs
    // the direct path)
    (0 until m).foreach { b =>
      val expected = graft.ops.MultimodalOps.bandedHammingPairs(
        graft.ops.MultimodalOps.ahashBandsFrom(
          docs.filter(pmod(col("doc_id"), lit(m.toLong)) <= b))).count()
      assert(ledger(b.toLong)._1 == expected,
        s"batch $b materialized ${ledger(b.toLong)._1} pairs, batch chain says $expected")
    }
    // the clique's pairs really were emitted while the band was cold…
    assert(ledger.values.map(_._1).max >= (90L * 89L) / 2L,
      "the cold-phase clique pairs never materialized")
    // …and really were retracted when it crossed the cap
    assert(ledger.values.map(_._3).sum >= (90L * 89L) / 2L,
      "crossing the df cap retracted nothing — the non-monotone rule is not enforced")
    // final ≡ batch over the full plant (retraction converges, not oscillates)
    val batchFinal = rows(graft.ops.MultimodalOps.bandedHammingPairs(
      graft.ops.MultimodalOps.ahashBandsFrom(docs)))
    assert(rows(finalPairs) == batchFinal)
    // BOTH digest directions pinned against an INDEPENDENT plain-Scala
    // derivation of the two-level fold (sub-bucket = a_id mod
    // DigestBuckets, 'a:b' strings, ',' separators) — the gate fixture
    // never retracts, so rm_md5's exact format is proven only here
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def foldDigest(pairs: Set[(Long, Long)]): String = {
      val subs = pairs.groupBy(p => p._1 % graft.streaming.StreamMediaDedup.DigestBuckets)
        .map { case (sb, ps) =>
          sb -> md5Hex(ps.toSeq.sorted.map(p => s"${p._1}:${p._2}").mkString(","))
        }
      md5Hex(subs.toSeq.sortBy(_._1).map(_._2).mkString(","))
    }
    def pairsAt(b: Int): Set[(Long, Long)] =
      graft.ops.MultimodalOps.bandedHammingPairs(
          graft.ops.MultimodalOps.ahashBandsFrom(
            docs.filter(pmod(col("doc_id"), lit(m.toLong)) <= b)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ledgerRows = ledgerDf.collect()
    val retractWave = ledgerRows.filter(_.getLong(3) > 0).map(_.getLong(0)).min.toInt
    val prevSet = pairsAt(retractWave - 1)
    val curSet = pairsAt(retractWave)
    assert(ledgerRows.find(_.getLong(0) == retractWave).get.getString(5)
      == foldDigest(prevSet -- curSet),
      "rm_md5 diverged from the independent two-level fold of the retracted set")
    assert(ledgerRows.find(_.getLong(0) == 0L).get.getString(4)
      == foldDigest(pairsAt(0)),
      "batch-0 add_md5 diverged from the independent two-level fold of the added set")
  }

  test("m19 fingerprint-store compaction: mid-stream swap invisible to the pair set, partitions bounded") {
    // compact m15's fingerprint store at the adversarial moment — half
    // the arrivals shipped, half to come — and the final materialized
    // set must still be batch m13's answer exactly; the store listing
    // must genuinely consolidate (half the waves → 1) and stay bounded
    // at 1 + batches-since after
    val half = graft.streaming.Replay.Waves / 2
    val (result, before, after, end, crossPhaseF) =
      graft.streaming.StreamMediaDedup.m19WithStoreInfo(spark, sf)
    val crossPhase = crossPhaseF()
    assert(before == half, s"phase A shipped $before store partitions, expected $half")
    assert(after == 1, s"compaction left $after partitions, expected 1")
    assert(end == 1 + half, s"post-phase listing $end, expected ${1 + half}")
    val batch = rows(graft.ops.MultimodalOps.m13BmpNearDup(spark, sf))
    assert(batch.nonEmpty)
    assert(rows(result) == batch,
      "final pair set diverged after the mid-stream fingerprint-store compaction")
    // the swap is proven LOAD-BEARING, not just harmless: at least one
    // final pair's earlier side lives only in the consolidated
    // batch_id=-1 partition — its candidate match, df contribution, and
    // Hamming verify could only have come through the swapped store
    assert(crossPhase > 0,
      "no cross-phase pair matched through the consolidated partition — the swap was never exercised")
  }

  test("m20 streaming consensus: final channel-tagged set ≡ batch m17, ledger conserves") {
    val batch = rows(graft.ops.MultimodalOps.m17ConsensusNearDup(spark, sf))
    assert(batch.nonEmpty)
    val ((streamDf, ledgerDf), nBatches) =
      withBatches(graft.streaming.StreamMediaDedup.m20WithInfo(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    assert(rows(streamDf) == batch,
      "streamed consensus diverged from batch m17")
    // ledger rows are (batch_id, channel, n_pairs, n_added, n_retracted)
    // with added/retracted = channel-entering/-leaving
    val ledger = ledgerDf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // batch 0 diffs against the empty consensus: every channel row is
    // all-entering
    ledger.filter(_._1 == 0L).foreach { r =>
      assert(r._4 == r._3 && r._5 == 0L,
        s"batch 0 consensus diffed against a non-empty set: $r")
    }
    // PER-CHANNEL conservation: n_pairs(b,c) = n_pairs(b-1,c) + added - retracted
    val pairsAt = ledger.map(r => (r._1, r._2) -> r._3).toMap
    ledger.foreach { r =>
      val prev = pairsAt.getOrElse((r._1 - 1, r._2), 0L)
      assert(r._3 == prev + r._4 - r._5,
        s"consensus conservation broke at batch ${r._1} channel ${r._2}")
    }
    // the final batch's per-channel pair counts must sum to the final
    // set's cardinality (the ledger and the set are views of one state)
    val lastB = ledger.map(_._1).max
    assert(ledger.filter(_._1 == lastB).map(_._3).sum == rows(streamDf).length.toLong,
      "final ledger n_pairs diverged from the final consensus set")
    // and no channel vanishes silently: a channel with pairs at b-1 and
    // no row at b would break the conservation read above only if its
    // pairs reached zero with a row present — assert zero-crossing rows
    // exist whenever a (batch, channel) key disappears while non-empty
    val byBatch = ledger.groupBy(_._1)
    byBatch.toSeq.sortBy(_._1).sliding(2).foreach {
      case Seq((b0, rows0), (b1, rows1)) =>
        rows0.filter(_._3 > 0).map(_._2).foreach { ch =>
          assert(rows1.exists(_._2 == ch),
            s"channel $ch had pairs at batch $b0 but no ledger row at $b1")
        }
      case _ =>
    }
  }

  test("m20 planted channel flip: both→audio when ONE channel's band crosses its df cap") {
    import org.apache.spark.sql.functions._
    // Geometry of the plant (buildBmp keys on doc_id mod 17, buildWav's
    // sample layout on doc_id mod 2): all ids are multiples of 17 with
    // one payload text, so every doc shares ONE image fingerprint; ids
    // of equal PARITY share an audio fingerprint, opposite parity do
    // not (1- vs 2-channel block align moves every sampled slot).
    //   - pair (0, 34): both even — image dup AND audio dup;
    //   - crowd: 120 odd multiples of 17 (waves 1 and 3 only: 17·odd
    //     mod 4 ∈ {1, 3}) — image-identical to the pair, audio-distinct.
    // Timeline: wave 0 ships a=0; wave 1 ships 60 crowd (image band df
    // 61, cold → (a, crowd) image pairs); wave 2 ships b=34 → (a,b)
    // lands in BOTH channels; wave 3 ships the other 60 crowd → image
    // band df 122 crosses AHashDfMax=100, the IMAGE channel retracts
    // every clique pair — (a,b) flips both→audio (its audio band df is
    // 2, still cold). The crowd's own audio clique (df 120) crosses its
    // cap the same wave, so the final consensus is exactly {(0, 34,
    // audio)}.
    val m = graft.streaming.Replay.Waves
    assert(m == 4, "plant's wave arithmetic assumes 4 waves")
    val payload = lit("planted twin payload")
    val pair = spark.range(0, 2)
      .select((col("id") * 34L).as("doc_id"), lit("xx").as("lang"), payload.as("text"))
    val crowd = spark.range(0, 120)
      .select((col("id") * 34L + 17L).as("doc_id"), lit("xx").as("lang"),
        payload.as("text"))
    val docs = pair.unionByName(crowd)
    val ((finalDf, ledgerDf), n) =
      withBatches(graft.streaming.StreamMediaDedup.runConsensusReplay(spark, docs, "doc_id"))
    assert(n == m)
    // the flip really happened: the pair was `both` while cold and
    // `audio` after the image-side crossing
    val fin = finalDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(fin.toSeq == Seq((0L, 34L, "audio")),
      s"final consensus expected exactly {(0,34,audio)}, got ${fin.mkString(", ")}")
    // per-channel ledger: (batch, channel) -> (n_pairs, n_added, n_retracted)
    val ledger = ledgerDf.collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // wave 1: (a, crowd) pairs are image-only, crowd-internal pairs are
    // `both`; NOTHING lives in the audio channel on its own yet
    assert(ledger((1L, "image"))._1 > 0 && ledger((1L, "both"))._1 > 0)
    assert(!ledger.contains((1L, "audio")),
      "an audio-only pair existed before the flip wave — the plant's channel split is broken")
    // wave 2: b lands — (a,b) ENTERS `both`, (b, crowd) pairs enter `image`
    assert(ledger((2L, "both"))._2 >= 1L, "wave 2 added no both-pair — b never landed")
    // wave 3: the image-side cap crossing — `both` and `image` empty out
    // (the crowd's audio clique crosses its own cap the same wave), and
    // (a,b) FLIPS both→audio: one retraction from `both`, one entry into
    // `audio`, membership conserved
    assert(ledger((3L, "both")) == (0L, 0L, ledger((2L, "both"))._1),
      s"wave 3 should empty `both` entirely: ${ledger((3L, "both"))}")
    assert(ledger((3L, "image"))._1 == 0L,
      s"wave 3 should empty `image` entirely: ${ledger((3L, "image"))}")
    assert(ledger((3L, "audio")) == (1L, 1L, 0L),
      s"the (a,b) flip should be the audio channel's sole entry: ${ledger.get((3L, "audio"))}")
    // Note on flip directions: fingerprints are static and additions
    // require a batch-side member, so BOTH channels admit a pair in its
    // later member's arrival batch — a pair can never gain a channel
    // after arrival ("image→both when the second channel lands later"
    // is structurally impossible). The only cross-batch flips are
    // channel LOSSES (both→image / both→audio via one channel's cap
    // crossing), which is exactly what this plant pins.
    ()
  }

  test("m15/m16 torn-write redo: a re-run batch re-diffs against the COMMITTED previous set") {
    // the delta's one-batch-back read is the shape SinkSpec's generic
    // crash test doesn't cover: batch N dies after a torn cur/ledger
    // write, and the redo must (a) overwrite the torn output, (b) diff
    // against the committed N−1 set — never its own poison — and (c) a
    // second redo of an already-committed batch must be a no-op ledger-
    // wise (idempotent overwrite). Batches are driven directly; the
    // foreachBatch contract is exactly "re-invoke with the same id".
    import org.apache.spark.sql.functions._
    val md = graft.streaming.StreamMediaDedup
    val m = graft.streaming.Replay.Waves
    val docs = Sources.table(spark, sf, "documents").select("doc_id", "text")
    def wave(b: Int) = docs.filter(pmod(col("doc_id"), lit(m.toLong)) === b)
    val work = Replay.workspace("graft_mediaredo_")
    val (fp, cur, led) = (s"$work/fp", s"$work/cur", s"$work/ledger")
    val fpF = md.ImageFp
    md.processBatch(wave(0), 0L, fp, cur, led, fpF)
    md.processBatch(wave(1), 1L, fp, cur, led, fpF)
    // torn batch 2: poison pair rows + a poison ledger row got down
    // before the crash
    spark.range(1).select(lit(-7L).as("a_id"), lit(-3L).as("b_id"), lit(0L).as("hamming"))
      .write.mode("overwrite").parquet(s"$cur/batch_id=2")
    spark.range(1).select(lit(999L).as("n_pairs"), lit(999L).as("n_added"),
        lit(999L).as("n_retracted"), lit("poison").as("add_md5"), lit("poison").as("rm_md5"))
      .write.mode("overwrite").parquet(s"$led/batch_id=2")
    md.processBatch(wave(2), 2L, fp, cur, led, fpF) // the redo
    md.processBatch(wave(3), 3L, fp, cur, led, fpF)
    // (c) retry of a COMMITTED batch: ledger row byte-identical after
    def readLedger() = spark.read.parquet(led)
      .select(col("batch_id").cast("long").as("batch_id"), col("n_pairs"),
        col("n_added"), col("n_retracted"), col("add_md5"), col("rm_md5"))
      .orderBy("batch_id").collect().toSeq
    val ledgerBefore = readLedger()
    md.processBatch(wave(2), 2L, fp, cur, led, fpF)
    val ledgerAfter = readLedger()
    assert(ledgerAfter == ledgerBefore, "retrying a committed batch changed the ledger")
    // no poison anywhere; final set ≡ the batch chain; conservation holds
    assert(spark.read.parquet(cur).filter(col("a_id") < 0).count() == 0,
      "torn pair rows survived the redo")
    val batchFinal = rows(graft.ops.MultimodalOps.bandedHammingPairs(
      graft.ops.MultimodalOps.ahashBandsFrom(docs)))
    val streamFinal = rows(spark.read.parquet(s"$cur/batch_id=${m - 1}")
      .select("a_id", "b_id", "hamming").orderBy("a_id", "b_id"))
    assert(streamFinal == batchFinal, "redone stream diverged from the batch chain")
    ledgerAfter.foreach { r =>
      assert(r.getLong(1) != 999L && r.getString(4) != "poison",
        "the poison ledger row survived the redo")
    }
    val pairsAtB = ledgerAfter.map(r => r.getLong(0) -> r.getLong(1)).toMap
    ledgerAfter.foreach { r =>
      val prev = pairsAtB.getOrElse(r.getLong(0) - 1, 0L)
      assert(r.getLong(1) == prev + r.getLong(2) - r.getLong(3),
        s"conservation broke at batch ${r.getLong(0)} after the redo")
    }
  }

  test("m20/m21 torn-write redo: a re-run consensus batch re-diffs against the COMMITTED previous set") {
    // m15's redo law lifted to the consensus + cons_ledger stores: the
    // per-channel ledger adds a SECOND one-batch-back read (the diff
    // against the committed N−1 consensus) on top of the chains' own
    // redo law, so a redone batch must overwrite torn consensus/ledger
    // output AND re-diff against committed N−1, never its own poison.
    // Batches are driven directly through consensusStep — the
    // foreachBatch contract is exactly "re-invoke with the same id".
    import org.apache.spark.sql.functions._
    val md = graft.streaming.StreamMediaDedup
    val m = graft.streaming.Replay.Waves
    val docs = Sources.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    def wave(b: Int) = docs.filter(pmod(col("doc_id"), lit(m.toLong)) === b)
    val work = Replay.workspace("graft_consredo_")
    md.consensusStep(wave(0), 0L, work)
    md.consensusStep(wave(1), 1L, work)
    // torn batch 2: poison consensus pairs, a poison per-channel ledger
    // row, and a torn image-chain materialized set all got down before
    // the crash — the redo must leave no trace of any of them
    spark.range(1).select(lit(-7L).as("a_id"), lit(-3L).as("b_id"),
        lit("both").as("channel"), lit(0L).as("img_hamming"),
        lit(0L).as("aud_hamming"))
      .write.mode("overwrite").parquet(s"$work/consensus/batch_id=2")
    spark.range(1).select(lit("image").as("channel"), lit(999L).as("n_pairs"),
        lit(999L).as("n_added"), lit(999L).as("n_retracted"))
      .write.mode("overwrite").parquet(s"$work/cons_ledger/batch_id=2")
    spark.range(1).select(lit(-7L).as("a_id"), lit(-3L).as("b_id"),
        lit(0L).as("hamming"))
      .write.mode("overwrite").parquet(s"$work/img_cur/batch_id=2")
    md.consensusStep(wave(2), 2L, work) // the redo
    (3 until m).foreach(b => md.consensusStep(wave(b), b.toLong, work))
    def readLedger() = spark.read.parquet(s"$work/cons_ledger")
      .select(col("batch_id").cast("long").as("batch_id"), col("channel"),
        col("n_pairs"), col("n_added"), col("n_retracted"))
      .orderBy("batch_id", "channel").collect().toSeq
    // retry of a COMMITTED batch: ledger byte-identical after (the
    // chains re-derive from the store pruned to batch_id <= 2, the
    // consensus re-diffs against committed batch 1)
    val ledgerBefore = readLedger()
    md.consensusStep(wave(2), 2L, work)
    val ledgerAfter = readLedger()
    assert(ledgerAfter == ledgerBefore,
      "retrying a committed consensus batch changed the ledger")
    // no poison anywhere; final set ≡ batch m17; conservation per channel
    assert(spark.read.parquet(s"$work/consensus").filter(col("a_id") < 0)
      .count() == 0, "torn consensus rows survived the redo")
    val batchFinal = rows(graft.ops.MultimodalOps.m17ConsensusNearDup(spark, sf))
    val streamFinal = rows(spark.read.parquet(s"$work/consensus/batch_id=${m - 1}")
      .select("a_id", "b_id", "channel", "img_hamming", "aud_hamming")
      .orderBy("a_id", "b_id"))
    assert(streamFinal == batchFinal,
      "redone consensus stream diverged from batch m17")
    ledgerAfter.foreach { r =>
      assert(r.getLong(2) != 999L && r.getLong(3) != 999L,
        "the poison ledger row survived the redo")
    }
    val pairsAt = ledgerAfter
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    ledgerAfter.foreach { r =>
      val prev = pairsAt.getOrElse((r.getLong(0) - 1, r.getString(1)), 0L)
      assert(r.getLong(2) == prev + r.getLong(3) - r.getLong(4),
        s"per-channel conservation broke at batch ${r.getLong(0)}/" +
          s"${r.getString(1)} after the redo")
    }
  }

  test("p14 sample delta: conservation per source, batch 0 all-additions, both directions occur, final blend ≡ p9") {
    val (df, nBatches) = withBatches(graft.streaming.StreamSampler.p14SampleDelta(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val ledger = df.collect()
    assert(ledger.nonEmpty)
    // batch 0 compares against the empty blend: every kept doc is an
    // addition, nothing can be evicted
    ledger.filter(_.getLong(0) == 0L).foreach { r =>
      assert(r.getLong(3) == r.getLong(2), "batch 0 has non-added kept docs")
      assert(r.getLong(4) == 0L && r.isNullAt(6), "batch 0 evicted from an empty blend")
    }
    // digests are null exactly when their direction is empty
    ledger.foreach { r =>
      assert((r.getLong(3) > 0) != r.isNullAt(5), "added_md5 null-ness diverged from n_added")
      assert((r.getLong(4) > 0) != r.isNullAt(6), "evicted_md5 null-ness diverged from n_evicted")
    }
    // the delta is a real two-direction feed on this corpus: additions
    // after batch 0 and at least one eviction (the non-monotone keep
    // set p13's scaladoc warns about, observed not assumed)
    assert(ledger.exists(r => r.getLong(0) > 0 && r.getLong(3) > 0), "no additions after batch 0")
    assert(ledger.exists(_.getLong(4) > 0), "no evictions anywhere — the feed is vacuously monotone")
    // conservation: n_kept(b) = n_kept(b-1) + n_added(b) - n_evicted(b)
    // per source (a missing earlier row is an empty blend)
    val keptAt = ledger.map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    ledger.foreach { r =>
      val prev = keptAt.getOrElse((r.getLong(0) - 1, r.getString(1)), 0L)
      assert(r.getLong(2) == prev + r.getLong(3) - r.getLong(4),
        s"conservation broke for (${r.getLong(0)}, ${r.getString(1)})")
    }
    // the composition pin: after the final batch the blend is p9's —
    // per-source kept counts must match p9's n_docs_sampled
    val finalKept = ledger.filter(_.getLong(0) == nBatches - 1L)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val p9 = graft.ops.PipelineOps.p9WeightedMixture(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(finalKept == p9,
      "final-batch kept counts diverged from p9's batch blend")
  }

  test("p11 blendBatch heals a crashed swap BEFORE its per-batch write: totals stay full-history") {
    import org.apache.spark.sql.functions._
    val sm = graft.streaming.Replay.Waves
    val work = Replay.workspace("graft_blendheal_")
    val stats = s"$work/stats"
    val ledger = s"$work/ledger"
    val docs = Sources.table(spark, sf, "documents").select("doc_id", "source", "text")
    def wave(b: Int) = docs.filter(col("doc_id") % sm === b)
    graft.streaming.BlendMonitor.blendBatch(wave(0), 0L, stats, ledger)
    graft.streaming.BlendMonitor.blendBatch(wave(1), 1L, stats, ledger)
    // simulate the crash window between swapStore's renames: the live
    // stats store is absent, the only full-history copy sits at _retired
    val fs = new org.apache.hadoop.fs.Path(stats)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(stats),
      new org.apache.hadoop.fs.Path(stats + "_retired")))
    // the NEXT batch must heal first — writing batch_id=2 into a fresh
    // store before the heal would collapse totals to one batch's partial
    graft.streaming.BlendMonitor.blendBatch(wave(2), 2L, stats, ledger)
    val expected = docs.filter(col("doc_id") % sm <= 2)
      .select(col("source"), size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .groupBy("source").agg(sum("n_tok").as("tot"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = spark.read.parquet(s"$ledger/batch_id=2")
      .select("source", "tot")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected,
      "batch-2 totals are not full-history — the heal did not run before the per-batch write")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stats + "_retired")),
      "heal left _retired debris alongside a live store")
  }

  test("s16 compaction after upserts: version-tombstones retire like delete-tombstones, one row per vec_id") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    val all = ops.normed(spark, sf)
    val seeds = ops.ivfSeedCentroids(all)
    val updated = all.select("vec_id", "v", "nrm", "label")
      .withColumn("v",
        when(col("vec_id") % 20 === 3 && col("label") === 0,
          transform(col("v"), x => x * lit(1.25)))
          .when(col("vec_id") % 20 === 13 && col("label") === 0,
            concat(slice(col("v"), 2, 63), slice(col("v"), 1, 1)))
          .otherwise(col("v")))
      .withColumn("nrm", sqrt(ops.dot(col("v"), col("v"))))
    val batch = rows(ops.probeAssigned(ops.assignCells(updated, seeds)))
    val (compDf, nLive, nDupIds) =
      graft.streaming.StreamAnnIngest.s16CompactedInfo(spark, sf)
    // the rewrite kept exactly the latest version of every vector
    assert(nDupIds == 0, s"$nDupIds vec_ids kept multiple versions after compaction")
    assert(nLive == all.count(), s"compacted store has $nLive rows, expected one per vector")
    assert(rows(compDf) == batch, "compacted upsert store diverged from the updated-corpus twin")
    // the probe paid no merge: compaction retired the version-tombstones
    compDf.collect()
    val plan = compDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Anti"),
      "compacted upsert probe still carries a version anti-join")
  }

  test("s14 partial compaction: mixed-state serve ≡ s12, anti-join only on the uncompacted branch") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin is s12's: survivors under the original quantizer
    val all = ops.normed(spark, sf)
    val seeds = ops.ivfSeedCentroids(all)
    val survivors = graft.streaming.StreamAnnIngest.survivorFilter(
      all.select("vec_id", "v", "nrm", "label"))
    val batch = rows(ops.probeAssigned(ops.assignCells(survivors, seeds)))
    val (served, compProbe, uncompProbe, nRetiredF, nPendingF) =
      graft.streaming.StreamAnnIngest.s14WithBranches(spark, sf)
    val (nRetired, nPending) = (nRetiredF(), nPendingF())
    // genuinely mixed state: tombstones were retired by the partial
    // rewrite AND are still being merged at query time on the remainder
    assert(nRetired > 0, "no tombstones in the compacted subset — vacuous partial compaction")
    assert(nPending > 0, "no tombstones left uncompacted — this is s13, not a partial state")
    // both branches actually serve queries
    assert(compProbe.select("q_id").distinct().count() > 0,
      "no query lives in a compacted cell — compacted branch untested")
    assert(uncompProbe.select("q_id").distinct().count() > 0,
      "no query lives in an uncompacted cell — uncompacted branch untested")
    // compaction progress is query-invisible: the mixed serve is s12's
    // answer verbatim (cells partition the probe, so the branch union is
    // exact, not approximate)
    assert(batch.nonEmpty)
    assert(rows(served) == batch, "mixed-state serve diverged from s12's answer")
    // per-branch plan shape: the compacted branch paid its merge at
    // rewrite time (no anti-join), the uncompacted branch still pays it
    compProbe.collect()
    val compPlan = compProbe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!compPlan.contains("Anti"),
      "compacted branch still carries a tombstone anti-join")
    uncompProbe.collect()
    val uncompPlan = uncompProbe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(uncompPlan.contains("Anti"),
      "uncompacted branch lost its tombstone merge — deleted rows would serve")
  }

  test("s14 × s25: hier partial compaction — mixed-state serve ≡ hier survivors, anti-join only uncompacted") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the final verb of s23's layout-compat claim: s14's mixed-state
    // decomposition (cells partition the probe at nprobe=1) is
    // quantizer-independent once cells exist, so the partial rewrite
    // over the HIER delete stream must serve the hier survivor twin
    // verbatim, with the tombstone merge confined to the uncompacted
    // branch — the same laws the flat s14 case pins
    val all = ops.normed(spark, sf)
    val survivors = graft.streaming.StreamAnnIngest.survivorFilter(
      all.select("vec_id", "v", "nrm", "label"))
    val batch = rows(ops.probeAssigned(
      ops.hierAssignCells(survivors, ops.ivfSeedCentroids(all), ops.HierSub)))
    val (_, comp, uncomp, nRetiredF, nPendingF) =
      graft.streaming.StreamAnnIngest.hierPartialCompactState(spark, sf)
    val (nRetired, nPending) = (nRetiredF(), nPendingF())
    assert(nRetired > 0, "no tombstones in the compacted subset — vacuous partial compaction")
    assert(nPending > 0, "no tombstones left uncompacted — this is s25's endpoint, not a partial state")
    val compProbe = ops.probeAssigned(comp)
    val uncompProbe = ops.probeAssigned(uncomp)
    assert(compProbe.select("q_id").distinct().count() > 0,
      "no query lives in a compacted hier cell — compacted branch untested")
    assert(uncompProbe.select("q_id").distinct().count() > 0,
      "no query lives in an uncompacted hier cell — uncompacted branch untested")
    val served = rows(compProbe.unionByName(uncompProbe).orderBy("q_id", "rnk"))
    assert(batch.nonEmpty)
    assert(served == batch, "hier mixed-state serve diverged from the hier survivor twin")
    compProbe.collect()
    val compPlan = compProbe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!compPlan.contains("Anti"),
      "compacted hier branch still carries a tombstone anti-join")
    uncompProbe.collect()
    val uncompPlan = uncompProbe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(uncompPlan.contains("Anti"),
      "uncompacted hier branch lost its tombstone merge — deleted rows would serve")
  }

  test("s15 × s14: multiprobe over the mixed compacted/uncompacted store ≡ batch multiprobe over survivors") {
    import org.apache.spark.sql.functions._
    val ops = graft.ops.SimilarityOps
    // the batch twin: s12's survivor twin widened to nprobe=MultiNprobe
    // (original quantizer — compaction never retrains)
    val all = ops.normed(spark, sf)
    val seeds = ops.ivfSeedCentroids(all)
    val survivors = graft.streaming.StreamAnnIngest.survivorFilter(
      all.select("vec_id", "v", "nrm", "label"))
    val np = graft.streaming.StreamAnnIngest.MultiNprobe
    val batch = rows(ops.probeAssignedMulti(
      ops.assignCells(survivors, seeds), seeds, np))
    assert(batch.nonEmpty)
    val (served, nRetiredF, nPendingF) =
      graft.streaming.StreamAnnIngest.s14MultiprobeMixed(spark, sf)
    val (nRetired, nPending) = (nRetiredF(), nPendingF())
    // genuinely mixed state, as in the s14 case
    assert(nRetired > 0 && nPending > 0,
      s"not a mixed state (retired=$nRetired, pending=$nPending)")
    // the composition claim: compaction progress is invisible to the
    // MULTIPROBE read too — at nprobe>1 a query's top-k can span the
    // compaction frontier, so this is not implied by the s14 case
    assert(rows(served) == batch,
      "mixed-store multiprobe diverged from the batch multiprobe twin")
    // and multiprobe genuinely widened vs the nprobe=1 mixed serve
    val (np1, _, _, _, _) = graft.streaming.StreamAnnIngest.s14WithBranches(spark, sf)
    assert(rows(np1) != batch,
      "nprobe=2 mixed serve equals nprobe=1 — composition exercises nothing")
  }

  test("p2 streaming funnel head: multi-batch replay ≡ batch p1 stages") {
    import org.apache.spark.sql.functions._
    // the streamed ledger's head stages must equal batch p1's exactly:
    // p1 labels 'exact' FIRST among eligible docs, so its n_exact_dup is
    // the same min-doc_id-per-digest count p2's first-arrival store
    // implements, and p2's n_kept must equal everything p1's tail stages
    // (near/contam/kept) still hold — the funnel prefix is stage-exact
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamFunnel.p2StreamFunnel(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val p1 = graft.ops.PipelineOps.p1PipelineLedger(spark, sf)
      .select(col("lang"), col("source"), col("n_docs"), col("n_eval"),
        col("n_fail_quality"), col("n_exact_dup"),
        (col("n_near_dup") + col("n_contam") + col("n_kept")).as("n_kept"))
    val joined = streamDf.drop("tok_kept").as("s")
      .join(p1.as("b"), Seq("lang", "source"), "full")
    val bad = joined.filter(
      col("s.n_docs") =!= col("b.n_docs") || col("s.n_eval") =!= col("b.n_eval") ||
        col("s.n_fail_quality") =!= col("b.n_fail_quality") ||
        col("s.n_exact_dup") =!= col("b.n_exact_dup") ||
        col("s.n_kept") =!= col("b.n_kept"))
    assert(bad.count() == 0, "stream funnel head diverged from batch p1 stages")
  }

  test("p2 cross-batch dedup: planted duplicates are dropped, originals kept") {
    import org.apache.spark.sql.functions._
    // the natural fixtures contain no exact text duplicates, so the key
    // store never fires on them — plant copies of eligible docs at HIGH
    // doc_ids (they land in later range-batches than their originals,
    // forcing the dedup through the persisted store, not the
    // within-batch window) and require exactly the copies to drop
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val flagged = graft.ops.PipelineOps.headFlags(docs)
    assert(flagged.filter(!col("is_eval") && col("q"))
      .groupBy("norm_key").count().filter(col("count") > 1).count() == 0,
      "fixture unexpectedly has eligible exact dups — planting logic needs revisiting")
    val eligIds = flagged.filter(!col("is_eval") && col("q"))
      .orderBy("doc_id").limit(5).select("doc_id")
    val copies = docs.join(eligIds, Seq("doc_id"))
      .withColumn("doc_id", col("doc_id") + lit(1000000L)) // % EvalMod preserved
    val planted = docs.unionByName(copies)
    val (streamDf, nBatches) = withBatches(graft.streaming.StreamFunnel.p2From(planted))
    assert(nBatches == graft.streaming.Replay.Waves)
    val nExact = streamDf.agg(sum("n_exact_dup")).collect()(0).getLong(0)
    assert(nExact == 5, s"expected the 5 planted copies to drop, got $nExact")
    // and the ledger still balances doc-for-doc
    assert(streamDf.filter(
      col("n_eval") + col("n_fail_quality") + col("n_exact_dup") + col("n_kept")
        =!= col("n_docs")).count() == 0)
  }

  test("p2 key store stays a set: 3 copies of one doc across 3 batches") {
    import org.apache.spark.sql.functions._
    // regression: the store must register each digest ONCE. If every batch
    // appended all its eligible keys, a digest present in >=2 prior batches
    // would fan out the dedup join on its next arrival, duplicating label
    // rows (n_docs inflates). Force the scenario: stretch doc_ids by 11
    // (11 ≡ 1 mod EvalMod=10, so eval holdout is preserved and gaps open
    // up between ids), then plant copies of one eligible doc at ~30%, ~55%
    // and ~90% of the id range — three DIFFERENT later range-batches.
    val M = graft.ops.DedupOps.EvalMod
    val docs = graft.io.Sources.table(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") * (M + 1))
    val flagged = graft.ops.PipelineOps.headFlags(docs)
    val orig = flagged.filter(!col("is_eval") && col("q"))
      .agg(min("doc_id")).collect()(0).getLong(0)
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val taken = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    def placeNear(target: Long): Long = {
      var c = target - (target % M) + (orig % M) // c ≡ orig (mod M): not eval
      while (taken.contains(c)) c += M
      c
    }
    val copyIds = Seq(placeNear(maxId * 3 / 10), placeNear(maxId * 55 / 100),
      placeNear(maxId * 9 / 10))
    assert(copyIds.distinct.size == 3 && copyIds.forall(_ > orig))
    val original = docs.filter(col("doc_id") === orig)
    val copies = copyIds.map(id =>
      original.withColumn("doc_id", lit(id))).reduce(_ unionByName _)
    val planted = docs.unionByName(copies)
    val (streamDf, nBatches) = withBatches(graft.streaming.StreamFunnel.p2From(planted))
    assert(nBatches == graft.streaming.Replay.Waves)
    val totals = streamDf.agg(
      sum("n_docs").as("nd"), sum("n_exact_dup").as("ne")).collect()(0)
    assert(totals.getLong(0) == 503L,
      s"n_docs inflated to ${totals.getLong(0)} — store fan-out regression")
    assert(totals.getLong(1) == 3L,
      s"expected the 3 planted copies to drop as exact, got ${totals.getLong(1)}")
    assert(streamDf.filter(
      col("n_eval") + col("n_fail_quality") + col("n_exact_dup") + col("n_kept")
        =!= col("n_docs")).count() == 0)
  }

  test("p3 full funnel: multi-batch replay ≡ batch p1, all stages") {
    import org.apache.spark.sql.functions._
    // precondition for first-arrival ≡ d10's global keep-one on this
    // fixture: every non-representative cluster member pairs DIRECTLY
    // with a smaller doc (is a b_id of some verified pair) — a
    // chain-shaped cluster whose middle member pairs only upward would
    // void the parity claim (p3's scaladoc documents that price)
    val laterSides = graft.ops.DedupOps.d3MinhashLsh(spark, sf)
      .select("b_id").distinct()
    val orphans = graft.ops.DedupOps.d10DupClusters(spark, sf)
      .filter(col("cluster_id") =!= col("doc_id"))
      .join(laterSides, col("doc_id") === col("b_id"), "left_anti")
    assert(orphans.count() == 0,
      "fixture has a chain-shaped cluster — p3≡p1 parity not expected")
    val (streamDf, nBatches) =
      withBatches(graft.streaming.FullFunnel.p3StreamFunnel(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val p1 = rows(graft.ops.PipelineOps.p1PipelineLedger(spark, sf))
    assert(rows(streamDf) == p1, "online funnel diverged from batch p1")
  }

  test("p3 planted cross-batch near-dups: stream ≡ batch twin, copies drop as near") {
    import org.apache.spark.sql.functions._
    // plant TRUNCATED copies (first ~92% of tokens: J ≈ 0.92 ≥ 0.7 but a
    // different digest, so they must fall through the exact stage to the
    // near stage) of 3 long eligible docs at +1M doc_ids — a later
    // range-batch than every original, forcing the candidate join
    // through the PERSISTED band store
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val flagged = graft.ops.PipelineOps.headFlags(docs)
    val origIds = flagged.filter(!col("is_eval") && col("q") && col("wc") >= 60)
      .orderBy("doc_id").limit(3).select("doc_id")
    val copies = docs.join(origIds, Seq("doc_id"))
      .withColumn("doc_id", col("doc_id") + lit(1000000L)) // % EvalMod kept
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
      .withColumn("text", concat_ws(" ",
        expr("slice(toks, 1, cast(size(toks) * 0.92 as int))")))
      .drop("toks")
    val planted = docs.unionByName(copies)
    // the planting must be effective: copies eligible, and each one
    // Jaccard-verifies against its original at the near threshold
    val cf = graft.ops.PipelineOps.headFlags(planted)
      .filter(col("doc_id") >= 1000000L)
    assert(cf.filter(!col("is_eval") && col("q")).count() == 3,
      "planted copies not eligible — truncation broke quality/holdout")
    val copyPairs = origIds.select(col("doc_id").as("a_id"),
      (col("doc_id") + 1000000L).as("b_id"))
    val ver = graft.ops.DedupOps.jaccard(copyPairs, graft.ops.DedupOps.shingles(planted))
      .filter(col("jac") >= 0.7)
    assert(ver.count() == 3, "planted truncations failed to verify at J >= 0.7")
    val twin = rows(graft.streaming.FullFunnel.batchTwin(planted))
    val (streamDf, nBatches) = withBatches(graft.streaming.FullFunnel.p3From(planted))
    assert(nBatches == graft.streaming.Replay.Waves)
    assert(rows(streamDf) == twin, "stream diverged from the batch twin")
    // the fixture's natural near-dup count is 14 (deterministic md5/LSH,
    // no RNG anywhere); all 3 copies must drop as near on top of it
    val nNear = streamDf.agg(sum("n_near_dup")).collect()(0).getLong(0)
    assert(nNear == 17L, s"expected 14 natural + 3 planted near-dups, got $nNear")
  }

  test("x8 merged stream sketches ≡ single batch sketch, within 5% of exact") {
    import org.apache.spark.sql.functions._
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x8StreamSketch(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    // merge-invariance: HLL register maxima are order- and partition-
    // independent, so the union of 4 per-batch sketches must estimate
    // IDENTICALLY to one sketch built over the whole table
    val batch = rows(graft.streaming.StreamSketch.x8Batch(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch,
      "merged per-batch sketches diverged from the single-shot sketch")
    // declared error pin: lgK=12 → rsd ≈1.6%; allow 5% (≈3σ) vs exact
    val exact = graft.io.Sources.table(spark, sf, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    streamDf.collect().foreach { r =>
      val (exactUsers, exactEvents) = exact(r.getString(0))
      val approx = r.getLong(1)
      assert(math.abs(approx - exactUsers).toDouble / exactUsers <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exactUsers drifted >5%")
      assert(r.getLong(2) == exactEvents,
        s"${r.getString(0)}: additive exact count diverged")
    }
  }

  test("x9 merged stream histograms ≡ whole-table histogram, quantiles within one bucket of exact") {
    import org.apache.spark.sql.functions._
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x9StreamQuantile(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    // merge-exactness: histogram counts are additive, so the merged
    // per-batch store must reproduce the whole-table histogram EXACTLY
    val batch = rows(graft.streaming.StreamSketch.x9Batch(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch,
      "merged per-batch histograms diverged from the whole-table histogram")
    // declared error: the true quantile order statistic lies inside the
    // estimate's bucket, so |est - exact| <= BucketWidth — PROVIDED the
    // exact side uses the histogram's own rank convention. The histogram
    // reads the first bucket where cum >= q*total, i.e. the order
    // statistic of rank ceil(q*total); percentile_approx's rank
    // (~1 + q*(n-1)) can differ by one element and push an exact value
    // across a bucket boundary, so the exact twin is computed here with
    // the SAME ceil(q*total) rule.
    val w = graft.streaming.StreamSketch.BucketWidth
    val exact = graft.io.Sources.table(spark, sf, "events")
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        val vs = rs.map(_.getDouble(1)).sorted
        def q(p: Double): Double = vs(math.ceil(p * vs.length).toInt - 1)
        t -> (q(0.5), q(0.9))
      }
    streamDf.collect().foreach { r =>
      val (e50, e90) = exact(r.getString(0))
      assert(math.abs(r.getDouble(2) - e50) <= w,
        s"${r.getString(0)}: p50 est ${r.getDouble(2)} vs exact $e50 off >$w")
      assert(math.abs(r.getDouble(3) - e90) <= w,
        s"${r.getString(0)}: p90 est ${r.getDouble(3)} vs exact $e90 off >$w")
    }
  }

  test("x17 growth curve: telescoping exactness, monotone unions, differences track exact first appearances") {
    import org.apache.spark.sql.functions._
    val w17 = Replay.workspace("graft_growth17_")
    val (growth, nBatches) =
      withBatches(graft.streaming.StreamSketch.x17StreamGrowth(spark, sf, Some(w17)))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val g = growth.collect()
    assert(g.nonEmpty)
    // structural completeness of the union input: one partial per
    // (batch, type) actually present in the store — the relaxed
    // near-monotone pin below tolerates estimator jitter, so a DROPPED
    // tiny partial whose contribution hides under that allowance must
    // be caught here, by the store's shape, not statistically
    val partials = spark.read.parquet(s"$w17/sketches")
      .select(col("batch_id").cast("long"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(partials.length == partials.distinct.length,
      "duplicate sketch partials in the store")
    val want = graft.io.Sources.table(spark, sf, "events")
      .select(pmod(col("event_id"),
        lit(graft.streaming.Replay.Waves)).cast("long").as("b"),
        col("event_type"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    assert(partials.toSet == want.toSet,
      s"store holds ${partials.length} partials, expected one per populated " +
        s"(batch, type): missing ${(want.toSet -- partials.toSet).take(5)}")
    // telescoping: Σ approx_new per type ≡ the final cumulative
    // estimate EXACTLY — differences of a telescoping series
    val byType = g.groupBy(_.getString(1))
    byType.foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getLong(0))
      assert(sorted.map(_.getLong(2)).sum == sorted.last.getLong(3),
        s"$t: approx_new does not telescope to the final cumulative estimate")
      // near-monotone: the underlying union SET only grows, but the HLL
      // ESTIMATOR is not guaranteed monotone across its mode/register
      // transitions — a strictly-monotone pin would be flaky on other
      // fixtures. Allow the estimator a small dip (1% of the running
      // estimate, min 2): a real regression (a dropped partial shrinks
      // the union) moves far more than estimator jitter.
      assert(sorted.map(_.getLong(3)).sliding(2).forall(p =>
        p(1) >= p(0) - math.max(2L, math.round(0.01 * p(0)))),
        s"$t: cumulative estimate shrank beyond estimator jitter")
    }
    // accuracy: each batch's sketch-differenced new-user count within
    // the honest inclusion–exclusion bound of the exact first-appearance
    // count (absolute in the union size — differencing amplifies
    // relative error, x14's stated rule)
    val exact = graft.streaming.StreamSketch.x17Exact(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    g.foreach { r =>
      val key = (r.getString(1), r.getLong(0))
      val ex = exact.getOrElse(key, 0L)
      assert(math.abs(r.getLong(2) - ex) <= math.max(2L, math.round(0.05 * r.getLong(3))),
        s"$key: approx_new ${r.getLong(2)} vs exact $ex beyond 0.05·cum(${r.getLong(3)})")
    }
  }

  test("p6 incremental export: manifest ≡ from-scratch twin, rows spread across batches") {
    import org.apache.spark.sql.functions.col
    val (streamDf, nBatches) =
      withBatches(graft.streaming.IncrementalExport.p6IncrementalExport(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val twin = rows(graft.streaming.IncrementalExport.p6BatchTwin(spark, sf))
    assert(twin.nonEmpty)
    // the incremental ≡ from-scratch claim, digests included: every
    // manifest row the stream appended matches the closed-form replay
    assert(rows(streamDf) == twin,
      "incremental manifest diverged from the from-scratch derivation")
    // and the export genuinely accreted across the replay — multiple
    // batches contributed shards (the append-only motion happened)
    val batches = streamDf.select("batch_id").collect().map(_.getLong(0)).toSet
    assert(batches.size >= 2,
      s"manifest rows came from ${batches.size} batch(es) — nothing incremental")
    // the shard bound is observable, not just planned: no manifest row
    // packs more than ShardDocs docs (p4's cap, now shared by p6), and
    // the shard key genuinely splits at least one (batch, source) group
    val perRow = streamDf.select("n_docs").collect().map(_.getLong(0))
    assert(perRow.forall(_ <= graft.ops.TextOps.ShardDocs),
      s"a manifest row packs ${perRow.max} docs — beyond the ShardDocs bound")
    val groups = streamDf.select("batch_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(groups.length > groups.distinct.length,
      "no (batch, source) group spans multiple shards — the bound is untested here")
  }

  test("p6 crash between the manifest and keys writes: the resumed run heals the torn two-store state") {
    // SinkSpec proves single-store per-batch-overwrite redo safety; p6
    // writes TWO dependent stores per batch (manifest, then digest
    // keys), so a crash between them is a NEW tear shape: the batch's
    // manifest row exists but its digests are unregistered. The resumed
    // run redoes the batch from the checkpoint — priorKeys prunes to
    // batch_id < current, so the torn state is invisible to the redo —
    // and must end row-identical to the from-scratch derivation.
    val work = Replay.workspace("graft_p6crash_")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.IncrementalExport
        .p6IncrementalExport(spark, sf, crashAt = Some(2L), workDir = Some(work))
    }
    // the tear really happened: batch 2's manifest landed, its keys did not
    assert(new java.io.File(s"$work/manifest/batch_id=2").exists(),
      "crash fired before the manifest write — the tear under test never formed")
    assert(!new java.io.File(s"$work/keys/batch_id=2").exists(),
      "keys for the dying batch exist — the crash seam is after both writes")
    val resumed = graft.streaming.IncrementalExport
      .p6IncrementalExport(spark, sf, workDir = Some(work))
    val nBatches = Replay.countBatchDirs(s"$work/manifest")
    assert(nBatches == graft.streaming.Replay.Waves)
    assert(rows(resumed) ==
      rows(graft.streaming.IncrementalExport.p6BatchTwin(spark, sf)),
      "resumed export diverged from the from-scratch derivation — the torn state leaked")
  }

  test("x18 retention: vacuum shrinks the store and every windowed serve is byte-identical") {
    import graft.streaming.StreamSketch
    // the gate's own seam: histogram store — serve before ≡ serve
    // after, partitions genuinely deleted, retired ids = the pre-window
    // prefix
    val (after, beforeRows, retired, nBefore, nAfter) = StreamSketch.x18Detail(spark, sf)
    assert(rows(after) == beforeRows.map(_.toSeq.toVector).toVector,
      "histogram serve changed across the vacuum — retention touched the window")
    assert(retired.nonEmpty && nAfter == nBefore - retired.size,
      s"store kept $nAfter of $nBefore partitions but retired ${retired.size}")
    assert(retired == (0L until (Replay.Waves - StreamSketch.WindowBatches)),
      s"retired $retired — not the pre-window prefix")
    // the same invariance on the OTHER two store kinds (HLL registers,
    // CMS counters): build, serve (materialized BEFORE the vacuum),
    // vacuum, re-serve — byte-identical
    val w12 = Replay.workspace("graft_ret12_")
    val served12 = StreamSketch.x12StreamWindowDistinct(spark, sf, Some(w12))
    val n12 = Replay.countBatchDirs(s"$w12/sketches")
    val pre12 = rows(served12)
    val r12 = StreamSketch.vacuumBatches(spark, s"$w12/sketches",
      n12 - StreamSketch.WindowBatches)
    assert(r12.nonEmpty)
    assert(rows(StreamSketch.x12Serve(spark, s"$w12/sketches", n12)) == pre12,
      "HLL windowed serve changed across the vacuum")
    val w13 = Replay.workspace("graft_ret13_")
    val served13 = StreamSketch.x13StreamWindowCms(spark, sf, Some(w13))
    val n13 = Replay.countBatchDirs(s"$w13/counters")
    val pre13 = rows(served13)
    val r13 = StreamSketch.vacuumBatches(spark, s"$w13/counters",
      n13 - StreamSketch.WindowBatches)
    assert(r13.nonEmpty)
    assert(rows(StreamSketch.x13Serve(spark, s"$w13/counters",
      s"$w13/watchlist", n13)) == pre13,
      "CMS windowed serve changed across the vacuum")
  }

  test("x19 late ledger: stream ≡ closed-form twin, batch 0 all on-time, both guard branches fire, nothing lost") {
    import org.apache.spark.sql.functions.col
    val (streamDf, nBatches) =
      withBatches(graft.streaming.LateLedger.x19LateLedger(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    assert(stream.nonEmpty)
    // the stats-store watermark reproduces the closed-form expectation
    assert(stream == rows(graft.streaming.LateLedger.x19Batch(spark, sf)),
      "stream ledger diverged from the closed-form watermark derivation")
    val g = streamDf.collect()
    // batch 0 precedes any watermark: nothing can be late (Spark's rule)
    assert(g.filter(_.getLong(0) == 0L).forall(_.getLong(2) == 0L),
      "batch 0 dropped rows as late before any watermark existed")
    // the guard is non-trivial on the fixture: late AND on-time rows
    // both occur in every post-first batch
    (1L until nBatches).foreach { b =>
      val rs = g.filter(_.getLong(0) == b)
      assert(rs.map(_.getLong(2)).sum > 0, s"batch $b dropped nothing as late")
      assert(rs.map(_.getLong(3)).sum > 0, s"batch $b passed nothing as on-time")
    }
    // conservation: the ledger accounts for every event — late rows are
    // counted, never silently dropped
    val total = Sources.table(spark, sf, "events").count()
    assert(g.map(r => r.getLong(2) + r.getLong(3)).sum == total,
      "ledger totals do not partition the event table")
  }

  test("x19 crash between the ledger and stats writes: the resumed run heals the torn watermark source") {
    // p6's two-store tear shape on x19's pair: the dying batch's ledger
    // row lands but its max-event-time never registers — a later batch
    // reading the torn stats would compute a stale watermark. The redo
    // recomputes from batch_id < current (torn state invisible) and
    // must end row-identical to the closed-form derivation.
    val work = Replay.workspace("graft_x19crash_")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.LateLedger
        .x19LateLedger(spark, sf, crashAt = Some(2L), workDir = Some(work))
    }
    // the tear really happened: batch 2's ledger landed, its stats did not
    assert(new java.io.File(s"$work/ledger/batch_id=2").exists(),
      "crash fired before the ledger write — the tear under test never formed")
    assert(!new java.io.File(s"$work/stats/batch_id=2").exists(),
      "stats for the dying batch exist — the crash seam is after both writes")
    val resumed = graft.streaming.LateLedger
      .x19LateLedger(spark, sf, workDir = Some(work))
    val nBatches = Replay.countBatchDirs(s"$work/ledger")
    assert(nBatches == graft.streaming.Replay.Waves)
    assert(rows(resumed) == rows(graft.streaming.LateLedger.x19Batch(spark, sf)),
      "resumed ledger diverged from the closed-form derivation — the torn state leaked")
  }

  test("x16 streaming top-k: store-served ≡ batch twin, candidates recover the exact top-K, estimates overcount") {
    import org.apache.spark.sql.functions.col
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x16StreamTopk(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val batch = rows(graft.streaming.StreamSketch.x16Batch(spark, sf))
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch,
      "store-served top-k diverged from the batch candidate-union twin")
    // the candidate union's stated approximation does not bite on the
    // fixture: the served token set IS the exact top-K set (t6's rule)
    val served = streamDf.select("token").collect().map(_.getString(0)).toSet
    val exactTop = graft.ops.TextOps.t6CmsHeavyHitters(spark, sf)
      .select("token").collect().map(_.getString(0)).toSet
    assert(served == exactTop,
      s"candidate union missed heavy hitters: ${(exactTop -- served).mkString(",")}")
    // CMS overcount law on the served estimates
    val exactCnt = graft.ops.TextOps.t6CmsHeavyHitters(spark, sf)
      .select("token", "cnt").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    streamDf.collect().foreach { r =>
      val t = r.getString(0)
      assert(r.getLong(1) >= exactCnt(t),
        s"$t: cms_est ${r.getLong(1)} undercounts exact ${exactCnt(t)}")
    }
  }

  test("x15 drift read: store-served ≡ batch twin, IID split raises no alarm, injected drift flags every type") {
    import org.apache.spark.sql.functions.col
    // the store-served read (decimal partials merged by addition) must
    // equal the direct aggregation of the membership-rule slices exactly
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x15StreamDrift(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val batch = rows(graft.streaming.StreamSketch.x15Batch(spark, sf))
    assert(batch.nonEmpty)
    assert(rows(streamDf) == batch,
      "store-served drift read diverged from the direct slice aggregation")
    // the no-false-alarm law: an IID batch rule (event_id mod 4 is
    // independent of value) must NOT drift — a monitor that pages on
    // this fixture pages on everything
    assert(streamDf.filter(col("drifted") =!= 0L).count() == 0,
      "the IID split raised a drift alarm — the z statistic is miscalibrated")
    // and the alarm genuinely fires when drift exists: scaling the
    // latest batch's values 6× moves every type's mean far past the
    // DriftZ band of the (unchanged) prior distribution
    val injected = graft.streaming.StreamSketch.x15Batch(spark, sf, scaleLatest = 6.0)
    assert(injected.filter(col("drifted") =!= 1L).count() == 0,
      "a 6x-scaled latest batch failed to flag — the alarm never fires")
  }

  test("x8/x9 under reversed arrival: merged results are bit-identical — merge invariance holds under disorder") {
    import org.apache.spark.sql.functions._
    // the merge-invariance claim ("register maxima / count addition are
    // order-independent") asserted under a genuinely different batch
    // assignment: the REVERSED event order. Equality is against the
    // whole-table batch twin, i.e. also bit-identical to the ordered
    // replay's pinned result.
    val (x8Rev, n8) = withBatches(graft.streaming.StreamSketch
      .x8StreamSketch(spark, sf, negate(col("event_id"))))
    assert(n8 == graft.streaming.Replay.Waves)
    assert(rows(x8Rev) == rows(graft.streaming.StreamSketch.x8Batch(spark, sf)),
      "reversed-arrival HLL merge diverged — sketch merge is not order-independent")
    val (x9Rev, n9) = withBatches(graft.streaming.StreamSketch
      .x9StreamQuantile(spark, sf, negate(col("event_id"))))
    assert(n9 == graft.streaming.Replay.Waves)
    assert(rows(x9Rev) == rows(graft.streaming.StreamSketch.x9Batch(spark, sf)),
      "reversed-arrival histogram merge diverged — count addition is not order-independent")
  }

  test("d12/s11 under reversed arrival: still ≡ batch — no ordering precondition") {
    import org.apache.spark.sql.functions._
    // d12's candidate join is SYMMETRIC (least/greatest normalization,
    // both stores carry every arrived doc), so a pair is emitted exactly
    // once in the batch of its later ARRIVAL — whichever doc that is;
    // s11's index is a set union of independent assignments. Neither has
    // an ordering precondition, unlike the first-arrival funnels below —
    // proven here by replaying the reversed assignment to the same
    // batch answers.
    val (d12Rev, nd) = withBatches(graft.streaming.IncrementalDedup
      .d12StreamMinhash(spark, sf, negate(col("doc_id"))))
    assert(nd == graft.streaming.Replay.Waves)
    assert(rows(d12Rev) == rows(graft.ops.DedupOps.d3MinhashLsh(spark, sf)),
      "reversed-arrival d12 diverged from batch d3 — pair emission is order-dependent")
    val (s11Rev, ns) = withBatches(graft.streaming.StreamAnnIngest
      .ingestServe(spark, sf, graft.ops.SimilarityOps.Flat, 1, negate(col("vec_id"))))
    assert(ns == graft.streaming.Replay.Waves)
    assert(rows(s11Rev) == rows(graft.ops.SimilarityOps.s3AnnIvf(spark, sf)),
      "reversed-arrival s11 diverged from batch s3 — index union is order-dependent")
  }

  test("p3 under reversed arrival diverges from p1: the first-arrival precondition is load-bearing") {
    import org.apache.spark.sql.functions._
    // p3's near stage labels the batch doc only when it is the LARGER
    // side of a candidate pair (x.doc_id > y.doc_id) — exactly the
    // doc_id-ordered-arrival assumption. Reversed, every cross-batch
    // near-dup pair's larger doc arrives BEFORE its smaller partner and
    // is never labeled: the ledger loses near-dups and the p3 ≡ p1
    // parity breaks. This pins the precondition as load-bearing — an
    // unordered production feed MUST NOT reuse this gate's plan as-is.
    val (revDf, nBatches) = withBatches(graft.streaming.FullFunnel.p3From(
      graft.io.Sources.table(spark, sf, "documents"), negate(col("doc_id"))))
    assert(nBatches == graft.streaming.Replay.Waves)
    val rev = rows(revDf)
    val p1 = rows(graft.ops.PipelineOps.p1PipelineLedger(spark, sf))
    assert(rev != p1,
      "reversed-arrival p3 still equals p1 — the ordering precondition is vacuous")
    // the divergence is specifically lost near-dups (14 on the natural
    // fixture when ordered; same-batch pairs may still be caught)
    val nNear = revDf.agg(sum("n_near_dup")).collect()(0).getLong(0)
    assert(nNear < 14L,
      s"expected reversed arrival to miss cross-batch near-dups, got $nNear of 14")
  }

  test("p2 under reversed arrival diverges on a planted cross-group duplicate: first-arrival is load-bearing") {
    import org.apache.spark.sql.functions._
    // a duplicate pair whose members sit in DIFFERENT ledger groups
    // makes first-arrival visible at gate granularity: whichever member
    // arrives second is the group that books the exact-dup. Plant a
    // copy of an eligible doc under a fresh source at a HIGHER doc_id:
    // ordered, the copy's group books it; reversed, the ORIGINAL's
    // group does — the two ledgers must disagree.
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val flagged = graft.ops.PipelineOps.headFlags(docs)
    val origId = flagged.filter(!col("is_eval") && col("q"))
      .orderBy("doc_id").limit(1).select("doc_id")
    val copy = docs.join(origId, Seq("doc_id"))
      .withColumn("doc_id", col("doc_id") + lit(1000000L)) // % EvalMod kept
      .withColumn("source", lit("planted_src"))
    val planted = docs.unionByName(copy)
    val (ordDf, n1) = withBatches(graft.streaming.StreamFunnel.p2From(planted))
    val (revDf, n2) = withBatches(graft.streaming.StreamFunnel.p2From(planted, negate(col("doc_id"))))
    assert(n1 == graft.streaming.Replay.Waves && n2 == n1)
    val ord = rows(ordDf)
    val rev = rows(revDf)
    assert(ord != rev,
      "reversed-arrival p2 produced the ordered ledger — first-arrival is vacuous")
    // and the disagreement is exactly where it should be: ordered books
    // the exact-dup in the planted group, reversed books it in the
    // original's group (the planted copy was kept instead)
    val plantedExactOrd = ordDf.filter(col("source") === "planted_src")
      .agg(sum("n_exact_dup")).collect()(0).getLong(0)
    val plantedExactRev = revDf.filter(col("source") === "planted_src")
      .agg(sum("n_exact_dup")).collect()(0).getLong(0)
    assert(plantedExactOrd == 1L, s"ordered replay: planted group booked $plantedExactOrd exact-dups, expected 1")
    assert(plantedExactRev == 0L, s"reversed replay: planted group booked $plantedExactRev exact-dups, expected 0")
  }

  test("x10 merged stream CMS ≡ whole-table sketch; estimates dominate exact counts; order-independent") {
    import org.apache.spark.sql.functions._
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x10StreamCms(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    // merge-exactness: counters are additive, so the merged per-batch
    // store reproduces the whole-table sketch EXACTLY
    val batch = rows(graft.streaming.StreamSketch.x10Batch(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch,
      "merged per-batch CMS counters diverged from the whole-table sketch")
    // the CMS guarantee: an estimate never undercounts its term
    val exact = graft.io.Sources.table(spark, sf, "documents")
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    streamDf.collect().foreach { r =>
      assert(r.getLong(1) >= exact(r.getString(0)),
        s"${r.getString(0)}: est ${r.getLong(1)} undercounts exact ${exact(r.getString(0))}")
    }
    // arrival-order independence, same class as x8/x9: addition doesn't
    // care which batch a document landed in
    val revDf = graft.streaming.StreamSketch
      .x10StreamCms(spark, sf, negate(col("doc_id")))
    assert(rows(revDf) == batch,
      "reversed-arrival CMS merge diverged — counter addition is not order-independent")
  }

  test("x11 windowed serve from the partials store ≡ batch over the window's rows; window ≠ whole corpus") {
    import org.apache.spark.sql.functions._
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x11StreamWindowQuantile(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    // the pruned-store merge must equal one histogram over exactly the
    // window's rows (membership is the event_id mod rule, so the window
    // names a plain predicate — the same slice the oracle queries)
    val batch = rows(graft.streaming.StreamSketch.x11Batch(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch,
      "windowed store serve diverged from the window's batch histogram")
    // the window is genuinely a subset: its per-type counts must sum to
    // the window rows exactly and be strictly below the corpus total
    val winRows = Sources.table(spark, sf, "events")
      .filter(pmod(col("event_id"), lit(graft.streaming.Replay.Waves))
        >= graft.streaming.Replay.Waves
          - graft.streaming.StreamSketch.WindowBatches)
      .count()
    val total = Sources.table(spark, sf, "events").count()
    val served = streamDf.collect().map(_.getLong(1)).sum
    assert(served == winRows,
      s"windowed n_events sum $served != window row count $winRows")
    assert(served < total, "window spans the whole corpus — serve is vacuous")
    // the serve must PRUNE the store, not scan-then-filter: the batch_id
    // predicate has to reach the scan as a partition filter, so partials
    // outside the window are never even deserialized
    val plan = streamDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("batch_id")),
      "windowed serve lost its batch_id partition filter — old partials are being scanned")
  }

  test("x12 windowed distinct serve from the sketch store ≡ batch sketch over the window's rows, within 5% of exact") {
    import org.apache.spark.sql.functions._
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x12StreamWindowDistinct(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    // merge-invariance on the WINDOW: the union of the window's per-batch
    // sketches must estimate IDENTICALLY to one sketch built directly
    // over the window's rows (register maxima don't care about batching)
    val batch = rows(graft.streaming.StreamSketch.x12Batch(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch,
      "windowed sketch-store serve diverged from the window's batch sketch")
    // declared error pin vs exact distinct over the window slice, plus
    // the additive exact count — and the window must be a real subset
    val win = Sources.table(spark, sf, "events")
      .filter(pmod(col("event_id"), lit(graft.streaming.Replay.Waves))
        >= graft.streaming.Replay.Waves
          - graft.streaming.StreamSketch.WindowBatches)
    val exact = win.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    streamDf.collect().foreach { r =>
      val (exactUsers, exactEvents) = exact(r.getString(0))
      val approx = r.getLong(1)
      assert(math.abs(approx - exactUsers).toDouble / exactUsers <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exactUsers drifted >5%")
      assert(r.getLong(2) == exactEvents,
        s"${r.getString(0)}: additive exact count diverged")
    }
    assert(streamDf.collect().map(_.getLong(2)).sum <
      Sources.table(spark, sf, "events").count(),
      "window spans the whole corpus — serve is vacuous")
    // prune, don't scan-then-filter: old partials never deserialize
    val plan = streamDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("batch_id")),
      "windowed serve lost its batch_id partition filter — old partials are being scanned")
  }

  test("x13 windowed CMS serve from the counter store ≡ window batch sketch; estimates dominate window counts") {
    import org.apache.spark.sql.functions._
    val (streamDf, nBatches) =
      withBatches(graft.streaming.StreamSketch.x13StreamWindowCms(spark, sf))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val stream = rows(streamDf)
    // counters are integer sums: the pruned-window merge must equal the
    // window's direct sketch EXACTLY (same watchlist, window counters)
    val batch = rows(graft.streaming.StreamSketch.x13Batch(spark, sf))
    assert(stream.nonEmpty)
    assert(stream == batch,
      "windowed counter-store serve diverged from the window's batch sketch")
    // CMS overcount law on the WINDOW: every watched term's estimate
    // dominates its exact count within the window's rows — and at least
    // one watched term has fewer window occurrences than corpus ones
    // (the window genuinely restricts)
    val winCounts = Sources.table(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(graft.streaming.Replay.Waves))
        >= graft.streaming.Replay.Waves
          - graft.streaming.StreamSketch.WindowBatches)
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val corpusCounts = Sources.table(spark, sf, "documents")
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var restricted = false
    streamDf.collect().foreach { r =>
      val t = r.getString(0); val est = r.getLong(1)
      val exact = winCounts.getOrElse(t, 0L)
      assert(est >= exact, s"$t: CMS window estimate $est < exact window count $exact")
      if (exact < corpusCounts(t)) restricted = true
    }
    assert(restricted, "every watched term had all its occurrences inside the window — serve is vacuous")
  }

  test("stream-static enrichment join ≡ batch join") {
    // q38's gate path IS the streaming side: broadcast static dim,
    // update-mode upserts through the idempotent materialized sink.
    val batch = rows(graft.streaming.JoinOps.q38Batch(spark, sf))
    val stream = rows(graft.streaming.JoinOps.q38StaticEnrich(spark, sf))
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("x19's closed-form lateness rule ≡ Spark's numRowsDroppedByWatermark on a planted-late replay") {
    // x19 makes lateness COUNTABLE in the wave-replay family; the real-
    // watermark gates (q07-q10, q37) let Spark drop late rows silently.
    // This case connects the two ledgers: a watermarked windowed
    // aggregation over a file replay with PLANTED late rows must report,
    // through its own observed metrics
    // (QueryProgress.stateOperators.numRowsDroppedByWatermark), exactly
    // the drop counts the x19-style closed form predicts. The closed
    // form is Spark's update rule, read off the fixture — with TWO
    // engine facts this case exists to pin:
    //  (a) the TWO-WATERMARK split: since the late/eviction watermark
    //      separation, the late-events filter in batch b uses the
    //      PREVIOUS batch's watermark (eventTimeWatermarkForLateEvents
    //      = max event time through batch b-2 − delay), while state
    //      EVICTION uses the current one — so a row is dropped iff its
    //      window closed under the lagged watermark:
    //        window_end <= max(event ts through batch b-2) − delay
    //      (x19's row-level `ts < wm` rule, lifted to the operator's
    //      window axis with the filter's one-batch lag);
    //  (b) the UNIT: the state operator sits downstream of map-side
    //      partial aggregation, so it counts late PARTIAL-AGGREGATE
    //      rows — one per (late window, input partition), not one per
    //      late input row (the programming guide's stated caveat for
    //      streaming aggregation). Each wave is written as exactly ONE
    //      file (one input partition per micro-batch), so the closed
    //      form is the number of DISTINCT late windows per wave — wave
    //      3 plants two rows in the SAME late window precisely to pin
    //      that unit.
    // Except for the deliberate same-window pair, every planted window
    // end sits ≥ 5 minutes from the filter watermark, so the <-vs-<=
    // boundary cannot decide those verdicts.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val delayMin = 10L; val windowMin = 5L
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    // wave → event minutes; filter wm for batch b = max(waves < b-1) − 10:
    //   wave 2: wm 20 → 2, 8 late (2 windows: ends 5, 10); 47 on time
    //   wave 3: wm 30 → 12, 13 late (ONE window [10,15)), 22 late
    //           ([20,25) end 25); 50 on time
    val waves: Seq[Seq[Long]] = Seq(
      Seq(0L, 30L),
      Seq(40L),
      Seq(2L, 8L, 47L),
      Seq(12L, 13L, 22L, 50L))
    val expectedDrops: Map[Long, Long] = waves.zipWithIndex.map { case (mins, b) =>
      val lateWm = if (b < 2) None
        else Some(waves.take(b - 1).flatten.max - delayMin)
      val late = lateWm.map(w => mins.map { m =>
        (m / windowMin + 1) * windowMin  // window end
      }.filter(_ <= w).distinct.size.toLong).getOrElse(0L)
      b.toLong -> late
    }.toMap
    assert(expectedDrops.values.sum == 4L, "fixture must actually plant late rows")
    val work = Replay.workspace("graft_wmdrop_")
    val inDir = s"$work/in"
    waves.zipWithIndex.foreach { case (mins, b) =>
      val df = spark.createDataFrame(mins.map(m =>
        (b * 100 + m, java.sql.Timestamp.from(t0.plusSeconds(m * 60)))))
        .toDF("event_id", "ts")
      df.coalesce(1).write.mode("append").parquet(inDir)
      // mtime order IS the replay order contract (Replay.stampArrival's rule)
      new java.io.File(inDir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.lastModified() > 1000000000000L + b * 60000L)
        .foreach(f => assert(f.setLastModified(1000000000000L + b * 60000L)))
    }
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    // the closed form's counting unit (one partial-aggregate row per
    // late window per INPUT PARTITION) assumes each one-file wave scans
    // as exactly one partition — force that explicitly rather than rely
    // on the files being smaller than the default split size, so a
    // future failure here is diagnosable as an ENGINE-behavior change
    // (the Spark 4.1 two-watermark lag or the partial-agg counting
    // unit moving), never as parquet split sizing
    session.conf.set("spark.sql.files.maxPartitionBytes", (1L << 30).toString)
    session.conf.set("spark.sql.files.openCostInBytes", "0")
    val q = session.readStream
      .schema(session.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .withWatermark("ts", s"$delayMin minutes")
      .groupBy(window(col("ts"), s"$windowMin minutes"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val observed: Map[Long, Long] = q.recentProgress.toSeq
      .map(p => p.batchId -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).max }
    // per-batch: every wave's planted count must appear under its own
    // batchId (one file per trigger → batch b IS wave b); trailing
    // no-data batches may exist and must report zero
    expectedDrops.foreach { case (b, want) =>
      assert(observed.getOrElse(b, -1L) == want,
        s"batch $b: Spark dropped ${observed.getOrElse(b, -1L)} rows, closed form says $want")
    }
    assert(observed.values.sum == expectedDrops.values.sum,
      "a batch outside the planted waves reported watermark drops")
  }

  test("s24 hier multiprobe over the stream store ≡ batch hier_np2 chain") {
    import org.apache.spark.sql.functions._
    // the s15 × s23 composition: the store side is the stream-built
    // two-level index, the query side fans out to its top-2 GROUPS —
    // and the answer must be row-identical to the batch hier_np2 chain
    // the s4 battery measures (so that recall row IS this probe's
    // recall, by proven equivalence)
    val (stream, nBatches) =
      withBatches(graft.streaming.StreamAnnIngest.ingestServe(spark, sf, graft.ops.SimilarityOps.Hier,
        graft.streaming.StreamAnnIngest.HierGprobe, col("vec_id")))
    assert(nBatches == graft.streaming.Replay.Waves,
      s"replay ran $nBatches micro-batches — not incremental")
    val streamRows = rows(stream)
    val batch = rows(graft.ops.SimilarityOps.probe(graft.ops.SimilarityOps.Hier,
        graft.ops.SimilarityOps.normed(spark, sf), graft.streaming.StreamAnnIngest.HierGprobe)
      .orderBy("q_id", "rnk"))
    assert(streamRows.nonEmpty)
    assert(streamRows == batch,
      "stream-store hier multiprobe diverged from the batch hier_np2 chain")
    // non-vacuity: the group fan-out must change some query's answer vs
    // the single-group probe, else gprobe=2 tested nothing on this fixture
    val np1 = rows(graft.streaming.StreamAnnIngest.s23StreamHierIngest(spark, sf))
    assert(streamRows != np1, "gprobe=2 answered identically to gprobe=1")
  }

  test("x20 stats-store running-max fold: ledger invariant, store bounded, phase-B watermarks real") {
    import org.apache.spark.sql.functions._
    val m = graft.streaming.Replay.Waves
    val (compacted, before, after, end) =
      graft.streaming.LateLedger.x20WithStoreInfo(spark, sf)
    val compactedRows = rows(compacted)
    // the fold is invisible to the ledger: byte-identical to x19's
    val plain = rows(graft.streaming.LateLedger.x19LateLedger(spark, sf))
    assert(compactedRows == plain,
      "stats-store fold changed the lateness ledger")
    // the store genuinely shrank and stays bounded: half the waves'
    // one-row partitions → ONE consolidated row → 1 + later batches
    assert(before == m / 2, s"phase A shipped $before stats partitions, expected ${m / 2}")
    assert(after == 1, s"compaction left $after partitions, expected 1")
    assert(end == 1 + m - m / 2, s"stream ended with $end partitions, expected ${1 + m - m / 2}")
    // non-vacuity: every phase-B watermark derives from the consolidated
    // row — if the fold had lost the max, wm would be None/low and these
    // batches' n_late would collapse to 0
    val phaseBLate = compacted.filter(col("batch_id") >= m / 2)
      .agg(sum("n_late")).collect()(0).getLong(0)
    assert(phaseBLate > 0,
      "no phase-B batch saw a late row — the folded watermark was never exercised")
  }

  test("p7 digest-store compaction: manifest invariant, store bounded, cross-phase dedup adjudicated") {
    import org.apache.spark.sql.functions._
    val m = graft.streaming.Replay.Waves
    val (compacted, before, after, end) =
      graft.streaming.IncrementalExport.p7WithStoreInfo(spark, sf)
    val compactedRows = rows(compacted)
    // the swap is invisible to the export: manifest (digests included)
    // byte-identical to p6's
    val plain = rows(graft.streaming.IncrementalExport.p6IncrementalExport(spark, sf))
    assert(compactedRows == plain,
      "digest-store compaction changed the export manifest")
    assert(before == m / 2, s"phase A shipped $before digest partitions, expected ${m / 2}")
    assert(after == 1, s"compaction left $after partitions, expected 1")
    assert(end == 1 + m - m / 2, s"stream ended with $end partitions, expected ${1 + m - m / 2}")
    // non-vacuity, the planted-duplicate pin: the fixture tables carry
    // NO exact duplicates (checked below), so on them the digest store
    // never decides a verdict — a compaction that lost every digest
    // would still pass the oracle. Plant one: 8 quality-passing texts
    // at doc_ids 1..8 (none eval under mod-10), with doc 6's text a
    // COPY of doc 1's — first arrival in phase A (1 mod 4 = wave 1),
    // twin in phase B (6 mod 4 = wave 2). Phase B's keep/drop verdict
    // can only come from the consolidated partition; if the swap lost
    // the digest, the twin survives and the count reads 8.
    val docs = graft.io.Sources.table(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val noNaturalDups = docs
      .groupBy(md5(graft.ops.TextOps.normText(col("text")))).count()
      .filter(col("count") > 1).count()
    assert(noNaturalDups == 0L,
      "fixture grew natural exact duplicates — re-point the planted pin at them")
    val qTexts = graft.ops.PipelineOps.headFlags(docs)
      .filter(!col("is_eval") && col("q"))
      .join(docs, Seq("doc_id"))
      .orderBy("doc_id").limit(8)
      .select("text").collect().map(_.getString(0))
    assert(qTexts.length == 8 && qTexts.distinct.length == 8)
    val planted = spark.createDataFrame(
      (1 to 8).map(i => (i.toLong, if (i == 6) qTexts(0) else qTexts(i - 1),
        "en", s"src${i % 3}")))
      .toDF("doc_id", "text", "lang", "source")
    val (pm, _, _, _) = graft.streaming.IncrementalExport.p7OnDocs(spark, planted)
    val keptDocs = pm.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(keptDocs == 7L,
      s"planted cross-phase duplicate was not dropped through the compacted store ($keptDocs kept)")
    // and the planted run is itself swap-invariant vs the unphased twin
    val pm6 = graft.streaming.IncrementalExport.p6OnDocs(spark, planted)
    assert(rows(pm) == rows(pm6),
      "compaction changed the planted-frame manifest")
  }

  test("p3 mid-stream compaction of all three stores: ledger invariant, stores bounded, cross-phase dups adjudicated") {
    import org.apache.spark.sql.functions._
    val half = graft.streaming.Replay.Waves / 2
    // fixture run: the most store-heavy stream compacts its digest,
    // band, AND shingle stores at the phase boundary — the ledger must
    // be byte-identical to the unphased gate's, and each store's
    // listing must collapse to one partition then stay bounded
    val (compacted, before, after, end) =
      graft.streaming.FullFunnel.p3CompactInfo(spark, sf)
    val plain = rows(graft.streaming.FullFunnel.p3StreamFunnel(spark, sf))
    assert(rows(compacted) == plain,
      "three-store compaction changed the funnel ledger")
    assert(before == Seq.fill(3)(half),
      s"phase A shipped $before store partitions (keys/bands/shingles), expected $half each")
    assert(after == Seq.fill(3)(1),
      s"compaction left $after partitions, expected 1 each")
    assert(end == Seq.fill(3)(1 + half),
      s"stream ended with $end partitions, expected ${1 + half} each")
    // non-vacuity, the planted-duplicate pin (p7's move, aimed at all
    // three stores at once): the fixture carries no exact duplicates,
    // and its natural near-dups may or may not straddle the phase
    // boundary — so plant a controlled frame where phase B holds an
    // EXACT twin (drops only if the consolidated digest partition kept
    // its key) and a TRUNCATED near copy (candidate + verify only if
    // the consolidated band AND shingle partitions kept their rows) of
    // phase-A originals. 8 distinct eligible long texts from docs in no
    // near-dup cluster, at doc_ids 1,2,3,4 (phase A) and 97,98,99,101
    // (phase B); 99 copies 1's text verbatim, 101 keeps ~92% of 2's
    // tokens (J ≥ 0.7, different digest); doc 10 is the eval holdout so
    // the benchmark-side artifacts are non-degenerate. No id ≡ 0 mod
    // EvalMod except 10.
    val docs = graft.io.Sources.table(spark, sf, "documents")
    val dupIds = graft.ops.DedupOps.d3MinhashLsh(spark, sf)
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
    val texts = graft.ops.PipelineOps.headFlags(docs)
      .filter(!col("is_eval") && col("q") && col("wc") >= 60)
      .join(dupIds, Seq("doc_id"), "left_anti")
      .join(docs, Seq("doc_id"))
      .orderBy("doc_id").limit(7)
      .select("text").collect().map(_.getString(0))
    assert(texts.length == 7 && texts.distinct.length == 7,
      "fixture too small for the planted frame")
    def trunc(t: String): String = {
      val toks = t.split("\\s+")
      toks.take((toks.length * 0.92).toInt).mkString(" ")
    }
    val planted = spark.createDataFrame(Seq(
        (1L, texts(0)), (2L, texts(1)), (3L, texts(2)), (4L, texts(3)),
        (10L, texts(6)), (97L, texts(4)), (98L, texts(5)),
        (99L, texts(0)), (101L, trunc(texts(1)))))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("src"), col("doc_id") % 3))
    // planting effectiveness: both copies eligible, and the truncation
    // genuinely verifies at the near threshold
    val pf = graft.ops.PipelineOps.headFlags(planted)
    assert(pf.filter(col("doc_id").isin(99L, 101L))
      .filter(!col("is_eval") && col("q")).count() == 2,
      "planted copies not eligible — truncation or holdout broke them")
    val ver = graft.ops.DedupOps.jaccard(
        spark.createDataFrame(Seq((2L, 101L))).toDF("a_id", "b_id"),
        graft.ops.DedupOps.shingles(planted))
      .filter(col("jac") >= 0.7)
    assert(ver.count() == 1, "planted truncation failed to verify at J >= 0.7")
    val (pm, _, _, _) = graft.streaming.FullFunnel.p3CompactOnDocs(spark, planted)
    // phase-B verdicts decided by the consolidated partitions: the twin
    // drops as exact (digest store), the truncation as near (band +
    // shingle stores) — a compaction that lost any store's rows would
    // read 0 here and 9 kept-side docs in the equality below
    assert(pm.agg(sum("n_exact_dup")).collect()(0).getLong(0) == 1L,
      "planted cross-phase exact twin was not dropped through the compacted digest store")
    assert(pm.agg(sum("n_near_dup")).collect()(0).getLong(0) == 1L,
      "planted cross-phase near copy was not dropped through the compacted band/shingle stores")
    // and the planted run is itself swap-invariant vs the unphased twin
    val plainPlanted = graft.streaming.FullFunnel.p3From(planted)
    assert(rows(pm) == rows(plainPlanted),
      "compaction changed the planted-frame ledger")
  }
}
