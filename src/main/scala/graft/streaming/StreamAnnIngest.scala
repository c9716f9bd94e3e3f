package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.ops.SimilarityOps
import graft.ops.SimilarityOps.{Flat, Hier, Quantizer, hier, probeAssigned}

/** s11: streaming ANN-index ingest — the incremental form of s3's IVF,
  * completing the online story for the similarity family the way d12/p3
  * did for dedup (reference lineage: the consumer's per-batch
  * score-and-index loop, ConsumerESFinal.scala:86-94, with the model
  * swapped for the vector index).
  *
  * The coarse quantizer is an OFFLINE artifact, written once before the
  * stream starts (exactly how production IVF systems work: the quantizer
  * is trained ahead of time, ingest only assigns) — here s3's
  * deterministic seed centroids, so the DuckDB oracle replays the
  * identical cells. Per micro-batch of newly-arrived vectors:
  *
  *   1. normalize + assign each vector its nearest-centroid cell — a
  *      narrow map against the broadcast quantizer, batch-sized work;
  *   2. append (vec_id, v, nrm, label, cell) to the index store as an
  *      idempotent per-batch-directory overwrite.
  *
  * Queries are then answered FROM THE STORE: the probe joins queries to
  * their inverted list on the stored cell key and never runs the
  * quantizer over the corpus again — query-time assignment cost is zero
  * by construction (plan-locked: the store probe contains no centroid
  * attach at all). The gate checks the store-served answer against batch
  * s3's own DuckDB oracle, shared string — stream-built index ≡
  * batch-built index is the correctness claim.
  *
  * Scale design: per-batch cost is batch-size assignment + one append;
  * nothing joins anything corpus-sized. At 100 TB the store is
  * partitioned by arrival batch and bucketed by cell — the same layout
  * LayoutSpec proves for d12's band store — so the probe's inverted-list
  * read co-locates without a store-side exchange and compaction is
  * per-cell-local. Deletes (s12), compaction (s13/s14), multi-probe
  * serving (s15) and upserts (s16) complete the lifecycle below, each
  * riding tombstones / rewrites over this same layout.
  */
object StreamAnnIngest {

  /** The replayed columns of the normed corpus, in file order. */
  private[streaming] def arrivals(all: DataFrame): DataFrame =
    all.select("vec_id", "v", "nrm", "label")

  /** The per-batch index append every stream shares: assign the batch
    * against the artifact at `art`, put it as batch `batchId`. */
  private def appendAssigned(q: Quantizer, batch: DataFrame, batchId: Long,
                             art: String, store: Store): Unit =
    store.put(batchId, q.assign(batch, batch.sparkSession.read.parquet(art)))

  /** `waves` is the replay's batch count at fixed data — ScaleCheck's
    * `s11_batches_axis` doubles it: ingest's per-batch work is a
    * batch-sized assignment against the static broadcast quantizer plus
    * one append (the store is never read back during ingest), so last ≈
    * first is the design claim; the only index-growing term is the
    * checkpoint/listing machinery, which m19-class compaction bounds in
    * production. */
  def s11StreamAnnIngest(spark: SparkSession, dir: String,
                         waves: Int = Replay.Waves): DataFrame =
    ingestServe(spark, dir, Flat, 1, col("vec_id"), waves)

  /** The store-served probe of an ingest stream under quantizer `q` at
    * fan-out `n` — s11/s15 (flat), s23/s24 (hier): the batch probe
    * ([[SimilarityOps.serve]]) over the stream-built store, the query
    * fan-out re-ranking the very artifact file the ingest batches read.
    * `orderExpr` controls which rows share a micro-batch: ingest has NO
    * ordering precondition — the index is a set union of per-batch
    * assignments (each row assigned independently against the static
    * quantizer artifact) — and StreamEquivSpec proves it by replaying
    * the REVERSED assignment to the same batch answer. */
  private[graft] def ingestServe(spark: SparkSession, dir: String,
      q: Quantizer, n: Int, orderExpr: Column,
      waves: Int = Replay.Waves): DataFrame = {
    val (store, art) = runIngestStream(spark, dir, q, orderExpr, waves)
    SimilarityOps.serve(q, store.all.drop("batch_id"), spark.read.parquet(art), n)
  }

  /** The ingest stream under quantizer `q`, shared by s11/s15 (flat)
    * and s23/s24 (hier): returns (index store, quantizer artifact
    * path). Any artifact `q` writes plugs in — the batches
    * only ever read the written file (StreamEquivSpec's s23 × s26 case
    * streams under `Hier.retrained` and matches
    * batch s26: ingest → retrain → re-ingest). */
  private[graft] def runIngestStream(spark: SparkSession, dir: String,
      q: Quantizer, orderExpr: Column,
      waves: Int = Replay.Waves): (Store, String) = {
    val work = Replay.workspace("graft_annstream_")
    val all = SimilarityOps.normed(spark, dir)
    val art = s"$work/quantizer"
    val store = Store(spark, s"$work/index")
    // the quantizer build is independent of the deal (disjoint paths,
    // both read only the source table) — overlap them (§2.6) so it
    // back-fills the split write's task tail
    Replay.replay(spark, arrivals(all), Replay.ByRange(orderExpr), work, waves,
      alongside = Some(() => q.write(all, art)))((batch, batchId) =>
      appendAssigned(q, batch, batchId, art, store))
    (store, art)
  }

  // ---- s15: multi-probe against the streamed store ------------------

  /** Query-side cell fan-out for the store-served probe (s15); 2 is the
    * first recall step of s4's measured nprobe ladder. */
  val MultiNprobe = 2

  /** s15: s11's store-served probe widened to nprobe=[[MultiNprobe]] —
    * the recall lever s4 measures on the BATCH index (ivf_np2: 0.36 vs
    * 0.23 on uniform vectors), now available against the STREAM-built
    * store. The store side is byte-identical to s11's probe (rows meet
    * queries on their stored cell, zero quantizer work over the
    * corpus); only the query rows re-rank the quantizer artifact — the
    * same file the ingest batches read — and explode to their top-2
    * cells before riding the broadcast into the cell equi-join
    * ([[SimilarityOps.serve]] at n = 2). The gate checks the
    * store-served answer against batch s3's nprobe=2 oracle — so s4's
    * ivf_np2 recall row IS this probe's recall, by proven equivalence.
    * Scale: fan-out adds queries × nprobe broadcast rows, constant in
    * corpus size; the store is never exchanged (LayoutSpec s15). */
  def s15StreamAnnMultiprobe(spark: SparkSession, dir: String): DataFrame =
    ingestServe(spark, dir, Flat, MultiNprobe, col("vec_id"))

  // ---- s23: ingest under the hierarchical coarse quantizer ----------

  /** s23: s11's ingest with the N·k flat sweep REPLACED by s22's
    * two-level assignment — closing the one place the flat argmax cost
    * still lived after round 11: s21's analysis showed a production
    * deployment amortizes assignment AT INGEST (the stored-cell serve),
    * which means ingest is exactly where the k ∝ corpus rule makes the
    * flat sweep quadratic over the stream's lifetime. Here the offline
    * artifact is the TWO-LEVEL codebook (one [[SimilarityOps.hierCentArr]]
    * row: G super-centroids + each group's sub-centroids, written once
    * before the stream starts — s11's quantizer-file motion, richer
    * payload, same kilobytes), and each micro-batch assigns with the
    * G + sub ≈ 2√k expression-side fold instead of the k-wide sweep.
    *
    * Correctness claim: stream-built hier index ≡ batch s22, so the
    * gate checks the store-served probe against s22's DuckDB oracle
    * VERBATIM (shared string — the s11 ≡ s3 move lifted to the
    * hierarchical quantizer), and StreamEquivSpec replays the REVERSED
    * arrival order to the same answer (ingest is order-free: each row
    * assigns independently against the static codebook).
    *
    * Scale: per-batch cost is batch-size × 2√k dot products + one
    * append; the store layout, probe, and lifecycle verbs
    * (s12/s13/s14/s15/s16) are unchanged — the quantizer swap is
    * invisible to everything downstream of the cell column. PROVEN,
    * not prose, verb by verb: delete + compact (s25, oracle-checked on
    * the hier survivor chain), mixed-state partial compaction
    * (StreamEquivSpec's s14 × s25 case), group-level multiprobe (s24),
    * upsert (s27, oracle-checked on the updated-corpus hier chain),
    * retrain (s26), and the stored-assignment bulk serve
    * (StreamEquivSpec's s21 × s23 case). */
  def s23StreamHierIngest(spark: SparkSession, dir: String): DataFrame =
    ingestServe(spark, dir, Hier, 1, col("vec_id"))

  /** Test seam (the s21 × s23 composition pin): the stream-built hier
    * store and codebook paths at the gate configuration, for serves
    * that read the store directly (the bulk serve's stored-assignment
    * production state). */
  private[graft] def s23StoreAndCodebook(spark: SparkSession, dir: String)
      : (String, String) = {
    val (store, art) = runIngestStream(spark, dir, Hier, col("vec_id"))
    (store.path, art)
  }

  /** The hier-ingest stream at an explicit (k, sub) — ScaleCheck's
    * scaled-k ingest seam (k ∝ corpus, the deployment rule): returns
    * the store-served probe so the timed unit is the full gate. */
  private[graft] def s23IngestK(spark: SparkSession, dir: String,
                                k: Int, sub: Int): DataFrame =
    ingestServe(spark, dir, hier(k, sub), 1, col("vec_id"))

  // ---- s24: hier multiprobe over the stream-built store --------------

  /** Query-side GROUP fan-out for the stream-store hier probe (s24); 2
    * matches the s4 battery's measured `hier_np2` recovery row. */
  val HierGprobe = 2

  /** s24: the recall-recovery lever CLOSED over the stream index — s22
    * pinned the hierarchical quantizer's recall trade (hier 0.177 vs
    * flat 0.206 recall@3 uniform), the s4 battery measured group-level
    * multiprobe recovering it (`hier_np2`), and s23 built the stream
    * store under the hier quantizer; s24 is the composition that makes
    * the lever OPERATIONAL where a deployment pulls it: the store side
    * is byte-identical to s23's probe (rows meet queries on their
    * STORED cell — the quantizer swap stays invisible to the store),
    * and only the query rows re-rank the ingest's own codebook artifact
    * to fan out to their top-[[HierGprobe]] groups' level-2 argmax
    * cells ([[SimilarityOps.serve]] under [[Hier]]) — s15's move
    * lifted to the two-level quantizer, exactly as s15 lifted s4's np2
    * move to the flat store. Oracle-checked against the batch hier
    * chain with the query CTE widened to grn ≤ 2; the s15 × s23
    * composition (probe over the stream store ≡ batch hier_np2's rows)
    * is the StreamEquivSpec pin.
    *
    * Scale: fan-out adds queries × gprobe broadcast rows — constant in
    * corpus size; per-batch ingest cost and store layout are s23's
    * unchanged; the store is never exchanged. */
  def s24StreamHierMultiprobe(spark: SparkSession, dir: String): DataFrame =
    ingestServe(spark, dir, Hier, HierGprobe, col("vec_id"))

  // ---- s12: deletes — the tombstone merge s11's scaladoc promises ----

  /** The deterministic delete ledger: corpus vectors (never queries)
    * with vec_id ≡ 7 (mod 10) — a seed-free rule both the gate and the
    * DuckDB oracle replay exactly. */
  private def deleteRequests(all: DataFrame): DataFrame =
    all.filter(col("vec_id") % 10 === 7 && col("label") === 0)
      .select("vec_id")

  /** The delete rule's Spark-side predicate, shared with the batch twin
    * in StreamEquivSpec (the oracle mirrors it in SQL). */
  private[graft] def survivorFilter(df: DataFrame): DataFrame =
    df.filter(!(col("vec_id") % 10 === 7 && col("label") === 0))

  /** s12: s11's ingest with the index lifecycle completed — DELETES.
    * A standing delete-request ledger (requests may precede their
    * vector's arrival, the out-of-order case a real queue has) is
    * drained per micro-batch: each batch tombstones the requested
    * vec_ids that are present in the index as of this batch and not yet
    * tombstoned — so a vector ingested in batch 0 and requested later
    * is tombstoned by a LATER batch, exercising the cross-batch path.
    * The quantizer is untouched (deletes never retrain a production
    * coarse quantizer — a deleted seed vector keeps serving as a
    * centroid), and the probe merges at query time: index store
    * anti-joined with the tombstone store on (cell, vec_id), then the
    * same zero-assignment-work probe as s11.
    *
    * The gate checks the merged probe against the DuckDB oracle of s3
    * over the SURVIVING corpus with the ORIGINAL quantizer — deletion
    * semantics, not a smaller corpus's re-trained index. Scale: the
    * tombstone store is request-sized, its per-batch append is an
    * anti-join of requests against tombstones (both tiny); the probe's
    * anti-join keys on (cell, vec_id) — tombstones carry their cell —
    * and at 100 TB rides the same cell-bucketed layout as the index
    * with zero exchanges (LayoutSpec's s12 case). */
  def s12StreamAnnDelete(spark: SparkSession, dir: String): DataFrame = {
    val (_, store, tombs) = runDeleteStream(spark, dir, Flat)
    probeAssigned(liveRows(store, tombs))
  }

  /** The ingest-with-deletes stream under quantizer `q` — s12/s13/s14
    * (flat) and s25 (hier): the standing request ledger drains per
    * batch after the batch's index append ([[drainDeleteLedger]], which
    * reads only the store's cell column — why the quantizer swap is
    * invisible to it). Returns (work root, index store, tombstone
    * store). */
  private def runDeleteStream(spark: SparkSession, dir: String, q: Quantizer)
      : (String, Store, Store) = {
    val work = Replay.workspace("graft_annstream_del_")
    val all = SimilarityOps.normed(spark, dir)
    val art = s"$work/quantizer"
    val reqPath = s"$work/delete_requests"
    val store = Store(spark, s"$work/index")
    val tombs = Store(spark, s"$work/tombstones")
    // three independent setup writes (disjoint paths, source-table
    // reads only): overlap them (§2.6)
    Replay.replay(spark, arrivals(all), Replay.ByRange(col("vec_id")), work,
      alongside = Some(() => Replay.fence(
        () => q.write(all, art),
        // the standing request ledger, written once like a queue snapshot
        () => deleteRequests(all).coalesce(1).write.parquet(reqPath)))) {
      (batch, batchId) =>
        appendAssigned(q, batch, batchId, art, store)
        drainDeleteLedger(batch.sparkSession, batchId, reqPath, store, tombs)
    }
    (work, store, tombs)
  }

  /** The query-time tombstone merge: index rows minus deleted vectors.
    * Keyed on (cell, vec_id) — tombstones carry their cell precisely so
    * this anti-join can ride the index's cell-bucketed layout at 100 TB
    * (LayoutSpec's s12 case proves the merge plans with zero exchanges
    * on the bucketed store under
    * `spark.sql.requireAllClusterKeysForCoPartition=false`, which is
    * semantically sound here: HashPartitioning(cell) clusters every
    * (cell, vec_id) group). */
  private def liveRows(store: Store, tombs: Store): DataFrame =
    store.all.drop("batch_id")
      .join(tombs.all.drop("batch_id").select("cell", "vec_id"),
        Seq("cell", "vec_id"), "left_anti")

  /** The compaction rewrite (s13, and the s14/s16/s25 variants): the
    * live rows written cell-partitioned — one inverted list per cell,
    * tombstoned rows gone — and read back as the compacted store. */
  private def compact(live: DataFrame, path: String): DataFrame = {
    live.repartition(col("cell")).write.partitionBy("cell").parquet(path)
    live.sparkSession.read.parquet(path)
  }

  def s13AnnCompact(spark: SparkSession, dir: String): DataFrame =
    s13WithEvidence(spark, dir)._1

  /** s13: COMPACTION retires s12's tombstones — the last maintenance
    * verb of the index lifecycle (ingest s11, delete s12, compact s13).
    * The batch-partitioned store accumulated by ingest is rewritten
    * cell-partitioned with tombstoned rows dropped: per cell, read the
    * cell's rows across every arrival batch, anti-join the
    * request-sized tombstone set once, write the survivors back as that
    * cell's single inverted list. After compaction queries stop paying
    * the merge — the probe plan contains NO anti-join (asserted in
    * StreamEquivSpec against s12's probe, which does) — and the
    * tombstone store can be discarded.
    *
    * Compaction is query-invisible by construction: the gate checks the
    * compacted-store probe against s12's oracle VERBATIM (shared
    * string) — same surviving corpus, same original quantizer.
    * Scale: compaction is cell-local — each cell's rewrite reads its
    * own bucket plus the tiny tombstone set and writes one file; cells
    * compact independently (embarrassingly parallel, incremental per
    * cell at 100 TB), and nothing corpus-sized is ever shuffled: the
    * one exchange in the rewrite is the cell-key repartition that the
    * bucketed layout already provides on a real deployment. The gate
    * writes cell-partitioned directories (self-contained, no
    * metastore); the deployment recipe writes the compacted store
    * `bucketBy(cell)` — LayoutSpec's s13 case proves on that written
    * layout that the post-compaction probe is exchange-free AND
    * anti-join-free. */
  private[graft] def s13WithEvidence(spark: SparkSession, dir: String): (DataFrame, () => Long) = {
    val (work, store, tombs) = runDeleteStream(spark, dir, Flat)
    val comp = compact(liveRows(store, tombs), s"$work/compacted")
    // the compacted row count is a spec-only diagnostic — lazy, so the
    // gate's timed path pays the rewrite + probe and nothing else
    (probeAssigned(comp), () => comp.count())
  }

  // ---- s16: streaming upserts (update = tombstone old + insert new) --

  /** The deterministic update ledger: corpus vectors (never queries)
    * with vec_id ≡ 3 (mod 10) receive a NEW version — seed-free rules,
    * SQL-replayable transforms, so the DuckDB oracle rebuilds the
    * updated corpus exactly. Two update classes by design: vec_id ≡ 3
    * (mod 20) SCALES by 1.25 (binary-exact factor; cosine-invariant, so
    * the new version provably stays in its cell — the same-cell
    * replacement the 3-key tombstone exists for), vec_id ≡ 13 (mod 20)
    * ROTATES dims left by one (decorrelates a near-uniform vector, so
    * most movers change cell). Norms are recomputed over the new
    * values' fold order in both engines. */
  private def updatedVersions(all: DataFrame): DataFrame =
    all.filter(col("vec_id") % 10 === 3 && col("label") === 0)
      .withColumn("v",
        when(col("vec_id") % 20 === 3, transform(col("v"), x => x * lit(1.25)))
          .otherwise(concat(slice(col("v"), 2, 63), slice(col("v"), 1, 1))))
      .withColumn("nrm", sqrt(SimilarityOps.dot(col("v"), col("v"))))
      .select("vec_id", "v", "nrm", "label")

  def s16StreamAnnUpsert(spark: SparkSession, dir: String): DataFrame =
    s16WithEvidence(spark, dir)._1

  /** s16: UPDATES complete the verb set s11's scaladoc promised
    * ("deletes/updates would ride a tombstone column") — ingest s11,
    * delete s12, compact s13/s14, and now upsert: a vector's NEW
    * VERSION arrives as a later stream row with the same vec_id, and
    * the probe must serve exactly the latest corpus.
    *
    * Mechanics: per batch, incoming rows are assigned and appended as
    * usual; rows whose vec_id is ALREADY indexed by a prior batch
    * tombstone that prior physical entry — the tombstone carries
    * (cell, vec_id, batch_id) of the VICTIM row, one more key than
    * s12's, precisely so an update that lands in the SAME cell cannot
    * anti-join away its own new version. An updated vector may also
    * CHANGE cell (the rotation moves some vectors across the coarse
    * boundary) — then the tombstone retires the old cell's entry and
    * the new version lives in its new inverted list; the spec asserts
    * BOTH kinds occur on the fixture, so the 3-key precision is
    * genuinely exercised. The quantizer is untouched (updates never
    * retrain the offline artifact — an updated seed vector keeps
    * serving as a centroid from its ORIGINAL position, the s12 rule).
    *
    * Ordering precondition (load-bearing, like p2/p3's): an update must
    * arrive AFTER the row it replaces — the replay stamps the update
    * file's mtime last. A queue that cannot guarantee per-key order
    * would need version numbers in the payload instead of arrival
    * order; the tombstone mechanics are unchanged by that swap.
    *
    * The gate checks the merged probe against s3's oracle over the
    * UPDATED corpus with the ORIGINAL full-set quantizer — update
    * semantics, not a rebuilt index. Scale: the tombstone store is
    * update-sized; the per-batch drain joins the (tiny) incoming batch
    * against the key-pruned store; the probe-time anti-join keys on
    * (cell, vec_id, batch_id) — cell-prefixed, so it rides the same
    * cell-bucketed layout as s12's merge: LayoutSpec's s16 case proves
    * the 3-key merge + probe plan with ZERO exchanges on the real
    * bucketed layout (HashPartitioning(cell) clusters every
    * (cell, vec_id, batch_id) group — trailing keys change no
    * exchange structure). */
  private[graft] def s16WithEvidence(spark: SparkSession, dir: String)
      : (DataFrame, () => Long, () => Long) = {
    val (store, tombs) = runUpsertStream(spark, dir, Flat)
    upsertProbeEvidence(store, tombs)
  }

  /** The latest-version merge + test seams shared by the flat (s16) and
    * hier (s27) upsert gates: the update wave produced BOTH same-cell
    * and cross-cell replacements (the 3-key precision and the cell-move
    * path are each exercised). The new cell is read from the SURVIVING
    * entry — the live view itself. */
  private def upsertProbeEvidence(store: Store, tombs: Store)
      : (DataFrame, () => Long, () => Long) = {
    val live = s16LiveRows(store, tombs)
    val tombRows = tombs.all.select(col("vec_id"), col("cell").as("old_cell"))
    val newCells = live.select(col("vec_id"), col("cell").as("new_cell"))
    val moved = tombRows.join(newCells, Seq("vec_id"))
    // same-cell / cross-cell replacement evidence is spec-only — lazy,
    // so the timed gate path runs neither the moved-join nor its counts
    (probeAssigned(live.drop("batch_id")),
      () => moved.filter(col("old_cell") === col("new_cell")).count(),
      () => moved.filter(col("old_cell") =!= col("new_cell")).count())
  }

  // ---- s27: upserts PROVEN on the hier-built store --------------------

  def s27HierUpsert(spark: SparkSession, dir: String): DataFrame =
    s27WithEvidence(spark, dir)._1

  /** s27: the LAST lifecycle verb proven on the hier store — s25 proved
    * delete + compact, s24 multiprobe, s26 retrain; upsert completes
    * the matrix. The stream is s16's machinery with ONLY the quantizer
    * swapped ([[runUpsertStream]]'s seam): the 3-key
    * victim tombstone (cell, vec_id, batch_id) never looks at how a row
    * got its cell, so the quantizer swap is invisible to it — including
    * the load-bearing same-cell precision: the 1.25-scale update class
    * is cosine-invariant at BOTH quantizer levels (scaling changes no
    * cosine), so those replacements provably stay in their two-level
    * cell exactly as they stayed in their flat cell, and the rotation
    * class still moves most of its vectors across cells (the spec
    * asserts both kinds occur under the hier cells). The codebook is
    * untouched (updates never retrain — an updated seed vector keeps
    * serving from its ORIGINAL position, s16's rule).
    *
    * Oracle: the hier chain over the UPDATED corpus with the original
    * full-set codebook — upsertIvfSql's corpus-rewrite CTEs composed
    * with s22's two-level chain. Scale: s16's exactly — update-sized
    * tombstones, key-pruned drains, the 3-key merge on the same
    * cell-bucketed layout — with per-batch assignment at 2√k dots. */
  private[graft] def s27WithEvidence(spark: SparkSession, dir: String)
      : (DataFrame, () => Long, () => Long) = {
    val (store, tombs) = runUpsertStream(spark, dir, Hier)
    upsertProbeEvidence(store, tombs)
  }

  /** s27's upsert run with the MERGED store exposed — the s27 × s26
    * composition seam: the live (latest-version) rows of the hier store
    * after the update wave. This frame
    * is the corpus a production retrain sees when it runs AFTER an
    * upsert wave — the last unproven lifecycle sequence, pinned in
    * StreamEquivSpec against the closed-form gen-1 oracle over the
    * updated corpus. */
  private[graft] def s27LiveRows(spark: SparkSession, dir: String): DataFrame = {
    val (store, tombs) = runUpsertStream(spark, dir, Hier)
    s16LiveRows(store, tombs).drop("batch_id")
  }

  /** s16's merge, keyed on the victim's full physical address
    * (cell, vec_id, batch_id) — keeps batch_id so a compaction caller
    * can inspect survivors; drop it before probing. */
  private def s16LiveRows(store: Store, tombs: Store): DataFrame =
    store.all
      .join(tombs.all.drop("batch_id")
          .withColumnRenamed("victim_batch", "batch_id"),
        Seq("cell", "vec_id", "batch_id"), "left_anti")

  /** Compaction after upserts — the claim that s13's rewrite retires
    * VERSION-tombstones exactly as delete-tombstones, proven rather
    * than prose: rewrite the live (latest-version) rows cell-partitioned
    * and probe with no merge at all. StreamEquivSpec asserts the probe
    * equals the updated-corpus twin, the anti-join is gone, and the
    * compacted store holds exactly one row per vec_id. */
  private[graft] def s16CompactedInfo(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    val (store, tombs) = runUpsertStream(spark, dir, Flat)
    val work = new java.io.File(store.path).getParent
    val comp = compact(s16LiveRows(store, tombs).drop("batch_id"),
      s"$work/compacted")
    val nDupIds = comp.groupBy("vec_id").count().filter(col("count") > 1).count()
    (probeAssigned(comp), comp.count(), nDupIds)
  }

  /** s16's upsert stream under quantizer `q`, shared by the flat (s16,
    * its compaction seam) and hier (s27) gates — everything but the
    * quantizer, including the 3-key victim tombstone drain, is
    * quantizer-agnostic. Returns (index store, tombstone store). */
  private def runUpsertStream(spark: SparkSession, dir: String, q: Quantizer)
      : (Store, Store) = {
    val work = Replay.workspace("graft_annstream_ups_")
    val splitDir = s"$work/in"
    val all = SimilarityOps.normed(spark, dir)
    val art = s"$work/quantizer"
    val rule = Replay.ByRange(col("vec_id"))
    // the quantizer build is independent of the whole split-dir
    // sequence (disjoint paths, source-table reads only): overlap it
    // with the deal + update-wave append (§2.6)
    Replay.fence(
      () => {
        Replay.deal(arrivals(all), rule, work)
        val dealt = new java.io.File(splitDir).list().toSet
        // the update wave: new versions of already-streamed vectors,
        // landing as the LAST arrival (mtime-stamped — see the
        // ordering precondition)
        updatedVersions(all).coalesce(1)
          .write.mode("append").parquet(splitDir)
        new java.io.File(splitDir).listFiles()
          .filter(f => f.getName.startsWith("part-") && !dealt(f.getName))
          .foreach(Replay.stampArrival(_, Replay.Waves))
      },
      () => q.write(all, art))
    val store = Store(spark, s"$work/index")
    val tombs = Store(spark, s"$work/tombstones")
    // dealt above: the replay only drains
    Replay.replay(spark, arrivals(all), rule, work) { (batch, batchId) =>
      appendAssigned(q, batch, batchId, art, store)
      tombstonePriorVersions(batch, batchId, store, tombs)
    }
    (store, tombs)
  }

  /** Tombstone every PRIOR physical entry of an incoming vec_id — the
    * victim's (cell, vec_id, batch_id), so a same-cell replacement
    * never shadows its own new version. Incoming batch is the small
    * side; the store read is key-pruned (batch_id < current — the
    * batch's own append is excluded, and a retried batch cannot see its
    * own partial tombstone write either). */
  private def tombstonePriorVersions(batch: DataFrame, batchId: Long,
                                     store: Store, tombs: Store): Unit = {
    val victims = store.all
      .filter(col("batch_id") < batchId)
      .join(batch.select("vec_id"), Seq("vec_id"), "left_semi")
      .select(col("cell"), col("vec_id"), col("batch_id").as("victim_batch"))
    val prior = tombs.before(batchId, victims.schema)
      .select("cell", "vec_id", "victim_batch")
    tombs.put(batchId, victims.join(prior, Seq("cell", "vec_id", "victim_batch"), "left_anti"))
  }

  // ---- s14: partial compaction while serving (mixed-state probe) ----

  /** The deterministic compaction subset: EVEN cells compact first. A
    * real rollout compacts a few cells at a time by any policy
    * (tombstone density, list age); parity is the seed-free rule both
    * the gate and the spec replay. */
  private def inCompactedSubset(cell: org.apache.spark.sql.Column) =
    cell % 2 === 0

  def s14AnnPartialCompact(spark: SparkSession, dir: String): DataFrame =
    s14WithBranches(spark, dir)._1

  /** s14: PARTIAL compaction — the production motion s13's one-shot
    * rewrite lacks. A 100 TB index never compacts whole: a few cells
    * rewrite at a time while queries keep arriving, so the serve path
    * must answer from MIXED state — some cells compacted (tombstones
    * already retired), the rest still paying s12's query-time merge
    * (reference lineage: the consumer's serve-while-writing loop,
    * ConsumerESFinal.scala:86-94, here interleaved with maintenance).
    *
    * The decomposition that makes the mixed serve exact: a corpus
    * vector lives in exactly one cell, a query probes exactly its own
    * cell (nprobe=1), so CELLS PARTITION THE PROBE — queries in
    * compacted cells are answered entirely by the compacted store
    * (s13's plan: no anti-join, the merge was paid at rewrite), queries
    * in uncompacted cells entirely by index-minus-tombstones (s12's plan),
    * and the union of the two branch probes is s12's answer VERBATIM.
    * The gate checks exactly that: its oracle is s12's shared SQL
    * string — compaction progress must be query-invisible at every
    * intermediate state, not only at the s13 endpoint.
    *
    * Scale design: the rewrite reads only the compacting cells' buckets
    * plus the request-sized tombstone set (cell-local, incremental —
    * the s13 property, now per subset); the serve adds NO new exchange:
    * each branch is the already-proven bucket-local plan over a
    * DISJOINT cell set, the union concatenates partitions without
    * repartitioning, and the anti-join survives only on the uncompacted
    * branch (LayoutSpec's s14 case proves both on real bucketed
    * layouts). Serving capacity during maintenance is therefore the
    * same as before it — the whole point of compacting incrementally. */
  private[graft] def s14WithBranches(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, () => Long, () => Long) = {
    val (_, comp, uncomp, nRetired, nPending) = partialCompactState(spark, dir)
    val compProbe = probeAssigned(comp)
    val uncompProbe = probeAssigned(uncomp)
    val served = compProbe.unionByName(uncompProbe).orderBy("q_id", "rnk")
    (served, compProbe, uncompProbe, nRetired, nPending)
  }

  /** The mixed store s14 serves from, built once and shared with the
    * multiprobe composition seam: (work root, compacted branch,
    * uncompacted-merged branch, tombstones retired, tombstones pending). */
  private def partialCompactState(spark: SparkSession, dir: String)
      : (String, DataFrame, DataFrame, () => Long, () => Long) = {
    val (work, store, tombs) = runDeleteStream(spark, dir, Flat)
    partialCompactStateFrom(spark, work, store, tombs)
  }

  /** s14's mixed-state build over an already-run delete stream —
    * quantizer-agnostic (the subset rule, the partial rewrite, and the
    * remainder merge read only the cell column), so the hier delete
    * stream composes in directly (the StreamEquivSpec s14 × s25 pin). */
  private[graft] def partialCompactStateFrom(spark: SparkSession, work: String,
                                             store: Store, tombs: Store)
      : (String, DataFrame, DataFrame, () => Long, () => Long) = {
    // the partial rewrite: ONLY the subset's cells, survivors only —
    // cell-local, the uncompacted cells' files are never read
    val comp = compact(liveRows(store, tombs).filter(inCompactedSubset(col("cell"))),
      s"$work/compacted_subset")
    // the still-serving remainder: s12's merge, restricted to its cells
    val uncompRows = store.all.drop("batch_id")
      .filter(!inCompactedSubset(col("cell")))
    val uncompTombs = tombs.all.drop("batch_id")
      .filter(!inCompactedSubset(col("cell"))).select("cell", "vec_id")
    val uncomp = uncompRows.join(uncompTombs, Seq("cell", "vec_id"), "left_anti")
    // test seams, LAZY: tombstones retired by the partial rewrite vs
    // still merged at query time — both must be nonzero for a genuinely
    // mixed-state run; the timed gate path never runs these counts
    val tombsByCell = tombs.all
    (work, comp, uncomp,
      () => tombsByCell.filter(inCompactedSubset(col("cell"))).count(),
      () => tombsByCell.filter(!inCompactedSubset(col("cell"))).count())
  }

  /** s15 × s14: MULTIPROBE over the MIXED store — the composition of
    * the two serving levers. At nprobe > 1 a query's top-k spans BOTH
    * branches (its second cell may sit on the other side of the
    * compaction frontier), so the per-branch probe-then-union
    * decomposition s14 uses at nprobe=1 no longer applies; instead the
    * branch STORES union — compacted rows plus tombstone-merged
    * uncompacted rows, a partition concatenation with no exchange — and
    * the standard store-served multiprobe ([[SimilarityOps.serve]])
    * runs over the union: corpus side untouched, query rows fan out
    * against the same quantizer artifact the ingest wrote.
    * StreamEquivSpec pins this against the batch multiprobe twin
    * (survivors, original quantizer, nprobe=[[MultiNprobe]]):
    * compaction progress must be invisible to the multiprobe read
    * exactly as it is to the nprobe=1 read. */
  private[graft] def s14MultiprobeMixed(spark: SparkSession, dir: String)
      : (DataFrame, () => Long, () => Long) = {
    val (work, comp, uncomp, nRetired, nPending) = partialCompactState(spark, dir)
    val cols = Seq("vec_id", "v", "nrm", "label", "cell").map(col)
    val mixed = comp.select(cols: _*).unionByName(uncomp.select(cols: _*))
    val served = SimilarityOps.serve(
      Flat, mixed, spark.read.parquet(s"$work/quantizer"), MultiNprobe)
    (served, nRetired, nPending)
  }

  /** Drain the standing request ledger after a batch's index append:
    * tombstone requests whose vector is now indexed (any batch ≤
    * current) and not already tombstoned. The inner join attaches the
    * indexed row's CELL to the tombstone — tombstones ride the same
    * cell-bucketed layout as the index, so the probe-time merge in
    * [[liveRows]] stays bucket-local. Quantizer-agnostic (reads only
    * the store's cell column), shared by the flat (s12) and hier (s25)
    * delete streams. */
  private def drainDeleteLedger(spark: SparkSession, batchId: Long,
                                reqPath: String, store: Store,
                                tombs: Store): Unit = {
    val indexed = store.all
      .filter(col("batch_id") <= batchId).select("vec_id", "cell")
    val prior = tombs.before(batchId, indexed.select("vec_id").schema).select("vec_id")
    tombs.put(batchId, spark.read.parquet(reqPath)
      .join(indexed, Seq("vec_id"))
      .join(prior, Seq("vec_id"), "left_anti"))
  }

  // ---- s25: delete + compact PROVEN on the hier-built store ----------

  def s25HierDeleteCompact(spark: SparkSession, dir: String): DataFrame =
    s25WithEvidence(spark, dir)._1

  /** s25: the index-lifecycle verbs run against the HIER-ingested store
    * — s23's scaladoc claims the store layout is byte-compatible so
    * every downstream verb "reads it unchanged"; this gate converts
    * that claim from prose to an oracle check (the s15 × s14
    * composition precedent). The stream is s12's delete machinery with
    * ONLY the per-batch assignment swapped for s23's two-level codebook
    * fold: the standing request ledger drains per batch (requests may
    * precede their vector's arrival — the cross-batch pending path),
    * tombstones carry their cell, and after the stream the store is
    * compacted with s13's move — tombstoned rows dropped, cells
    * rewritten as single inverted lists — so the probe pays no
    * anti-join at all (asserted in StreamEquivSpec).
    *
    * The oracle is the hier chain over the SURVIVING corpus with the
    * ORIGINAL full-set codebook (deletes never retrain the quantizer —
    * s12's rule, unchanged by the quantizer swap): s22's SQL with the
    * corpus CTE filtered by the delete rule, exactly how s12/s13
    * parameterize s3's.
    *
    * Scale: identical to s12 + s13 — the tombstone store is
    * request-sized, the drain joins tiny frames against key-pruned
    * stores, compaction is cell-local, and the quantizer swap changes
    * only the per-batch assignment cost (k → G + sub ≈ 2√k dots per
    * vector, s23's saving, now carried through the whole lifecycle). */
  private[graft] def s25WithEvidence(spark: SparkSession, dir: String)
      : (DataFrame, () => Long) = {
    val (work, store, tombs) = runDeleteStream(spark, dir, Hier)
    val comp = compact(liveRows(store, tombs), s"$work/compacted")
    // the compacted row count is spec-only — lazy (guide §1.2), so the
    // timed gate path pays the rewrite + probe and nothing else
    (probeAssigned(comp), () => comp.count())
  }

  /** The s14 × s25 composition seam: the mixed partial-compaction state
    * built over the HIER delete stream — [[partialCompactStateFrom]] is
    * quantizer-agnostic, so the only hier-specific part is the stream
    * that produced the store. StreamEquivSpec proves the mixed serve
    * equals the hier survivor twin with the anti-join confined to the
    * uncompacted branch, completing every verb in s23's layout-compat
    * claim (delete s25, compact s25, partial-compact here, multiprobe
    * s24, upsert s27, retrain s26). */
  private[graft] def hierPartialCompactState(spark: SparkSession, dir: String)
      : (String, DataFrame, DataFrame, () => Long, () => Long) = {
    val (work, store, tombs) = runDeleteStream(spark, dir, Hier)
    partialCompactStateFrom(spark, work, store, tombs)
  }

  // ---- s20: streaming radius alerts (the watchlist match-on-ingest) --


  /** s20: s19's radius read turned into the ALERT-ON-INGEST motion — the
    * content-flagging / dedup-on-arrival read a production pipeline
    * issues ("tell me the moment something within τ of a watchlist
    * vector lands"), where s19 asks after the fact. The WATCHLIST is an
    * offline artifact (the query set with its cells, written once before
    * the stream — the s11 quantizer move applied to the query side); per
    * micro-batch, newly-arrived vectors are assigned their cell (narrow
    * map, batch-sized) and meet the broadcast watchlist on the cell
    * equi-join with the τ filter fused — matches append to a
    * batch-partitioned alert ledger AT ARRIVAL TIME, so each s19 pair is
    * alerted exactly once, in the batch its corpus vector arrived.
    * The union of all alert batches must equal batch s19 VERBATIM — the
    * gate's oracle is s19's shared SQL string, and StreamEquivSpec
    * additionally pins the per-batch alert spread (alerts genuinely
    * raised incrementally, not in one final batch).
    *
    * Scale: per-batch cost is batch-size assignment + a broadcast join
    * against the constant-size watchlist with a fused threshold filter —
    * nothing corpus-sized ever joins or shuffles, no rank machinery
    * (s19's structural saving), and the alert ledger is output-sized.
    * No ordering precondition: each arrival is checked independently
    * against the static watchlist, so the alert SET is replay-order
    * invariant (same class as s11's set-union index). */
  def s20StreamRadiusAlert(spark: SparkSession, dir: String): DataFrame =
    runRadiusAlertStream(spark, dir, Flat)

  // ---- s30: the alert stream under the hier quantizer -----------------


  /** s30: s20's alert-on-ingest with the quantizer artifact swapped to
    * the TWO-LEVEL codebook — the streaming alert verb proven on the
    * hier store exactly as s23 proved ingest and s25–s27 proved the
    * lifecycle verbs: both assignment sites (the offline watchlist and
    * the per-batch arrivals) run the G + sub ≈ 2√k fold instead of the
    * flat k-sweep, and NOTHING else changes — [[runRadiusAlertStream]]
    * is shared verbatim, because everything downstream of the cell
    * column is quantizer-agnostic (s23's law, re-proven on the alert
    * verb). The union of alert batches must equal batch s29, so the
    * oracle is s29's SQL string verbatim (the shared-string move s20
    * makes with s19, lifted to the hier chain). */
  def s30HierRadiusAlert(spark: SparkSession, dir: String): DataFrame =
    runRadiusAlertStream(spark, dir, Hier)

  /** The alert-on-ingest scaffold under quantizer `q`: s20 plugs the
    * flat seed argmax, s30 the two-level fold. `q.assign` runs for BOTH
    * the one-time watchlist build and every per-batch arrival, so the
    * two sides can never assign under different quantizers. */
  private def runRadiusAlertStream(spark: SparkSession, dir: String,
      q: Quantizer): DataFrame = {
    val work = Replay.workspace("graft_annstream_radius_")
    val all = SimilarityOps.normed(spark, dir)
    val art = s"$work/quantizer"
    val watchPath = s"$work/watchlist"
    val alerts = Store(spark, s"$work/alerts")
    // two independent setup CHAINS (the watchlist must follow the
    // quantizer it assigns under; the deal needs neither): overlap
    // them (§2.6). Per batch: the arrivals' cells, then s19's radius
    // read against the broadcast watchlist, appended at arrival time
    Replay.replay(spark, arrivals(all), Replay.ByRange(col("vec_id")), work,
      alongside = Some(() => {
        q.write(all, art)
        // the offline watchlist artifact: queries with their cells, once
        q.assign(all.filter(col("label") === 1), spark.read.parquet(art))
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"), col("cell"))
          .coalesce(1).write.parquet(watchPath)
      })) { (batch, batchId) =>
      val read = batch.sparkSession.read
      alerts.put(batchId,
        SimilarityOps.withinRadius(q.assign(batch, read.parquet(art)), read.parquet(watchPath)))
    }
    alerts.all
      .select(col("q_id"), col("n_id"), graft.out.Canonical.r4(col("c")).as("cos_sim"))
      .orderBy("q_id", "n_id")
  }
}
