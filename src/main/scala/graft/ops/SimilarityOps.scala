package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.io.Sources
import graft.out.Canonical._

/** Similarity search over the `embeddings` table (LLM-pipeline suite).
  *
  * Cosine is computed with a sequential left-fold over double-promoted
  * arrays — both Spark's `aggregate` and DuckDB's `list_inner_product`
  * accumulate left-to-right in doubles, so scores are bit-identical and
  * rankings agree without tolerance.
  *
  * Scale path: q22 brute force broadcasts the (small) query set against a
  * partitioned corpus — linear scan, embarrassingly parallel, the right
  * baseline. s2 is the bucketed variant: a deterministic sign-LSH
  * (axis-aligned hyperplanes) shrinks each query's candidate set to its
  * bucket, turning the scan into a co-partitioned hash join on bucket id —
  * the IVF-style plan you'd run at 100 TB (trade recall for fan-out).
  */
object SimilarityOps {

  /** dot(a, b) with left-fold accumulation in double — the native
    * codegen'd expression (graft.functions.DotProduct), registered by
    * GraftExtensions. Same fold order as the HOF formulation it replaced
    * and as DuckDB's list_inner_product, so oracle scores stay
    * bit-identical. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private[graft] def normed(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Planted-cluster derivation of the embeddings table: vector `i` is
    * shifted by a per-cluster axis offset (cluster = vec_id mod
    * [[ClusterK]]; dims ≡ cluster (mod [[ClusterK]]) gain [[ClusterAmp]]),
    * turning the near-uniform synthetic vectors into a seed-free,
    * SQL-replayable mixture: the original values become the Gaussian-ish
    * noise around [[ClusterK]] well-separated centers. Used by s7 to
    * measure ANN recall on *clustered* geometry — the regime real
    * embedding corpora live in — with the identical plans s4 prices on
    * uniform vectors. Pure narrow map; the oracle replays it exactly. */
  val ClusterK = 16
  val ClusterAmp = 2.0

  private def clusteredNormed(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"), col("label"))
      .withColumn("cl", (col("vec_id") % ClusterK).cast("int"))
      .select(col("vec_id"),
        transform(col("v0"), (x, i) =>
          x + when(pmod(i, lit(ClusterK)) === col("cl"), lit(ClusterAmp))
            .otherwise(lit(0.0))).as("v"),
        col("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Structured-variance derivation (s10): [[clusteredNormed]]'s centers
    * with the white noise SHRUNK ([[StructNoise]]×) and a LOW-RANK
    * within-cluster displacement added — one displacement dim per PQ
    * subspace (dims ≡ 7 mod 8), quantized to 4 levels by a per-subspace
    * multiplicative hash of vec_id ([[DispMul]]; seed-free, replayable).
    * This is the geometry real embedding corpora have and the uniform/
    * clustered fixtures lack: within a cluster, variation concentrates
    * along a few directions instead of isotropic noise. Residual PQ
    * exists exactly for it — the residual codebook's 16 entries per
    * subspace cover the handful of displacement levels, while a RAW
    * codebook must also absorb the cluster centers (one entry burns per
    * center shape), so raw codes collapse within-cell ranking. Pure
    * narrow map; the oracle replays it term-for-term. */
  val StructNoise = 0.05
  val StructDispStep = 0.4
  val DispMul: Seq[Int] = Seq(21, 45, 83, 105, 139, 163, 197, 231)

  private def structuredNormed(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v0"), col("label"))
      .withColumn("cl", (col("vec_id") % ClusterK).cast("int"))
      .select(col("vec_id"),
        transform(col("v0"), (x, i) => {
          val m = floor(i / lit(PqSubDim)).cast("int")
          val mul = element_at(typedLit(DispMul), m + 1)
          val lvl = floor(pmod(col("vec_id") * mul, lit(256)) / lit(64))
          x * lit(StructNoise) +
            when(pmod(i, lit(ClusterK)) === col("cl"), lit(ClusterAmp)).otherwise(lit(0.0)) +
            when(pmod(i, lit(PqSubDim)) === lit(PqSubDim - 1),
              lit(StructDispStep) * lvl).otherwise(lit(0.0))
        }).as("v"),
        col("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Q22 knn-cosine: exact top-5 neighbours for each query vector
    * (label = 1), brute force. */
  def q22KnnCosine(spark: SparkSession, dir: String): DataFrame =
    q22From(normed(spark, dir))

  private def q22From(all: DataFrame): DataFrame =
    topPerQuery(all.join(broadcast(queryFrame(all)), col("vec_id") =!= col("q_id"))
      .withColumn("c", cosine), 5)

  /** Exact cosine of a (query, corpus row) pair frame. */
  private val cosine: Column = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))

  /** The query rows (label = 1) as (q_id, qv, qn), plus `extra` columns. */
  private def queryFrame(frame: DataFrame, extra: String*): DataFrame =
    frame.filter(col("label") === 1)
      .select(Seq(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")) ++
        extra.map(col): _*)

  /** Candidate pairs of every probe: corpus rows meet the broadcast query
    * frame on `keys` (the cell, plus the tenant for the filtered probe),
    * self-pairs dropped, exact cosine `c` per pair. */
  private def probePairs(corpus: DataFrame, qs: DataFrame, keys: Seq[String]): DataFrame =
    corpus.join(broadcast(qs), keys)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("c", cosine)

  /** Per-query rank `rnk` of candidate pairs: cosine `c` descending, ties
    * to the lower `id` — the one rank window of every top-k read. */
  private def rankPerQuery(pairs: DataFrame, id: String): DataFrame =
    pairs.withColumn("rnk", row_number()
      .over(Window.partitionBy("q_id").orderBy(col("c").desc, col(id))).cast("long"))

  /** The top-`k` neighbours per query in s3's output shape
    * (q_id, n_id, cos_sim, rnk, extra…). */
  private def topPerQuery(pairs: DataFrame, k: Int, extra: String*): DataFrame =
    rankPerQuery(pairs, "vec_id").filter(col("rnk") <= k)
      .select(Seq(col("q_id"), col("vec_id").as("n_id"), r4(col("c")).as("cos_sim"),
        col("rnk")) ++ extra.map(col): _*)
      .orderBy("q_id", "rnk")

  /** Deterministic sign-LSH bucket: 8 sign bits of the leading dims. */
  def signBucket(v: Column): Column =
    (0 until 8).map(i => when(element_at(v, i + 1) >= 0, 1 << i).otherwise(0))
      .reduce(_ + _).cast("long")

  /** Sign-LSH banding over a 64-dim vector: band `b` packs the sign bits
    * of dims [8b, 8b+8) into one byte-sized bucket id. */
  val SignBands = 8
  val BandBits = 8

  def bandValue(v: Column, b: Int): Column =
    (0 until BandBits).map(i =>
      when(element_at(v, b * BandBits + i + 1) >= 0, 1 << i).otherwise(0))
      .reduce(_ + _).cast("long")

  /** s2 bucketed ANN: top-3 within the query's sign-LSH bucket.
    * Same shape as an IVF probe: partition corpus by bucket, join queries
    * to their bucket only. */
  def s2AnnBucket(spark: SparkSession, dir: String): DataFrame =
    s2From(normed(spark, dir))

  private def s2From(frame: DataFrame): DataFrame = {
    val all = frame.withColumn("bucket", signBucket(col("v")))
    topPerQuery(probePairs(all, queryFrame(all, "bucket"), Seq("bucket")), 3)
  }

  /** Number of IVF cells (coarse centroids) for s3. */
  val IvfCells = 16

  /** Ranked nearest-centroid cell ids for one vector, computed
    * expression-side over the (tiny, attached-as-literal) centroid array:
    * score every centroid with the codegen'd dot, sort the scored structs
    * by (cosine desc, c_id asc), keep the top `k` ids. A pure narrow map —
    * the argmax never touches a shuffle, unlike the row_number-over-
    * Window formulation this replaced, which exchanged and sorted
    * IvfCells copies of every corpus vector (16 corpus-volumes of network
    * at 100 TB) to pick a per-row maximum. */
  private def rankedCellStructs(cents: Column, v: Column, nrm: Column): Column = {
    val scored = transform(cents, c =>
      struct(
        (dot(v, c.getField("cv")) / (nrm * c.getField("cn"))).as("ccos"),
        c.getField("c_id").as("c_id")))
    array_sort(scored, (l, r) =>
      when(l.getField("ccos") > r.getField("ccos"), -1)
        .when(l.getField("ccos") < r.getField("ccos"), 1)
        .when(l.getField("c_id") < r.getField("c_id"), -1)
        .when(l.getField("c_id") > r.getField("c_id"), 1)
        .otherwise(0))
  }

  private def rankedCells(cents: Column, v: Column, nrm: Column, k: Int): Column =
    transform(slice(rankedCellStructs(cents, v, nrm), 1, k), c => c.getField("c_id"))

  /** The TOP-1 scored cell as an O(k) left fold — the assignment kernel
    * for paths that only need the argmax (d15/d16), where sorting all k
    * scored structs ([[rankedCellStructs]]) pays O(k log k) plus sort
    * allocation per row. Matters exactly when k scales with the corpus
    * (SemDeDup's deployment rule): at k=160 on the 10× fixture the fold
    * cut the decade ratio measurably. Tie semantics are identical to
    * the sort (ccos DESC, c_id ASC): `cents` is c_id-sorted and the
    * fold only replaces on STRICT improvement, so the lowest c_id of a
    * tie wins. */
  private def bestCellStruct(cents: Column, v: Column, nrm: Column): Column = {
    val scored = transform(cents, c =>
      struct(
        (dot(v, c.getField("cv")) / (nrm * c.getField("cn"))).as("ccos"),
        c.getField("c_id").as("c_id")))
    aggregate(scored, element_at(scored, 1), (acc, c) =>
      when(c.getField("ccos") > acc.getField("ccos"), c).otherwise(acc))
  }

  /** The k lowest-vec_id vectors as a centroid table (c_id, cv, cn) —
    * s3's deterministic seed trick at any k, so the oracle replays the
    * identical cells. */
  private[graft] def seedCentroids(all: DataFrame, k: Int): DataFrame =
    all.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))

  /** s3's deterministic coarse quantizer: the [[IvfCells]] seeds. */
  private[graft] def ivfSeedCentroids(all: DataFrame): DataFrame =
    seedCentroids(all, IvfCells)

  /** A centroid table as one c_id-sorted array literal `cents` — k rows ×
    * dim doubles, attached to every row by a single-row broadcast. */
  private def centroidArray(seeds: DataFrame): DataFrame =
    seeds.select(struct(col("c_id"), col("cv"), col("cn")).as("cent"))
      .agg(array_sort(collect_list(col("cent"))).as("cents"))

  /** Centroids per group at the gate configuration: [[IvfCells]] cells
    * fold into IvfCells/[[HierSub]] groups of HierSub — group of cell c
    * is ⌊c / HierSub⌋, the deterministic rule both engines replay. */
  val HierSub = 4

  /** The coarse quantizer as ONE value — the seam every ANN probe,
    * retrain and stream is written against, batch and stream alike:
    *   - `seeds(all)`: the centroid table (c_id, cv, cn) the artifact is
    *     built from;
    *   - `build(seeds)`: the artifact — flat keeps the seed table itself,
    *     hier the one-row [[hierCentArr]] codebook;
    *   - `assign(frame, art)`: every row of `frame` (vec_id, v, nrm,
    *     label) gains its `cell` (hier rows also `ccos`, the winning
    *     centroid cosine — d20's victim signal);
    *   - `queryCells(queries, art, n)`: every query row (q_id, qv, qn),
    *     exploded to its top-`n` probed cells.
    * Everything downstream of the cell column — store layout, probe,
    * tombstones, compaction — is quantizer-agnostic. */
  private[graft] final case class Quantizer(
      seeds: DataFrame => DataFrame,
      build: DataFrame => DataFrame,
      assign: (DataFrame, DataFrame) => DataFrame,
      queryCells: (DataFrame, DataFrame, Int) => DataFrame) {
    def artifact(all: DataFrame): DataFrame = build(seeds(all))
    /** Build the artifact once, ahead of a stream (production IVF:
      * train ahead of time, ingest only assigns). */
    def write(all: DataFrame, path: String): Unit =
      artifact(all).coalesce(1).write.parquet(path)
    /** Every row of `all` assigned under the artifact built over it. */
    def index(all: DataFrame): DataFrame = assign(all, artifact(all))
    /** The gen-1 quantizer of one fixed-precision Lloyd step (s17/s26):
      * its seeds are the per-cell means of the gen-0 assignment, so its
      * artifact is `build(cellMeans(assign(all, build(seeds))))`. */
    def retrained: Quantizer = copy(seeds = all => cellMeans(index(all)))
  }

  /** Query rows (q_id, qv, qn) exploded to their probed cells: `cells`
    * ranks each row against the broadcast one-row artifact `art`. */
  private def explodeCells(qs: DataFrame, art: DataFrame, cells: Column): DataFrame =
    qs.crossJoin(broadcast(art))
      .select(col("q_id"), col("qv"), col("qn"), explode(cells).as("cell"))

  /** s3's flat quantizer over the first `k` corpus vectors as seeds:
    * argmax over all k per vector. */
  private[graft] def flat(k: Int): Quantizer = Quantizer(
    seedCentroids(_, k), seeds => seeds, assignCells,
    (qs, seeds, n) => explodeCells(qs, centroidArray(seeds),
      rankedCells(col("cents"), col("qv"), col("qn"), n)))

  /** s22's two-level quantizer over the first `k` corpus vectors as
    * seeds, `sub` cells per group: assignment is the G + sub ≈ 2√k
    * fold, the query fan-out is at the GROUP level ([[hierQueryCells]]). */
  private[graft] def hier(k: Int, sub: Int): Quantizer = Quantizer(
    seedCentroids(_, k), hierCentArr(_, sub), hierAssignWithCodebook,
    (qs, arr, n) => explodeCells(qs, arr,
      hierQueryCells(col("groups"), col("qv"), col("qn"), n)))

  /** The two quantizers at the gate configuration. */
  private[graft] val Flat = flat(IvfCells)
  private[graft] val Hier = hier(IvfCells, HierSub)

  /** Flat assignment as a narrow map: every row of `frame` (vec_id, v,
    * nrm, label) gains its nearest-centroid `cell` against the seed
    * table — the expression-side argmax, never a shuffle. */
  private[graft] def assignCells(frame: DataFrame, seeds: DataFrame): DataFrame =
    frame.crossJoin(broadcast(centroidArray(seeds)))
      .withColumn("cell",
        element_at(rankedCells(col("cents"), col("v"), col("nrm"), 1), 1))
      .select("vec_id", "v", "nrm", "label", "cell")

  /** The one top-3 probe over an assigned corpus (vec_id, v, nrm, label,
    * cell) — every store-served and batch probe, flat or hier. Corpus
    * rows meet queries on their STORED cell, so the corpus side never
    * pays quantizer work. At n = 1 queries probe their own stored cell
    * ([[probeAssigned]]); above it only the query rows — a tiny,
    * broadcast-sized set — re-rank the artifact `art` through
    * `q.queryCells` and fan out to their top-n cells (s3's nprobe, s22's
    * gprobe). Fan-out cost is queries × n broadcast rows, a constant at
    * any corpus size; the store is never exchanged (LayoutSpec's s15/s24
    * cases). Cells partition the corpus, so probed pairs are unique by
    * construction — no dedup pass. `art` is by-name: at n = 1 it is
    * never read, so a store-served caller pays no artifact scan. */
  private[graft] def serve(q: Quantizer, assigned: DataFrame, art: => DataFrame,
                           n: Int): DataFrame =
    if (n == 1) probeAssigned(assigned)
    else topPerQuery(probePairs(assigned,
      q.queryCells(queryFrame(assigned), art, n), Seq("cell")), 3)

  /** [[serve]] at n = 1: every query probes its stored cell, so neither
    * the quantizer nor its artifact is read — query time pays zero
    * assignment work (InvariantSpec pins that this stored cell is what
    * `queryCells(…, 1)` would pick). Emits s3's exact output shape. */
  private[graft] def probeAssigned(assigned: DataFrame): DataFrame =
    topPerQuery(probePairs(assigned, queryFrame(assigned, "cell"), Seq("cell")), 3)

  /** The batch probe: index the corpus under `q`, then [[serve]] it. */
  private[graft] def probe(q: Quantizer, all: DataFrame, n: Int): DataFrame = {
    val art = q.artifact(all)
    serve(q, q.assign(all, art), art, n)
  }

  /** s15's store-served multiprobe under the flat quantizer. */
  private[graft] def probeAssignedMulti(assigned: DataFrame, seeds: DataFrame,
                                        nprobe: Int): DataFrame =
    serve(Flat, assigned, seeds, nprobe)

  /** s24's store-served multiprobe under the hier codebook `arr`. */
  private[graft] def probeAssignedHierMulti(assigned: DataFrame, arr: DataFrame,
                                            gprobe: Int): DataFrame =
    serve(Hier, assigned, arr, gprobe)

  /** Decimal places at which retrained centroids are published (s17).
    * A shipped codebook is a frozen artifact, not a float accident:
    * fixing the precision makes the gen-1 quantizer bit-identical
    * between the engine and the oracle (both sides' means agree to
    * ~1 ulp, so they round to the same fixed-precision value), which
    * keeps every downstream cosine in the bit-identical regime the rest
    * of the ANN suite lives in. */
  val CentroidScale = 6

  /** The Lloyd M-step over an already-assigned frame ([[Quantizer.retrained]]):
    * the refined centroid of a cell is the dimension-wise MEAN of its
    * members, published at [[CentroidScale]] decimals with its norm
    * recomputed; cells that lost all members retire by the groupBy —
    * exactly what a production retrain does to a centroid the corpus
    * drifted away from. Assignment-source-agnostic — s17 feeds it the
    * flat argmax, s26 the two-level fold — because the update never
    * looks at HOW a row got its cell.
    *
    * Scale shape: the standard KMeans M-step — a posexplode to (cell,
    * dim, val) followed by a partial-aggregated groupBy(cell, dim) mean,
    * i.e. one shuffle of 64 doubles per vector that map-side combines
    * down to cells × dims rows, then a cells-sized rebuild. No
    * driver-side math; the new codebook is a DataFrame the next stage
    * broadcasts, exactly like the seed codebook it replaces. */
  private[graft] def cellMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "val")))
      .groupBy("cell", "i").agg(round(avg(col("val")), CentroidScale).as("cval"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("i"), col("cval")))).as("a"))
      .select(col("cell").as("c_id"),
        transform(col("a"), s => s.getField("cval")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))

  /** s17 quantizer retrain + re-index: the index-lifecycle motion the
    * ingest → delete → compact → upsert chain (s11/s12/s13/s16) still
    * lacked. The gen-0 seed quantizer is refined by one deterministic
    * Lloyd step ([[Quantizer.retrained]]) over the corpus it has drifted from,
    * the WHOLE corpus re-assigns under the gen-1 centroids (a narrow
    * map — re-indexing is an assignment sweep, not a data rewrite), and
    * queries probe the rebuilt inverted lists. The oracle replays the
    * full chain — gen-0 assignment, per-cell means at fixed precision,
    * gen-1 assignment, probe — in closed form.
    *
    * [[s17WriteGeneration]] / [[s17ServeLatest]] are the deployment
    * half: generations land as `gen=N` partitions with an explicit
    * commit marker, readers serve the latest COMMITTED generation, so
    * a rebuild in flight is invisible until its marker lands (the
    * atomic flip) — proven in LayoutSpec with the partition-pruned,
    * exchange-free plan. */
  def s17IvfRetrain(spark: SparkSession, dir: String): DataFrame =
    probe(Flat.retrained, normed(spark, dir), 1)

  /** The gen-1 index store s17's deployment half writes: every corpus
    * vector with its gen-1 cell assignment. */
  private[graft] def s17Gen1Assigned(spark: SparkSession, dir: String): DataFrame =
    Flat.retrained.index(normed(spark, dir))

  /** Append one index generation under `gen=N` and commit it with an
    * explicit marker file. The marker — not the data files — is what a
    * reader trusts: a half-written rebuild has no marker and stays
    * invisible, so the generation flip is atomic from the serving side's
    * point of view (create-marker is a single metadata operation). */
  private[graft] def s17WriteGeneration(store: DataFrame, path: String, gen: Int): Unit = {
    s17WriteGenData(store, path, gen)
    s17CommitGen(store.sparkSession, path, gen)
  }

  /** The data half of a generation write — files land under `gen=N` but
    * no reader may trust them until [[s17CommitGen]] publishes the
    * marker. Redo-safe: a retried rebuild first clears any torn debris
    * a crashed attempt left under its own `gen=N` (safe precisely
    * because the marker is absent — nothing references the files), so
    * the commit can never publish a merged torn+redo generation. A
    * committed generation refuses the write outright: generations are
    * immutable once published. */
  private[graft] def s17WriteGenData(store: DataFrame, path: String, gen: Int): Unit = {
    val spark = store.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(path, s"_gen_${gen}_COMMITTED")),
      s"generation $gen is already committed — generations are immutable")
    fs.delete(new org.apache.hadoop.fs.Path(path, s"gen=$gen"), true)
    store.withColumn("gen", lit(gen))
      .write.mode("append").partitionBy("gen").parquet(path)
  }

  /** Publish generation `gen`: one marker-file create, the atomic flip. */
  private[graft] def s17CommitGen(spark: SparkSession, path: String, gen: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(path, s"_gen_${gen}_COMMITTED"), true).close()
  }

  /** Highest committed generation under `path` (marker files, not
    * directory listings of data — a crashed rebuild leaves `gen=N/`
    * files but no marker and must not win). */
  private[graft] def s17LatestCommittedGen(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val re = "_gen_(\\d+)_COMMITTED".r
    val gens = fs.listStatus(p).map(_.getPath.getName)
      .collect { case re(g) => g.toInt }
    require(gens.nonEmpty,
      s"no committed generation under $path — a rebuild may be in flight, but " +
        "nothing is servable yet")
    gens.max
  }

  /** Serve the probe from the latest COMMITTED generation: the gen
    * predicate is a partition filter, so the scan prunes every other
    * generation's files — an in-flight gen-2 rebuild costs a reader
    * nothing. */
  private[graft] def s17ServeLatest(spark: SparkSession, path: String): DataFrame = {
    val gen = s17LatestCommittedGen(spark, path)
    probeAssigned(
      spark.read.parquet(path).filter(col("gen") === gen).drop("gen"))
  }

  /** Retire every generation below the latest committed one — marker
    * FIRST, then data (the reverse of the commit order): a vacuum that
    * dies between the two leaves unmarked data, which no reader trusts
    * and which a re-run still finds by its `gen=N` directory — never a
    * live marker pointing at deleted files. Readers resolve the LATEST
    * marker, which vacuum never touches, so serving is undisturbed
    * throughout. Storage for the store is thereby bounded at one
    * serving generation plus any rebuild in flight — without this,
    * every retrain would grow the store by a corpus-sized copy
    * forever. Returns the retired generation ids. */
  private[graft] def s17VacuumGenerations(spark: SparkSession, path: String): Seq[Int] = {
    val latest = s17LatestCommittedGen(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val genRe = "gen=(\\d+)".r
    val old = fs.listStatus(p).map(_.getPath.getName)
      .collect { case genRe(g) if g.toInt < latest => g.toInt }.sorted.toSeq
    old.foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"_gen_${g}_COMMITTED"), false)
      fs.delete(new org.apache.hadoop.fs.Path(path, s"gen=$g"), true)
    }
    old
  }

  /** s3 IVF-style ANN over a deterministic coarse quantizer (the IvfCells
    * lowest-vec_id vectors serve as centroids) so the DuckDB oracle
    * replays the identical cells: assign every vector to its nearest
    * coarse centroid (a narrow map over the broadcast centroid array),
    * build the inverted lists implicitly as the `cell` key, and answer
    * each query from its cell by a co-partitioned join on cell id
    * ([[probe]]). The plan is centroid-source-agnostic, which is exactly
    * why a trained quantizer ([[x4IvfKmeans]]) drops in without a plan
    * change. */
  def s3AnnIvf(spark: SparkSession, dir: String): DataFrame =
    s3AnnIvfProbe(spark, dir, nprobe = 1)

  /** s3's plan with a query-side fan-out to the top-`nprobe` cells — the
    * standard IVF recall lever: corpus stays single-cell (the inverted
    * lists are unchanged), only the handful of query rows explode, so the
    * plan shape (narrow assignment + equi-join on cell) is identical at
    * any nprobe. s4 measures the recall gain. */
  def s3AnnIvfProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame =
    probe(Flat, normed(spark, dir), nprobe)

  /** Tenant count for s18's metadata rule (`vec_id mod TenantMod`). */
  val TenantMod = 3

  /** s18 filtered ANN: the IVF probe under a metadata predicate — each
    * query searches ONLY its own tenant's vectors (tenant ≡ vec_id mod
    * [[TenantMod]], the deterministic stand-in for the org/language/
    * licence column a production corpus carries). This is the
    * "filtered vector search" problem dedicated vector stores treat as
    * a research topic (pre- vs post-filtering, filter-aware graph
    * traversal); in a relational engine it is one more equi-join key:
    * the corpus meets queries on (cell, tenant) instead of (cell), so
    * filtering happens DURING candidate generation — no post-filter
    * recall loss (top-3 is computed among tenant matches, not salvaged
    * from a global top-k), no wasted distance computations on
    * out-of-tenant rows, and the plan is byte-identical in shape to
    * s3's (the extra key rides the same hash join; under a
    * cell-bucketed store the subset-key co-partition rule keeps it
    * exchange-free). The oracle is s3's chain with the tenant equality
    * added to the probe join. */
  def s18AnnFiltered(spark: SparkSession, dir: String): DataFrame =
    filteredProbe(Flat, normed(spark, dir))

  /** The filtered probe under quantizer `q` (s18 flat, s28 hier): the
    * tenant derives from vec_id after assignment — the quantizer never
    * reads it — and joins as the second probe key. */
  private def filteredProbe(q: Quantizer, all: DataFrame): DataFrame = {
    val assigned = q.index(all)
      .withColumn("tenant", (col("vec_id") % TenantMod).cast("long"))
    topPerQuery(probePairs(assigned, queryFrame(assigned, "cell", "tenant"),
      Seq("cell", "tenant")), 3, "tenant")
  }

  /** Cosine threshold for s19's radius search — chosen against the
    * fixture's in-cell cosine distribution (≈14% of probed pairs clear
    * it at both sf0.001 and sf0.01, 45 of the 4·IvfCells queries match)
    * so the gate output is non-trivial and stable across scale factors. */
  val RadiusTau = 0.2

  /** s19 radius search: the IVF probe answering "EVERYTHING with cosine
    * ≥ [[RadiusTau]]" instead of top-k — the retrieval shape a RAG
    * context builder or a threshold-keyed near-dup feed issues ("give me
    * all sufficiently-similar corpus rows", output size data-dependent),
    * where s3 answers the fixed-budget top-3 read. Candidates come from
    * the same nprobe=1 cell equi-join as s3 (same quantizer, same
    * assignment, same broadcast probe), so the oracle is s3's SQL chain
    * with the threshold predicate in place of the rank window.
    *
    * Scale shape: strictly CHEAPER than s3 — the per-query rank window
    * (an exchange + sort on q_id at scale) disappears entirely; the
    * threshold is a codegen'd filter fused into the join output, so the
    * whole probe is one broadcast hash join with no shuffle after the
    * scan. The radius bounds the answer the way top-k can't: a query in
    * a dense cell returns more rows, but never more than clear τ —
    * exactly the semantics the downstream consumer asked for. */
  def s19AnnRadius(spark: SparkSession, dir: String): DataFrame =
    radiusProbe(Flat, normed(spark, dir))

  /** The radius probe under quantizer `q` (s19 flat, s29 hier). */
  private def radiusProbe(q: Quantizer, all: DataFrame): DataFrame = {
    val assigned = q.index(all)
    withinRadius(assigned, queryFrame(assigned, "cell"))
      .select(col("q_id"), col("n_id"), r4(col("c")).as("cos_sim"))
      .orderBy("q_id", "n_id")
  }

  /** The radius read of every probe and alert stream (s19/s29, s20/s30):
    * corpus rows meet the broadcast query frame (q_id, qv, qn, cell) on
    * their cell, and every pair at cosine ≥ [[RadiusTau]] is kept as
    * (q_id, n_id, c) — no rank window. */
  private[graft] def withinRadius(assigned: DataFrame, qs: DataFrame): DataFrame =
    probePairs(assigned, qs, Seq("cell"))
      .filter(col("c") >= RadiusTau)
      .select(col("q_id"), col("vec_id").as("n_id"), col("c"))

  /** x4: the IVF probe with a KMeans-trained coarse quantizer
    * (`ml.clustering.KMeans`, seed-pinned) — the production form of s3:
    * train once on a sample, broadcast the (tiny) centroid table, and the
    * probe plan is byte-for-byte the one s3 runs (the flat [[probe]] with
    * the trained table as its seeds). Training is not SQL-expressible,
    * so like x2/x3 this entry is rows-only at the gate and golden-pinned
    * + determinism-tested in MlGoldenSpec. */
  def x4IvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val all = normed(spark, dir)
    val feat = all.select(col("vec_id"), array_to_vector(col("v")).as("features"))
    val model = new KMeans()
      .setK(IvfCells).setSeed(7L).setMaxIter(10).setTol(1e-6)
      .fit(feat)
    // centroid table: IvfCells × dim doubles — KBs; broadcast by the probe
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq)
    }.toSeq
    import all.sparkSession.implicits._
    val seeds = centroids.toDF("c_id", "cv")
      .select(col("c_id"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    probe(Flat.copy(seeds = _ => seeds), all, 1)
  }

  /** s4: recall@3 of the approximate paths against the exact scan — the
    * quality metric that justifies running s2/s3 instead of q22 at scale,
    * computed as a join + agg over the three existing plans (all
    * SQL-expressible, so the gate checks it like any relational entry).
    * Queries whose bucket/cell holds fewer than 3 true neighbours simply
    * score lower — no special-casing, the metric tells the truth. */
  def s4AnnRecall(spark: SparkSession, dir: String): DataFrame =
    recallRows(normed(spark, dir))

  private def recallRows(all0: DataFrame): DataFrame = {
    // The battery compares 11 plans over ONE corpus frame; unshared,
    // Catalyst re-plans the scan + norm (s4) or the clustered/
    // structured transform (s7/s10) inside every reference — ~17 per
    // branch. One disk-backed materialization (guide §5: cache what is
    // reused and expensive to recompute — 11 methods is the textbook
    // case) feeds every branch; derived inside the query, never a
    // cross-run cache.
    val all = all0.localCheckpoint()
    // The exact top-3 is referenced by all 10 method branches (once in
    // each recall join, once more in each branch's query universe), and
    // Catalyst plans every reference as its OWN brute-force scan +
    // window subtree — the s4 physical plan held 184 parquet scans and
    // zero ReusedExchange before this. localCheckpoint materializes
    // the (3 × query-count)-row frame ONCE, eagerly, so every branch
    // reads the tiny checkpointed relation instead of re-running exact
    // knn ~20×. Output-sized memory at any corpus scale (rows = 3 ×
    // queries), the same lineage-truncation tool the CC loop uses —
    // NOT a cache of a base table: the frame is derived inside the
    // query and dies with it. Measured: s4 6.1→(see OPTIMIZATION_r18)
    // at identical output hashes.
    val exact = q22From(all).filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val qs = exact.select("q_id").distinct()
    def recallOf(approx: DataFrame, method: String): DataFrame = {
      val hits = approx.select(col("q_id"), col("n_id"))
        .join(exact, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("h"))
      qs.join(hits, Seq("q_id"), "left")
        .select(col("q_id"), lit(method).as("method"),
          coalesce(col("h"), lit(0L)).as("hits"),
          r4(coalesce(col("h"), lit(0L)) / 3.0).as("recall"))
    }
    // ---- shared corpus-side artifacts (r19) -------------------------
    // Before r19 every method branch re-planned its OWN corpus
    // assignment/encode over the checkpointed frame: 3 ivf branches ×
    // rankedCells, 3 PQ branches × (assign + encode + rnrm), 2 hier
    // branches × the two-level fold — six full-corpus assignment/encode
    // subtrees in one plan (the s4 dump). Each artifact below is
    // derived ONCE and checkpointed (assign-once/encode-once — the
    // shape the ingest stores persist at 100 TB), and the query-side
    // fan-outs are PREFIXES of one ranked list, so every branch slices
    // the same tiny query frame. Branch SCORING is expression-identical
    // to the standalone gates', so recall rows are bit-identical
    // (hash-proven; the sf0.01 oracle re-checks per branch).
    val cents = centroidArray(ivfSeedCentroids(all)).localCheckpoint()
    val cb = pqCodebook(all).localCheckpoint()
    // one flat-IVF corpus assignment (top-1 is nprobe-free) feeds the
    // ivf probes, the PQ encode, and the residual branch's base
    val ivfAssigned = all.crossJoin(broadcast(cents))
      .withColumn("cell",
        element_at(rankedCells(col("cents"), col("v"), col("nrm"), 1), 1))
      .drop("cents") // never materialize the 16-centroid array per row
      .localCheckpoint()
    // query-side ranked cells at the battery's max fan-out (4); each
    // nprobe branch explodes a PREFIX slice of the same array
    val qCells = queryFrame(all).crossJoin(broadcast(cents))
      .select(col("q_id"), col("qv"), col("qn"),
        rankedCells(col("cents"), col("qv"), col("qn"), 4).as("cells"))
      .localCheckpoint()
    // an ivf or hier branch: the first n of each query's ranked cells,
    // through the probe's own candidate join and rank
    def probeBranch(assigned: DataFrame, ranked: DataFrame, n: Int): DataFrame = {
      val q = ranked.select(col("q_id"), col("qv"), col("qn"),
        explode(slice(col("cells"), 1, n)).as("cell"))
      rankPerQuery(probePairs(assigned, q, Seq("cell")), "vec_id")
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("vec_id").as("n_id"))
    }
    // one PQ encode of the corpus (codes + reconstructed norm, cell
    // riding along) feeds the pq, ivfpq, and ivfpq_rr branches; the
    // checkpoint holds codes, never floats
    val pqEnc = ivfAssigned.crossJoin(broadcast(cb))
      .withColumn("codes", pqCodes(col("cbs"), col("v")))
      .withColumn("rnrm", rnrmCol(col("cbn"), col("codes")))
      .select("vec_id", "label", "nrm", "cell", "codes", "rnrm")
      .localCheckpoint()
    val qPq = qCells.crossJoin(broadcast(cb))
      .select(col("q_id"), col("qn"), element_at(col("cells"), 1).as("cell"),
        lutCol(col("cbs"), col("qv")).as("lut"))
      .localCheckpoint()
    val pqBranch = rankPerQuery(
      pqEnc.join(broadcast(qPq.drop("cell")), col("vec_id") =!= col("q_id"))
        .withColumn("c",
          adcCol(col("lut"), col("codes")) / (col("qn") * col("rnrm"))), "vec_id")
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id").as("n_id"))
    // ONE ADC ranking serves both ivfpq (rnk ≤ 3 is a prefix of
    // rnk ≤ RerankR) and the re-rank shortlist — the output-sized
    // Q × RerankR frame is the only thing checkpointed
    val ranked = rankPerQuery(
      pqEnc.select("vec_id", "cell", "codes", "rnrm")
        .join(broadcast(qPq), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("c",
          adcCol(col("lut"), col("codes")) / (col("qn") * col("rnrm"))), "vec_id")
      .filter(col("rnk") <= RerankR)
      .select("q_id", "vec_id", "rnk")
      .localCheckpoint()
    val ivfpqBranch = ranked.filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id").as("n_id"))
    val rrBranch = rerank(all, ranked.select(col("q_id"), col("vec_id").as("n_id")))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"))
    // residual branch: reuses the shared corpus assignment; the
    // residual encode itself stays branch-local (its codes differ)
    val resBranch = s8ScanCont(ivfAssigned.crossJoin(broadcast(cents)),
      res => pqCodebook(res, lo = IvfCells))
    // hier: one two-level assignment + one query group-ranking at the
    // max fan-out (2), sliced per branch
    val harr = Hier.artifact(all).localCheckpoint()
    val hAssigned = Hier.assign(all, harr).localCheckpoint()
    val hQueries = queryFrame(all).crossJoin(broadcast(harr))
      .select(col("q_id"), col("qv"), col("qn"),
        hierQueryCells(col("groups"), col("qv"), col("qn"), 2).as("cells"))
      .localCheckpoint()
    recallOf(s2From(all), "bucket")
      .unionByName(recallOf(probeBranch(ivfAssigned, qCells, 1), "ivf"))
      .unionByName(recallOf(probeBranch(ivfAssigned, qCells, 2), "ivf_np2"))
      .unionByName(recallOf(probeBranch(ivfAssigned, qCells, 4), "ivf_np4"))
      .unionByName(recallOf(pqBranch, "pq"))
      .unionByName(recallOf(ivfpqBranch, "ivfpq"))
      .unionByName(recallOf(resBranch, "ivfpq_res"))
      .unionByName(recallOf(rrBranch, "ivfpq_rr"))
      // the hierarchical quantizer's recall trade, measured in the same
      // battery that prices every other path: hier (gprobe=1, s22's
      // probe) shows the 2√k assignment's cost; hier_np2 (top-2 GROUPS)
      // measures the documented recovery lever against flat ivf/ivf_np2
      .unionByName(recallOf(probeBranch(hAssigned, hQueries, 1), "hier"))
      .unionByName(recallOf(probeBranch(hAssigned, hQueries, 2), "hier_np2"))
      .orderBy("q_id", "method")
  }

  /** s7 clustered-recall: the s4 recall metric re-run over the planted-
    * cluster geometry ([[clusteredNormed]]), aggregated per method —
    * the proof that the honest-but-low s4 numbers are a property of the
    * adversarial near-uniform fixture, not of the plans: on clustered
    * vectors the SAME ivf/pq/ivfpq plans (byte-identical probe shapes,
    * only the input frame differs) recall far higher, because near
    * neighbours co-locate in coarse cells.
    *
    * Measured at sf0.01 (46 queries, oracle-checked): ivf 1.0 at every
    * nprobe (vs 0.23/0.36/0.51 on uniform vectors — cluster members
    * share a coarse cell, so nprobe=1 already sees all true
    * neighbours); pq/ivfpq 0.28 (vs 0.18/0.12). PQ gains least, and
    * honestly so: the within-cluster signal here is white noise, which
    * a 16-entry-per-subspace codebook cannot rank — production IVF-PQ
    * (FAISS IVFADC; Jégou et al., TPAMI 2011 §IV) attacks this by
    * encoding RESIDUALS against the coarse centroid; [[s8AnnIvfPqRes]]
    * implements that layout on the unchanged plan, and its rows in this
    * battery measure the trade on both fixtures.
    *
    * mean_recall is computed as one exact-integer division
    * (Σhits / 3·n_q) rather than an avg over per-query doubles, so the
    * result is bit-reproducible under any aggregation order — the same
    * trick as t9's 1/df idf. */
  def s7AnnRecallClustered(spark: SparkSession, dir: String): DataFrame =
    meanRecall(clusteredNormed(spark, dir))

  /** s10 structured-variance recall: the s4/s7 battery over
    * [[structuredNormed]] — the fixture that shows the residual layout's
    * production payoff, not just its mechanism. Measured at sf0.01 (46
    * queries, oracle-checked): raw IVF-PQ (s6) 0.49 — the raw codebook
    * must absorb the cluster centers, so displacement ranks on only the
    * center-free subspaces — vs residual IVF-PQ (s8) 0.73 on the
    * byte-identical plan (misses halved, 0.51 → 0.27), and
    * retrieve-then-rerank (s9) 0.89 on top. ivf alone is 1.0 here
    * (clusters co-locate), so the s6→s8→s9 ladder isolates exactly the
    * coding layer the residual exists to fix. Numbers cited in
    * SURVEY §4.2b. */
  def s10AnnRecallStructured(spark: SparkSession, dir: String): DataFrame =
    meanRecall(structuredNormed(spark, dir))

  private def meanRecall(all: DataFrame): DataFrame =
    recallRows(all)
      .groupBy("method")
      .agg(count(lit(1)).as("n_q"), sum(col("hits")).as("total_hits"))
      .select(col("method"), col("n_q"), col("total_hits"),
        r4(col("total_hits").cast("double") / (col("n_q") * lit(3)).cast("double"))
          .as("mean_recall"))
      .orderBy("method")

  /** Product-quantization geometry: the 64-dim vector splits into
    * [[PqM]] subvectors of [[PqSubDim]] dims; each subspace has a
    * [[PqK]]-entry codebook (the first PqK vectors' subvectors, s3's
    * deterministic-seed trick, so the oracle replays identical codes). */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16

  /** m-th subvector (0-based m; columns are 1-based). */
  private def subVec(v: Column, m: Column): Column =
    slice(v, m * PqSubDim + 1, lit(PqSubDim))

  /** Left-fold inner product of two small double arrays (expression-side,
    * same accumulation order as DuckDB's list_sum over a transform). */
  private def ipFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** The codebook as one single-row frame: `cbs[m][k]` = the k-th
    * sub-centroid of subspace m (nested array literal, KBs — attached to
    * every row by a 1-row broadcast, the [[centroidArray]] pattern). */
  private def pqCodebook(all: DataFrame, lo: Int = 0): DataFrame =
    all.filter(col("vec_id") >= lo && col("vec_id") < lo + PqK)
      .select(col("vec_id").as("k"), col("v"))
      .select(col("k"), transform(sequence(lit(0), lit(PqM - 1)),
        m => subVec(col("v"), m)).as("subs"))
      .agg(array_sort(collect_list(struct(col("k"), col("subs")))).as("e"))
      // after the k-sort, strip to the nested [m][k] layout: outer = m
      .select(transform(sequence(lit(0), lit(PqM - 1)),
        m => transform(col("e"), e => element_at(e.getField("subs"), m + 1))).as("cbs"))
      .withColumn("cbn", codebookNorms(col("cbs")))

  /** Per-entry squared norms of a codebook — cbn[m][k] = ‖c_{m,k}‖²,
    * computed ONCE in the one-row codebook frame so the per-corpus-row
    * reconstructed norm is a [[rnrmCol]] table lookup instead of M
    * re-folded inner products per row. Entry values are the identical
    * ipFold the per-row form computed, so norms are bit-unchanged. */
  private def codebookNorms(cbs: Column): Column =
    transform(cbs, cbm => transform(cbm, c => ipFold(c, c)))

  /** PQ-encode: per subspace, the L2-argmin code against the codebook —
    * lowest-k tie, deterministic in both engines. Pure narrow map,
    * compiled by [[graft.functions.PqEncode]] into the generated stage
    * (the HOF formulation it replaces — `array_position(dists,
    * array_min(dists)) - 1` over a transform/aggregate distance chain —
    * was CodegenFallback end to end; bit-identical by PqEncodeSpec). */
  private def pqCodes(cbs: Column, v: Column): Column =
    call_function("graft_pq_encode", cbs, v)

  /** The per-query ADC lookup table against a codebook: lut[m][k] =
    * ⟨q_m, c_{m,k}⟩ — computed once per query row, never per pair. */
  private def lutCol(cbs: Column, v: Column): Column =
    transform(cbs, (cbm, m) => transform(cbm, c => ipFold(subVec(v, m), c)))

  /** ADC score of one coded corpus row against a per-query lookup
    * table: Σ_m lut[m][code_m], the left fold the oracle replays —
    * the per-PAIR kernel, compiled by [[graft.functions.AdcSum]]. */
  private def adcCol(lut: Column, codes: Column): Column =
    call_function("graft_adc", lut, codes)

  /** Reconstructed norm from (norms table, codes) alone:
    * sqrt(Σ_m cbn[m][code_m]) = sqrt(Σ_m ‖c_{m,code_m}‖²) — the same
    * left fold as the ADC itself, against the per-codebook ‖c‖² table
    * ([[codebookNorms]], computed once in the one-row codebook frame)
    * instead of re-folding M inner products per corpus row. */
  private def rnrmCol(cbn: Column, codes: Column): Column =
    sqrt(call_function("graft_adc", cbn, codes))

  /** s5 PQ-ANN: asymmetric-distance (ADC) top-3 (product quantization —
    * Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011; the ADC lookup-table form) — the FAISS-style scan
    * that makes 100 TB vector search RAM-resident: the corpus is stored
    * as [[PqM]] byte-sized codes (8 bytes/vector instead of 256 bytes of
    * floats, 32× compression), and each query scores a corpus row by
    * summing its own exact subvectors' inner products with the row's
    * coded sub-centroids — table lookups, never the original floats.
    * The approximate cosine divides by the *reconstructed* norm (the
    * norm of the decoded vector), which is also codes-only.
    *
    * Plan shape: codebook attach (1-row broadcast) → narrow encode map →
    * broadcast the (small) query set over the coded corpus → per-query
    * top-k window. The corpus is scanned once, narrowly; nothing
    * corpus-sized shuffles. s4's `pq` rows measure the recall cost of
    * the 32× compression against the exact scan.
    *
    * The ADC uses the classic per-query LOOKUP TABLE: each query
    * pre-computes lut[m][k] = <q_m, c_{m,k}> ONCE (PqM × PqK small dots,
    * a narrow map over the tiny query set), and scoring a corpus row is
    * then PqM array lookups + adds — the subvector dots never run per
    * pair. Same arithmetic in the same order, so scores (and oracle
    * hashes) are bit-identical to the naive per-pair form it replaced;
    * measured 3.1× on the scan (7.9 s → 2.6 s at sf0.1, local[32]). */
  def s5AnnPq(spark: SparkSession, dir: String): DataFrame =
    s5From(normed(spark, dir))

  private def s5From(all: DataFrame): DataFrame =
    pqAdcScan(all, pqCodebook(all))

  /** The PQ encode + ADC scan, parameterized by the codebook frame (one
    * row, `cbs[m][k]` nested array) — which is exactly why a TRAINED
    * codebook (x6) drops in without a plan change, the s3/x4 move. */
  private def pqAdcScan(all: DataFrame, codebook: DataFrame): DataFrame = {
    val coded = all.crossJoin(broadcast(codebook))
      .withColumn("codes", pqCodes(col("cbs"), col("v")))
      // reconstructed norm: sqrt(Σ_m ||c_{m,code_m}||²) — codes-only
      .withColumn("rnrm", rnrmCol(col("cbn"), col("codes")))
      .drop("cbs", "cbn")
    val q = all.crossJoin(broadcast(codebook))
      .filter(col("label") === 1)
      .select(col("vec_id").as("q_id"), col("nrm").as("qn"),
        lutCol(col("cbs"), col("v")).as("lut"))
    val pairs = coded.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcCol(col("lut"), col("codes")))
      .withColumn("c", col("adc") / (col("qn") * col("rnrm")))
    rankPerQuery(pairs, "vec_id")
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id").as("n_id"), r4(col("c")).as("adc_sim"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** x6: s5's ADC scan with a TRAINED codebook — per-subspace KMeans
    * (k = [[PqK]], seed-pinned per subspace), the way a production PQ
    * index is actually built (Jégou et al., TPAMI 2011 §II.C: one
    * k-means per subquantizer). Proves s5's "codebooks drop in" claim
    * exactly as x4 proved s3's: the trained centers land in the same
    * one-row `cbs[m][k]` frame, and the encode/ADC plan is byte-for-byte
    * [[pqAdcScan]] — no exchange changes. Training is [[PqM]] tiny
    * KMeans fits (at corpus scale: on a driver-bounded SAMPLE — the
    * codebook is KBs regardless of corpus size); like x2/x3/x4 the entry
    * is rows-only at the gate (training isn't SQL-expressible) and
    * golden-pinned + determinism-tested in MlGoldenSpec. */
  def x6PqTrained(spark: SparkSession, dir: String): DataFrame = {
    val all = normed(spark, dir)
    pqAdcScan(all, trainedPqCodebook(all))
  }

  /** Per-subspace KMeans codebook in the [[pqCodebook]] layout
    * (`cbs[m][k]`, one row). Centers are collected to a literal — the
    * codebook is PqM × PqK × PqSubDim doubles (KBs) by construction. */
  private def trainedPqCodebook(all: DataFrame): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // one projected+cached pass feeds all PqM fits: without it every fit
    // re-reads the parquet and re-normalizes (PqM scans); with it the
    // corpus is read once and each fit iterates over a PqM×PqSubDim-wide
    // cached frame — at 100 TB training would run on a driver-bounded
    // sample, but the read-once shape is the same
    val subs = all.select((0 until PqM).map(m =>
      array_to_vector(slice(col("v"), m * PqSubDim + 1, PqSubDim)).as(s"f$m")): _*)
      .cache()
    try {
      // the PqM fits are independent and individually seed-pinned, so
      // submitting them concurrently changes nothing about the result —
      // only the wall clock: sequential fits pay ~PqM × iters × job
      // latency, concurrent ones pay ~one fit
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fits = (0 until PqM).map { m => Future {
        new KMeans().setK(PqK).setSeed(7L + m).setMaxIter(10).setTol(1e-6)
          .setFeaturesCol(s"f$m")
          .fit(subs).clusterCenters.map(_.toArray.toSeq).toSeq
      }}
      // finite timeout: a wedged fit must fail the gate loudly, not hang it
      val cbs: Seq[Seq[Seq[Double]]] =
        Await.result(Future.sequence(fits), Duration(10, "min"))
      all.sparkSession.range(1).select(typedLit(cbs).as("cbs"))
        .withColumn("cbn", codebookNorms(col("cbs")))
    } finally subs.unpersist(blocking = false)
  }

  /** s6 IVF-PQ: the two approximations composed the way a production
    * vector index (the FAISS IVF-PQ layout) composes them — IVF cell
    * partitioning bounds WHICH rows a query touches (s3's probe: corpus
    * rows live in exactly one coarse cell, queries search their own
    * cell), and PQ codes bound WHAT is read per touched row (s5's ADC:
    * 8 bytes of codes, never the floats). At 100 TB that is the
    * difference between scanning the corpus and scanning
    * 1/[[IvfCells]] of a 32×-compressed corpus.
    *
    * Plan shape: both codebooks are 1-row broadcast attaches; assignment
    * and encoding are one narrow map; the search is the same equi-join on
    * cell id as s3 — swapping the scoring kernel changes no exchange.
    * s4's `ivfpq` rows price the composed recall loss against each
    * approximation alone. */
  def s6AnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    s6From(normed(spark, dir))

  private def s6From(all: DataFrame): DataFrame =
    ivfPqAdcRanked(all)
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id").as("n_id"), r4(col("c")).as("adc_sim"), col("rnk"))
      .orderBy("q_id", "rnk")

  /** The IVF-PQ candidate stream, ADC-ranked per query (s6's plan up to
    * the keep-k cut): `(q_id, vec_id, c, rnk)`. s6 keeps rnk ≤ 3; s9
    * keeps rnk ≤ [[RerankR]] and re-ranks those by exact cosine. */
  private def ivfPqAdcRanked(all: DataFrame): DataFrame = {
    val coded = all
      .crossJoin(broadcast(centroidArray(ivfSeedCentroids(all))))
      .crossJoin(broadcast(pqCodebook(all)))
      .withColumn("cell", element_at(rankedCells(col("cents"), col("v"), col("nrm"), 1), 1))
      .withColumn("codes", pqCodes(col("cbs"), col("v")))
      .withColumn("rnrm", rnrmCol(col("cbn"), col("codes")))
    // s5's per-query ADC lookup table: lut[m][k] = <q_m, c_{m,k}>,
    // computed once per query — corpus rows are scored by lookups only
    val q = coded.filter(col("label") === 1)
      .select(col("vec_id").as("q_id"), col("nrm").as("qn"), col("cell"),
        lutCol(col("cbs"), col("v")).as("lut"))
    val pairs = coded.select("vec_id", "cell", "codes", "rnrm")
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", adcCol(col("lut"), col("codes")))
      .withColumn("c", col("adc") / (col("qn") * col("rnrm")))
    rankPerQuery(pairs, "vec_id")
  }

  /** s9 shortlist size: candidates the ADC pass hands to the exact
    * re-rank, per query. */
  val RerankR = 10

  /** s9: retrieve-then-rerank — the production two-stage ANN serve path
    * (FAISS's IVFADC + refine; Jégou et al., TPAMI 2011 §V.A): s6's
    * IVF-PQ ADC scan shortlists [[RerankR]] candidates per query reading
    * ONLY 8-byte codes, then exact floats are fetched for just those
    * Q × R rows and the final top-3 is exact-cosine ordered. At 100 TB
    * the distinction is what makes PQ usable end-to-end: the corpus-wide
    * pass touches codes (32× compressed), and full vectors are read for
    * a per-query CONSTANT number of rows — a point-fetch equi-join on
    * vec_id, never a second corpus-scan shape.
    *
    * `adc_rnk` rides along in the output so the reordering the re-rank
    * performs is visible (and oracle-checked) per row. */
  def s9AnnRerank(spark: SparkSession, dir: String): DataFrame =
    s9From(normed(spark, dir))

  private def s9From(all: DataFrame): DataFrame = {
    val short = ivfPqAdcRanked(all)
      .filter(col("rnk") <= RerankR)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk").as("adc_rnk"))
    rerank(all, short)
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("n_id"), r4(col("c")).as("cos_sim"),
        col("rnk"), col("adc_rnk").cast("long").as("adc_rnk"))
      .orderBy("q_id", "rnk")
  }

  /** The exact re-rank of a (q_id, n_id, …) shortlist (s9, s4's
    * ivfpq_rr): the shortlist (Q × R rows, tiny by construction)
    * equi-joins the corpus on vec_id — AQE broadcasts the shortlist
    * side, so full vectors are read once for shortlisted rows only,
    * never re-scanned per query — and is ranked by exact cosine. */
  private def rerank(all: DataFrame, short: DataFrame): DataFrame = {
    val corpus = all.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
    rankPerQuery(short.join(corpus, Seq("n_id"))
      .join(broadcast(queryFrame(all)), Seq("q_id"))
      .withColumn("c", ipFold(col("qv"), col("nv")) / (col("qn") * col("nn"))), "n_id")
  }

  /** s8 residual IVF-PQ — the production IVFADC layout (Jégou et al.,
    * TPAMI 2011 §IV.A; what FAISS `IndexIVFPQ` actually stores): PQ
    * codes encode the RESIDUAL v − c(cell) instead of the raw vector,
    * spending the codebook's resolution on what DIFFERS within a cell.
    *
    * Scoring stays codes-only (ADC): approximate cosine =
    * (⟨q,c⟩ + Σ_m lut[m][code_m]) / (qn · ‖c+r̂‖), where lut[m][k] =
    * ⟨q_m, rcb[m][k]⟩ is the per-query lookup table against the residual
    * codebook, ⟨q,c⟩ is one dot per (query, cell) — constants, not
    * per-pair work — and the reconstructed norm ‖c+r̂‖ is computed at
    * ENCODE time from (cell, codes) alone: ‖c‖² + 2Σ⟨c_m,rcb_m⟩ + Σ‖rcb_m‖².
    * Plan shape is byte-for-byte s6's: two 1-row codebook attaches, one
    * narrow assign+encode map, the same equi-join on cell — swapping raw
    * codes for residual codes changes no exchange.
    *
    * Measured honestly (s4/s7 recall rows): on the uniform/clustered
    * fixtures residual ≈ raw codes (uniform 0.09 vs 0.12, clustered
    * 0.25 vs 0.28) — white-noise within-cell signal, which no 16-entry
    * codebook ranks well, raw or residual. The mechanism is proven by
    * the seed-residual ablation (sourcing the book from centroid seeds,
    * whose residuals are identically zero, collapses recall to 0.06),
    * and the PAYOFF by s10's structured-variance fixture
    * ([[s10AnnRecallStructured]]): residual 0.73 vs raw 0.49 on the
    * byte-identical plan — the within-cluster geometry real embedding
    * corpora have is exactly where this layout earns its keep. */
  def s8AnnIvfPqRes(spark: SparkSession, dir: String): DataFrame =
    s8From(normed(spark, dir))

  private def s8From(all: DataFrame): DataFrame =
    s8Scan(all, res => pqCodebook(res, lo = IvfCells))

  /** x7: s8's residual scan with a TRAINED residual codebook — the full
    * production IVFADC build (Jégou §IV.A trains the product quantizer
    * on residuals): per-subspace seed-pinned KMeans fit over the
    * residual frame, landing in the same one-row `cbs[m][k]` layout, so
    * the encode/ADC plan is byte-for-byte [[s8From]]'s. Completes the
    * trained-quantizer ladder: x4 proved centroids drop into s3, x6
    * proved codebooks drop into s5, x7 proves they drop into the
    * RESIDUAL layout. Rows-only at the gate (training isn't
    * SQL-expressible); determinism + recall-vs-seed-book golden-pinned
    * in MlGoldenSpec. */
  def x7ResTrained(spark: SparkSession, dir: String): DataFrame =
    s8Scan(normed(spark, dir), res => trainedPqCodebook(res))

  /** The residual IVF-PQ scan, parameterized by the residual-codebook
    * builder (input: the residual frame with `v` = v − c(cell)). */
  private def s8Scan(all: DataFrame, cbOf: DataFrame => DataFrame): DataFrame =
    s8ScanCont(all.crossJoin(broadcast(centroidArray(ivfSeedCentroids(all))))
      .withColumn("cell", element_at(rankedCells(col("cents"), col("v"), col("nrm"), 1), 1)),
      cbOf)

  /** The residual scan CONTINUATION from an already cell-assigned frame
    * that still carries the `cents` column — the seam the s4/s7/s10
    * battery uses to feed the SHARED corpus assignment into the
    * residual branch (standalone s8/x7 arrive here through [[s8Scan]]
    * with the identical single-crossJoin plan as before r19). */
  private def s8ScanCont(withCents: DataFrame, cbOf: DataFrame => DataFrame): DataFrame = {
    // assign, then subtract the own-cell centroid: the residual map.
    // cells are the seed vec_ids 0..IvfCells-1 and cents is c_id-sorted,
    // so cell n's centroid is cents[n]
    val base = withCents
      .withColumn("cv",
        element_at(col("cents"), col("cell").cast("int") + 1).getField("cv"))
      .withColumn("r", zip_with(col("v"), col("cv"), (a, b) => a - b))
    // residual codebook via the injected builder. The default (s8) is
    // the s5 seed trick applied to residuals — sourced from vec_ids
    // [IvfCells, IvfCells+PqK), NOT the centroid seeds: a seed's
    // residual against its own cell is identically zero, so a
    // seed-sourced book would collapse every code to ~0 and kill the
    // within-cell ranking the residual exists to restore (measured:
    // recall 0.06 with seed residuals). x7 injects the KMeans-trained
    // form on the identical plan.
    val resCb = cbOf(base.select(col("vec_id"), col("r").as("v")))
    val coded = base.crossJoin(broadcast(resCb))
      .withColumn("codes", pqCodes(col("cbs"), col("r")))
      .withColumn("encnorm", sqrt(
        ipFold(col("cv"), col("cv")) + aggregate(
          transform(col("codes"), (cd, m) => {
            val e = element_at(element_at(col("cbs"), m + 1), cd + 1)
            lit(2.0) * ipFold(subVec(col("cv"), m), e) + ipFold(e, e)
          }), lit(0.0), (acc, x) => acc + x)))
    val q = coded.filter(col("label") === 1)
      .select(col("vec_id").as("q_id"), col("nrm").as("qn"), col("cell"),
        ipFold(col("v"), col("cv")).as("qc"),
        lutCol(col("cbs"), col("v")).as("lut"))
    val pairs = coded.select("vec_id", "cell", "codes", "encnorm")
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc", col("qc") + adcCol(col("lut"), col("codes")))
      .withColumn("c", col("adc") / (col("qn") * col("encnorm")))
    rankPerQuery(pairs, "vec_id")
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id").as("n_id"), r4(col("c")).as("adc_sim"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** d6 int8 quantization audit: per-vector min/max range, affine-code
    * (floor((x-mn)·255/(mx-mn))) checksum — the storage-reduction pass of
    * an embedding pipeline, emitted integer-exact so the oracle needs no
    * float tolerance. Narrow map, no shuffle before the output sort.
    * Degenerate constant vectors quantize to all-zero codes (guarded
    * identically in both engines). */
  def d6Quantize(spark: SparkSession, dir: String): DataFrame = {
    val v = col("v")
    val mn = array_min(v); val mx = array_max(v)
    val codes = transform(v, x =>
      when(mx === mn, lit(0L))
        .otherwise(floor((x - mn) * 255.0 / (mx - mn)).cast("long")))
    Sources.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(
        col("vec_id"),
        r4(mn).as("v_min"),
        r4(mx).as("v_max"),
        aggregate(codes, lit(0L), (acc, x) => acc + x).as("code_sum"))
      .orderBy("vec_id")
  }

  /** d5 embedding near-dup: banded sign-LSH candidate generation + exact
    * cosine verify at ≥ 0.4 (a < b).
    *
    * Candidates are pairs agreeing on ALL 8 sign bits of at least one of
    * the 8 bands — an equi-join on (band_index, band_value), i.e. a
    * shuffle-on-key plan whose cost is Σ bucket² instead of n²: the
    * BroadcastNestedLoopJoin this replaces evaluated every one of the n²/2
    * pairs. High-cosine pairs agree on most sign bits, so real near-dups
    * collide in some band with ~99 % probability (cos 0.95 ⇒ per-band
    * collision 0.43, 8 independent bands); the oracle replays the exact
    * same banding, so the approximation itself is deterministic and
    * hash-checked — the d3 MinHash pattern applied to embeddings. */
  def d5EmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val all = normed(spark, dir)
    val bandCols = (0 until SignBands).map { b =>
      struct(lit(b).as("bi"), bandValue(col("v"), b).as("bv"))
    }
    val bands = all
      .select(col("vec_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("vec_id"), col("band.bi"), col("band.bv"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
    val a = all.select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
    val b = all.select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("c", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("c") >= 0.4)
      .select(col("a_id"), col("b_id"), r4(col("c")).as("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** Exact-cosine threshold shared by d5 (LSH-candidate verify) and d15
    * (within-cell verify): both declare pairs at ≥ this cosine duplicates. */
  val SemThreshold = 0.4

  /** d15 SemDeDup: cluster-then-exact semantic deduplication (Abbas et al.
    * 2023, "SemDeDup") — the OTHER production embedding-dedup design next
    * to d5's sign-LSH. Every vector is assigned to its nearest coarse
    * centroid (s3's quantizer, the same narrow expression-side argmax),
    * pairs are scored EXACTLY but only within a cell, and of each
    * duplicate pair the member closer to its centroid is dropped — keeping
    * cluster-edge representatives, the paper's pruning rule. Emits the
    * per-cell ledger (n_vecs / n_pairs / n_dropped / n_kept); the drop
    * verdict itself is the production artifact.
    *
    * Scale path: pairwise work is Σ cell² not n² — the paper's point is
    * that k scales with corpus size so cells stay bounded; candidates meet
    * on an equi-join on cell id (shuffle-on-key, never all-pairs), the
    * centroid table rides a single-row broadcast (same constant-size
    * attach as s3/s5/s6), and the per-pair verify reuses the codegen'd
    * dot. d5 trades exactness-of-candidates for global reach (LSH bands
    * catch cross-cell dups); d15 trades reach for within-cell exactness —
    * a corpus pipeline runs one or the other by dup geometry.
    * Reference lineage: the reference has no embedding ops at all
    * (BASELINE.md); this extends its per-tweet pipeline pattern to the
    * north-star corpus-prep suite. */
  def d15SemDedup(spark: SparkSession, dir: String): DataFrame =
    d15Ledger(semAssignedK(spark, dir, IvfCells))

  /** d15 at an explicit cell count — the seam for the SemDeDup
    * DEPLOYMENT rule (Abbas et al. 2023 §3: k grows with the corpus so
    * cells stay bounded and Σ cell² stays ∝ n, not n²). The gate pins
    * k = [[IvfCells]]; ScaleCheck measures the 10× decade with
    * k × [[graft.ScaleCheck.Replicas]] on the 10× corpus, turning the
    * scaladoc's k-scaling defense into a measured ratio. */
  private[graft] def d15SemDedupK(spark: SparkSession, dir: String, k: Int): DataFrame =
    d15Ledger(semAssignedK(spark, dir, k))

  private def d15Ledger(asn: DataFrame): DataFrame = {
    val pairs = semPairs(asn)
    val victims = pairs.select(col("cell"), col("victim")).distinct()
      .groupBy("cell").agg(count(lit(1)).as("n_dropped"))
    val nPairs = pairs.groupBy("cell").agg(count(lit(1)).as("n_pairs"))
    asn.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .join(nPairs, Seq("cell"), "left")
      .join(victims, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy("cell")
  }

  /** d15/d16's shared assignment: every vector with its cell and its
    * cosine TO the cell centroid (the pruning signal). `k` is the cell
    * count — seeds are the k lowest-vec_id vectors (s3's deterministic
    * trick at any k, so the oracle replays identical cells). */
  private def semAssignedK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val all = normed(spark, dir)
    all.crossJoin(broadcast(centroidArray(seedCentroids(all, k))))
      .withColumn("best", bestCellStruct(col("cents"), col("v"), col("nrm")))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("best.c_id").as("cell"), col("best.ccos").as("ccos"))
  }

  /** d15/d16's shared within-cell duplicate pairs (exact cosine at
    * [[SemThreshold]]), each carrying the pairwise victim. */
  private def semPairs(asn: DataFrame): DataFrame =
    semVictims(semSide(asn, "a", "cell").join(semSide(asn, "b", "cell"), Seq("cell"))
      .filter(col("a_id") < col("b_id")))

  /** One side of a SemDeDup candidate pair: `keys`, then the assigned
    * row as (a_id, av, an, acc) for side "a", (b_id, bv, bn, bcc) for "b". */
  private[graft] def semSide(asn: DataFrame, side: String, keys: String*): DataFrame =
    asn.select(keys.map(col) ++ Seq(col("vec_id").as(s"${side}_id"),
      col("v").as(s"${side}v"), col("nrm").as(s"${side}n"), col("ccos").as(s"${side}cc")): _*)

  /** SemDeDup's pairwise rule over candidate pairs of two [[semSide]]s,
    * shared by batch d15/d18 and stream d20: exact cosine `cs`, pairs
    * at ≥ [[SemThreshold]] kept, and of each pair the member NEARER its
    * centroid (higher centroid cosine; a tie drops the larger id) is the
    * `victim` — keeping cluster-edge representatives. */
  private[graft] def semVictims(pairs: DataFrame): DataFrame =
    pairs.withColumn("cs", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cs") >= SemThreshold)
      .withColumn("victim",
        when(col("acc") > col("bcc"), col("a_id"))
          .when(col("acc") < col("bcc"), col("b_id"))
          .otherwise(greatest(col("a_id"), col("b_id"))))

  /** d16 semantic dup-clusters: SemDeDup's keep rule at COMPONENT
    * granularity — d15's pairwise rule can over-drop a chain's middle
    * members; the paper keeps exactly one representative per duplicate
    * GROUP. d15's within-cell pairs are the edge list, d10's
    * large-star/small-star contraction labels the components
    * (log-round convergence, reused verbatim), and each component keeps
    * its FARTHEST-from-centroid member (min centroid-cosine, tie lowest
    * vec_id) — the cluster-edge representative. Emits every clustered
    * vector with its cluster id/size and keep verdict; unpaired vectors
    * are trivially kept and not emitted (d10's contract).
    *
    * Scale path: inherits d15's bounded pair generation and d10's
    * pair-sized contraction shuffles — nothing here is corpus-sized
    * except the assignment narrow map; components never span cells (the
    * edge list is within-cell by construction), so the contraction's
    * key space is naturally partitioned. */
  def d16SemClusters(spark: SparkSession, dir: String): DataFrame = {
    val asn = semAssignedK(spark, dir, IvfCells)
    val labels = DedupOps.connectedComponents(
      semPairs(asn).select("a_id", "b_id"))
    val sized = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    val cc = asn.select(col("vec_id"), col("ccos"))
    val w = Window.partitionBy("lbl").orderBy(col("ccos").asc, col("vec_id").asc)
    labels.join(cc, labels("id") === cc("vec_id"))
      .join(sized, "lbl")
      .withColumn("rn", row_number().over(w))
      .select(col("vec_id"), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("rn") === 1).as("kept"))
      .orderBy("vec_id")
  }

  /** d17's prune rule: the most-prototypical 1/[[ProtoPruneDen]] of each
    * cell (⌊cell_size / den⌋ vectors, integer arithmetic so the cut is
    * deterministic) is dropped. */
  val ProtoPruneDen = 4

  /** d17 prototype pruning: the density-pruning rule from Sorscher et al.
    * 2022 ("Beyond neural scaling laws" — SSL-prototypes) that D4
    * (Tirumala et al. 2023) chains AFTER SemDeDup: within each coarse
    * cell, rank vectors by cosine TO their centroid and drop the
    * most-prototypical ⌊n/[[ProtoPruneDen]]⌋ — near-centroid examples are
    * the easy/redundant mass; cluster-edge examples carry the training
    * signal. Emits every vector's (cell, centroid-cosine, prototype rank,
    * keep verdict) — with d16 (one representative per duplicate group)
    * this IS the D4 pipeline's curation verdict pair: run d16 to collapse
    * semantic duplicates, d17 to thin what survives.
    *
    * Scale path: the assignment is d15's narrow expression-side argmax
    * (centroids ride a single-row broadcast, the corpus never exchanges
    * for it); the only shuffle is ONE hash exchange on cell for the
    * rank/count window — cells are quantizer-bounded (SemDeDup's k-scales-
    * with-corpus rule keeps them so), so no partition outgrows its cell,
    * and unlike d15/d16 there is no pairwise term at all: the whole
    * operator is linear in corpus size. */
  def d17ProtoPrune(spark: SparkSession, dir: String): DataFrame = {
    val asn = semAssignedK(spark, dir, IvfCells)
    val w = Window.partitionBy("cell").orderBy(col("ccos").desc, col("vec_id").asc)
    asn.select(col("vec_id"), col("cell"), col("ccos"))
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cell")))
      .select(col("vec_id"), col("cell"), r4(col("ccos")).as("ccos"),
        col("proto_rank"),
        (col("proto_rank") > floor(col("n") / ProtoPruneDen)).as("kept"))
      .orderBy("vec_id")
  }

  /** s21 bulk ANN probe: every corpus vector's nearest corpus neighbour
    * — the OTHER production retrieval motion. s3 through s20 serve the
    * ONLINE shape (a handful of queries broadcast against the inverted
    * lists); batch inference inverts the cardinalities: the query set
    * IS the corpus ("nearest neighbour for every document" — the read
    * behind corpus-wide mining, link-prediction features, or d5-style
    * similarity joins), so broadcasting the query side is impossible at
    * 100 TB. Both sides take the same narrow quantizer assignment, then
    * meet on a SHUFFLE-HASH cell equi-join — d5/d15's two-sided shape
    * lifted to the probe family: no broadcast of either vector side
    * (the only broadcast in the plan is the kilobyte centroid-array
    * literal), one data exchange keyed on cell.
    *
    * The top-1 read is a map-side-combinable MAX of a (cosine, -n_id)
    * struct — deliberately NOT the rank window the online probes use: a
    * per-query row_number would re-exchange and sort the full candidate
    * pair set by q_id, while the struct max folds each query's
    * candidates down to one row inside the cell partition before any
    * second exchange (partial_max; the q_id exchange then moves one row
    * per query, not one per pair). Ties break to the smaller n_id,
    * matching the oracle's (c DESC, n_id ASC) rank.
    *
    * Scale shape: pair work is Σ cell² — bounded by the same
    * k-scales-with-corpus quantizer rule d15 runs under (cells stay
    * ~constant-sized, so the join is linear in corpus size); in
    * production the corpus side reads its STORED cell assignment
    * (s11's index store) and only the query-role scan pays the narrow
    * assignment map. PlanSpec locks: ShuffledHashJoin on cell, no
    * BroadcastHashJoin, no Window, partial_max present. */
  def s21AnnBulkProbe(spark: SparkSession, dir: String): DataFrame =
    s21AnnBulkProbeK(spark, dir, IvfCells)

  /** s21 at an explicit cell count — the deployment rule scales k with
    * the corpus (exactly d15's SemDeDup rule: cell SIZE stays bounded,
    * so the Σ cell² pair work stays linear); ScaleCheck measures the
    * decade at k=16 → 160, the honest configuration, not the fixed-k
    * degenerate one. */
  private[graft] def s21AnnBulkProbeK(spark: SparkSession, dir: String, k: Int): DataFrame =
    s21ServeAssigned(flat(k).index(normed(spark, dir)))

  // ---- s22: hierarchical coarse quantizer (two-level assignment) -----

  /** The two-level codebook as one broadcastable nested array literal:
    * per group, the SUPER-centroid (dimension-wise mean of the group's
    * centroids, published at [[CentroidScale]] decimals with its norm
    * recomputed — s17's fixed-precision parity rule, so the oracle's
    * means round to the identical codebook) plus the group's own
    * centroid structs. Total payload is the same k centroid vectors
    * plus G means — kilobytes, exactly like the flat array. */
  private[graft] def hierCentArr(seeds: DataFrame, sub: Int): DataFrame = {
    val grouped = seeds.withColumn("g", floor(col("c_id") / sub).cast("long"))
    val supers = grouped
      .select(col("g"), posexplode(col("cv")).as(Seq("i", "val")))
      .groupBy("g", "i").agg(round(avg(col("val")), CentroidScale).as("sval"))
      .groupBy("g")
      .agg(array_sort(collect_list(struct(col("i"), col("sval")))).as("a"))
      .select(col("g"), transform(col("a"), s => s.getField("sval")).as("sv"))
      .withColumn("sn", sqrt(dot(col("sv"), col("sv"))))
    val subs = grouped.groupBy("g")
      .agg(array_sort(collect_list(struct(col("c_id"), col("cv"), col("cn")))).as("subs"))
    supers.join(subs, Seq("g"))
      .select(struct(
        col("g").as("c_id"), col("sv").as("cv"), col("sn").as("cn"),
        col("subs")).as("grp"))
      .agg(array_sort(collect_list(col("grp"))).as("groups"))
  }

  /** Two-level nearest-cell assignment: argmax cosine over the G super-
    * centroids picks a group, argmax over that group's [[HierSub]]
    * centroids picks the cell — 2 expression-side folds, G + sub dot
    * products per vector instead of the flat sweep's k. Both folds are
    * [[bestCellStruct]]'s strict-improvement rule (ties to the lowest
    * id), and the whole assignment stays a narrow map over one
    * broadcast nested literal. Note this is a DIFFERENT quantizer from
    * the flat argmax (a vector near a group boundary can land in a
    * different cell) — the gate's oracle replays the two-level rule
    * itself, never approximates the flat one. */
  private[graft] def hierAssignCells(frame: DataFrame, seeds: DataFrame,
                                     sub: Int): DataFrame =
    hierAssignWithCodebook(frame, hierCentArr(seeds, sub))

  /** Each group scored against (v, nrm) with its array position carried
    * — the single source of the level-1 scoring expression, shared by
    * the argmax fold and the multiprobe rank so a tie-break or perf fix
    * can never land in one and miss the other (exactly the expression
    * class where a one-sided edit cost 4× at scaled k). */
  private def scoredGroupsWithIdx(groups: Column, v: Column, nrm: Column): Column =
    transform(groups, (grp, i) => struct(
      (dot(v, grp.getField("cv")) / (nrm * grp.getField("cn"))).as("ccos"),
      grp.getField("c_id").as("c_id"),
      i.as("idx")))

  /** The winning group's ARRAY POSITION (0-based) under the level-1
    * argmax: the same strict-improvement fold as [[bestCellStruct]]
    * (ties to the lowest c_id — `groups` is c_id-sorted, so first-kept
    * = lowest id), but carrying each element's index so the caller can
    * `element_at` the winner in O(1). This is how sparse group ids stay
    * CORRECT without paying for it: a RETRAINED codebook (s26) may
    * have retired a whole group — every cell lost its members — so
    * indexing by c_id would read the wrong group's subs; indexing by
    * the winning element's own position cannot, and unlike a
    * filter-by-id scan it never deep-copies the nested sub-codebooks
    * (measured: the filter form cost ~4× on the k ∝ corpus decade
    * entries, where G and the per-group payload are 10× the gate's).
    *
    * The fold's init scores ONLY element 1 (through the shared
    * transform, over a one-element slice — so the scoring formula has
    * exactly one source and a tie-break or normalization edit can
    * never land in the fold and miss the init): HOFs get no codegen
    * subexpression elimination, so a whole-scored-array init would
    * evaluate the full G-element transform twice per row — the init
    * here re-derives one dot product instead of G. The slice's
    * carried index is 0, which IS element 1's position in `groups`. */
  private def bestGroupIdx(groups: Column, v: Column, nrm: Column): Column = {
    val init = element_at(
      scoredGroupsWithIdx(slice(groups, 1, 1), v, nrm), 1)
    aggregate(scoredGroupsWithIdx(groups, v, nrm), init, (acc, c) =>
      when(c.getField("ccos") > acc.getField("ccos"), c).otherwise(acc))
      .getField("idx")
  }

  /** The two-level assignment against an ALREADY-BUILT codebook frame
    * (one row, the [[hierCentArr]] nested literal) — the seam the
    * streaming ingest (s23) reads: the codebook is an offline artifact
    * written once before the stream starts, exactly like s11's flat
    * quantizer file, so each micro-batch pays only the G + sub fold.
    * The chosen group's subs are fetched by the WINNING FOLD POSITION
    * ([[bestGroupIdx]]) — O(1), and correct under the sparse group ids
    * a retrained codebook (s26) has. */
  private[graft] def hierAssignWithCodebook(frame: DataFrame, arr: DataFrame): DataFrame =
    frame.crossJoin(broadcast(arr))
      .withColumn("gidx", bestGroupIdx(col("groups"), col("v"), col("nrm")))
      .withColumn("subs",
        element_at(col("groups"), col("gidx") + 1).getField("subs"))
      .withColumn("best", bestCellStruct(col("subs"), col("v"), col("nrm")))
      .select(col("vec_id"), col("v"), col("nrm"), col("label"),
        col("best.c_id").as("cell"), col("best.ccos").as("ccos"))

  /** Probed cell ids for one QUERY under the hierarchical quantizer at
    * a level-1 fan-out of `gprobe`: rank the G super-centroids, keep
    * the top `gprobe` GROUPS, and within each probed group take the
    * level-2 argmax cell. Fan-out is at the GROUP level by design: the
    * hier quantizer's recall loss comes from level-1 argmax errors (a
    * query near a group boundary picks the wrong group; within the
    * right group, level-2 is exact over its [[HierSub]] cells), so the
    * recovery lever must probe the runner-up GROUP — fanning out cells
    * inside the already-chosen group would re-probe the same
    * neighbourhood the level-1 error just left. Distinct groups yield
    * distinct cells, so probed pairs stay unique by construction. */
  private def hierQueryCells(groups: Column, v: Column, nrm: Column,
                             gprobe: Int): Column = {
    // each probed group fetched by its array position carried through
    // the rank sort — the same sparse-ids-without-a-scan rule as
    // [[bestGroupIdx]] (a retrained codebook may have retired whole
    // groups, so positions and ids need not agree)
    val ranked = array_sort(scoredGroupsWithIdx(groups, v, nrm), (l, r) =>
      when(l.getField("ccos") > r.getField("ccos"), -1)
        .when(l.getField("ccos") < r.getField("ccos"), 1)
        .when(l.getField("c_id") < r.getField("c_id"), -1)
        .when(l.getField("c_id") > r.getField("c_id"), 1)
        .otherwise(0))
    transform(slice(ranked, 1, gprobe), t =>
      bestCellStruct(
        element_at(groups, t.getField("idx") + 1).getField("subs"),
        v, nrm).getField("c_id"))
  }

  /** s22: the IVF probe under a HIERARCHICAL coarse quantizer — the
    * production answer to the flat sweep's N·k assignment cost that
    * §4.2b's scaled-k entries measure (at k ∝ corpus the flat argmax is
    * N·k dot products — quadratic; two levels make it N·(G + sub),
    * ~N·2√k). The codebook is derived from s3's seed centroids in
    * closed form (group means at fixed precision), assignment is two
    * narrow expression-side folds, and the probe is s3's own ([[probe]]
    * under [[Hier]]; at a level-1 fan-out it is the s4 battery's
    * hier_np2 chain). The oracle replays the full
    * two-level chain — group means, level-1 argmax, level-2 argmax,
    * probe — so the gate is oracle-checked end to end even though the
    * hierarchical quantizer assigns some vectors to different cells
    * than the flat one (it is its own quantizer, not an approximation
    * being graded against the flat answer). */
  def s22AnnHier(spark: SparkSession, dir: String): DataFrame =
    probe(Hier, normed(spark, dir), 1)

  /** s28: s18's tenant-partitioned (filtered) probe under the HIER
    * quantizer — the "metadata predicate pushed INTO the index read"
    * probe mode proven on the two-level codebook, completing the
    * probe-mode × quantizer matrix (top-k / multiprobe / filtered /
    * radius, each on flat AND hier). The tenant column never reaches
    * the quantizer ([[filteredProbe]]) and lands in the join key,
    * so the candidate set shrinks to (cell, tenant) buckets: the
    * filter CUTS probe work rather than post-filtering it, exactly
    * s18's scale argument, at the hier assignment's N·2√k cost. */
  def s28HierFiltered(spark: SparkSession, dir: String): DataFrame =
    filteredProbe(Hier, normed(spark, dir))

  /** s29: s19's radius probe under the HIER quantizer — "everything
    * with cosine ≥ [[RadiusTau]]" answered from the two-level cells.
    * Same scale shape as s19 (the rank window disappears; the whole
    * probe is one broadcast hash join with a fused threshold filter),
    * with the assignment cost dropped from N·k to N·2√k. The oracle
    * replays the hier chain with the threshold tail. */
  def s29HierRadius(spark: SparkSession, dir: String): DataFrame =
    radiusProbe(Hier, normed(spark, dir))

  // ---- s26: retrain of the two-level codebook (s17 × s22) ------------

  /** s26: quantizer retrain for the HIERARCHICAL codebook — s17's
    * drift verb composed with s22's two-level structure, owed since s23
    * made the hier codebook the recommended ingest artifact (the flat
    * retrain s17 covers a quantizer the 100 TB deployment no longer
    * ships). The gen-0 codebook is refined by one fixed-precision Lloyd
    * M-step under the HIER assignment ([[Quantizer.retrained]]) and the
    * two-level structure is REBUILT from the surviving cells by
    * [[hierCentArr]]'s own closed form: cells keep their group
    * (g = ⌊c_id / sub⌋ — ids are preserved by the M-step), memberless
    * cells retire, a group whose every cell retired disappears from the
    * codebook entirely, and each group's super-centroid is recomputed
    * as the mean of its SURVIVING refined centroids. Retirement is
    * exactly why [[hierAssignWithCodebook]] fetches the winning group's
    * subs by the ARRAY POSITION carried through the scoring fold
    * ([[bestGroupIdx]]), never by group ID: a retrained codebook has
    * sparse ids by design, so id-as-index reads the wrong group, and the
    * filter-by-id scan that would fix it deep-copies the nested
    * sub-codebooks per row (measured ~4–7× at scaled k — the r13
    * regression). The whole corpus then re-assigns under gen-1 (the
    * same G + sub ≈ 2√k narrow fold — re-indexing is an assignment
    * sweep, not a data rewrite), and queries probe the rebuilt inverted
    * lists. The oracle replays the entire chain in closed form: gen-0
    * supers → two-level assignment → per-cell means at fixed precision
    * → gen-1 supers over survivors → two-level re-assignment → probe.
    *
    * The deployment half REUSES s17's generation machinery unchanged
    * ([[s17WriteGeneration]] / [[s17ServeLatest]] / vacuum) — the
    * marker-gated flip never looks at how rows got their cell, so the
    * quantizer swap is invisible to it (proven in LayoutSpec on a real
    * written layout, the s17 case's sequence over hier generations).
    *
    * Scale: the M-step is one posexplode shuffle of dim doubles per
    * vector that map-side combines to cells × dims rows (s17's class —
    * the only corpus-sized exchange in the verb); codebook rebuild is
    * cells-sized; both assignment sweeps are narrow maps over the
    * kilobyte broadcast codebook at 2√k dots per vector where the flat
    * retrain pays k. */
  def s26HierRetrain(spark: SparkSession, dir: String): DataFrame =
    probe(Hier.retrained, normed(spark, dir), 1)

  /** The gen-1 hier index store s26's deployment half writes: every
    * corpus vector with its gen-1 two-level cell assignment. */
  private[graft] def s26Gen1Assigned(spark: SparkSession, dir: String): DataFrame =
    Hier.retrained.index(normed(spark, dir))

  /** d18: SemDeDup under the HIERARCHICAL quantizer — s22's assignment
    * composed into the d-family, which is where the k ∝ corpus rule
    * (and therefore the flat sweep's N·k cost) actually lives in
    * production: d15's own scaled-k decade entry is dominated by the
    * flat argmax, and d18 is the same ledger — within-cell exact-cosine
    * pairs at [[SemThreshold]], nearer-its-centroid member drops, the
    * per-cell n_vecs/n_pairs/n_dropped/n_kept accounting — over s22's
    * two-level cells. The centroid-cosine pruning signal is the cosine
    * to the CHOSEN cell's centroid, exactly as in d15 (the victim rule
    * is unchanged; only the quantizer is). Oracle-checked end to end:
    * DuckDB rebuilds the two-level codebook and replays assignment,
    * pairs, and ledger. The cells differ from d15's (its own quantizer
    * — the s22 precedent), which is semantically fine for SemDeDup: the
    * paper's guarantee is within-cell exactness under WHATEVER coarse
    * clustering is used, and the hierarchy is a standard k-means-of-
    * k-means coarse stage. */
  def d18SemDedupHier(spark: SparkSession, dir: String): DataFrame =
    d18SemDedupHierK(spark, dir, IvfCells, HierSub)

  /** d18's duplicate pairs at PAIR granularity (a_id, b_id, cos_sim,
    * victim) — the batch twin d20's streaming emission must union to
    * exactly (StreamEquivSpec's stream ≡ batch pin for the semantic
    * family). */
  private[graft] def d20BatchPairs(spark: SparkSession, dir: String): DataFrame =
    semPairs(Hier.index(normed(spark, dir)))
      .select(col("a_id"), col("b_id"), r4(col("cs")).as("cos_sim"), col("victim"))
      .orderBy("a_id", "b_id")

  /** d18 at an explicit (k, sub) — the scaled-k decade seam (ScaleCheck
    * passes sub ≈ √k). */
  private[graft] def d18SemDedupHierK(spark: SparkSession, dir: String,
                                      k: Int, sub: Int): DataFrame =
    d15Ledger(hier(k, sub).index(normed(spark, dir)))

  /** s21's serve over an ALREADY-ASSIGNED frame (vec_id, v, nrm, cell) —
    * the production read: the corpus side's cell is a stored column
    * (s11's index store), so the serve pays ONLY the two-sided join and
    * the struct-max fold, never the N·k quantizer sweep. ScaleCheck's
    * `s21_bulk_serve_scaled_k` measures exactly this term (the one that
    * is linear under the k ∝ corpus rule); the gate's own scaled entry
    * deliberately includes the flat-assignment sweep, whose N·k cost is
    * the term a production deployment amortizes at ingest (the stored
    * assignment) or replaces with a hierarchical coarse quantizer. */
  private[graft] def s21ServeAssigned(assigned: DataFrame): DataFrame =
    s21Pairs(assigned)
      .groupBy("q_id")
      .agg(max(struct(col("c"), (-col("n_id")).as("ni"), col("n_id"))).as("b"))
      .select(col("q_id"), col("b.n_id").as("n_id"), r4(col("b.c")).as("cos_sim"))
      .orderBy("q_id")

  /** s21's two-sided candidate chain: every (query, in-cell neighbour)
    * pair with its exact cosine, met on the shuffle-hash cell equi-join
    * (no broadcast of either vector side). Shared by the top-1 and
    * top-k serves — the reads differ, the join does not. */
  private def s21Pairs(assigned: DataFrame): DataFrame = {
    val corpus = assigned
      .select(col("cell"), col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
    val queries = assigned
      .select(col("cell"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    queries.hint("shuffle_hash").join(corpus, Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("c", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
  }

  /** Neighbours per query for the bulk top-k read — 3 matches the rank
    * bound the whole online probe family serves (rnk <= 3), so the gate
    * is oracle-checked against s3's chain at the same depth. */
  val BulkK = 3

  /** s21-topk: the bulk probe widened from top-1 to top-[[BulkK]] — the
    * read the batch-inference motions actually issue (kNN-graph
    * construction, link-prediction features, RAG candidate mining all
    * want k neighbours per document, not one). The candidate chain is
    * [[s21Pairs]] verbatim; the read is `graft_topk`
    * ([[graft.functions.TopK]]), a BOUNDED map-side-combinable k-slot
    * fold: each cell partition folds its candidates down to ≤ k rows
    * per query before the q_id exchange, so the exchange moves k rows
    * per query — never one per candidate pair, which is what the rank
    * window the online probes use would shuffle here (every corpus
    * vector is a query, so "per-query window" means exchanging and
    * sorting the full Σ cell² pair set). collect_list-then-slice is
    * banned for the same reason at the other end: its buffer holds a
    * dense cell's whole candidate list. Ties break to the smaller n_id
    * via the (c, -n_id) struct order, matching the oracle's
    * (c DESC, n_id ASC) rank; PlanSpec locks no Window, no broadcast on
    * a vector side, and partial_graft_topk present. */
  def s21AnnBulkTopK(spark: SparkSession, dir: String): DataFrame =
    s21TopKAssigned(Flat.index(normed(spark, dir)))

  private[graft] def s21TopKAssigned(assigned: DataFrame): DataFrame =
    s21Pairs(assigned)
      .groupBy("q_id")
      .agg(call_function("graft_topk",
        struct(col("c"), (-col("n_id")).as("ni"), col("n_id")), lit(BulkK)).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.n_id").as("n_id"),
        r4(col("col.c")).as("cos_sim"), (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("q_id", "rnk")
}
