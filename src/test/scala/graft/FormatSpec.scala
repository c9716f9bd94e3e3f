package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.streaming.Replay

/** Source/sink format coverage beyond the fixture parquet: ORC, CSV and
  * JSON round-trips (the formats a 100 TB lake actually mixes), schema
  * evolution across parquet writes, and AQE's runtime skew-join split.
  *
  * The reference's only wire format is CSV-in-Kafka-strings
  * (ConsumerESFinal.scala:49-55), covered by the q24 pipeline's
  * from_csv/to_csv; this spec covers the at-rest formats.
  */
class FormatSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String =
    Replay.workspace(prefix) + "/t"

  /** events, minus the free-text props column (CSV/JSON round-trip of
    * embedded JSON quoting is a serialization detail, not format
    * coverage) with ts as epoch micros for exact text-format fidelity. */
  private lazy val flat: DataFrame =
    Sources.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))

  private def sortedRows(df: DataFrame): Vector[Vector[Any]] =
    rows(df.orderBy("event_id"))

  test("ORC round-trips exactly and pushes filters to the ORC scan") {
    val dir = tmp("graft_orc_")
    flat.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(sortedRows(back) == sortedRows(flat))
    val q = back.filter(col("event_type") === "click" && col("value") > 10)
    q.collect()
    val plan = q.queryExecution.explainString(FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("event_type"),
      "ORC scan does not carry pushed filters")
  }

  test("CSV round-trips exactly with an explicit schema") {
    val dir = tmp("graft_csv_")
    flat.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(flat.schema).csv(dir)
    assert(sortedRows(back) == sortedRows(flat))
  }

  test("JSON round-trips exactly with an explicit schema") {
    val dir = tmp("graft_json_")
    flat.write.json(dir)
    val back = spark.read.schema(flat.schema).json(dir)
    assert(sortedRows(back) == sortedRows(flat))
  }

  test("parquet schema evolution: old files surface new columns as null") {
    // the 100 TB reality: a pipeline adds a column and the lake holds
    // both generations side by side. mergeSchema must read them as one
    // table with nulls for the missing column, not fail or drop data.
    val dir = Replay.workspace("graft_evo_")
    val v1 = flat.select("event_id", "event_type")
    val v2 = flat.select(col("event_id"), col("event_type"), col("value"))
      .withColumn("event_id", col("event_id") + 1000000L)
    v1.write.parquet(s"$dir/gen=1")
    v2.write.parquet(s"$dir/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet ==
      Set("event_id", "event_type", "value", "gen"))
    assert(merged.count() == v1.count() + v2.count())
    assert(merged.filter(col("gen") === 1 && col("value").isNotNull).count() == 0)
    assert(merged.filter(col("gen") === 2 && col("value").isNull).count() == 0)
  }

  test("sketch-store schema evolution: later batch generations add a column, merged read + HLL merge stay green") {
    // the first thing that happens to a year-old production store: the
    // pipeline adds a per-batch column (here n_hot, a count of
    // high-value events) and the store holds both generations side by
    // side. The merged read (mergeSchema) must still merge the sketches
    // register-wise to the whole-table answer, aggregate the new column
    // over the generations that have it, and surface it as null for the
    // old ones — x8's store lifecycle (StreamSketch.processBatch), one
    // schema generation later.
    val lgK = graft.streaming.StreamSketch.LgK
    val store = Replay.workspace("graft_sketch_evo_") + "/sketches"
    val ev = Sources.table(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    (0 until 4).foreach { b =>
      val batch = ev.filter(pmod(col("event_id"), lit(4)) === b)
      val partial = batch.groupBy("event_type")
        .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sk"),
          count(lit(1)).as("n_events"))
      // generation 2 (batches 2-3) gains the column
      val gen = if (b >= 2)
        partial.join(
          batch.filter(col("value") > 900).groupBy("event_type")
            .agg(count(lit(1)).as("n_hot")),
          Seq("event_type"), "left")
          .withColumn("n_hot", coalesce(col("n_hot"), lit(0L)))
      else partial
      gen.write.parquet(s"$store/batch_id=$b")
    }
    val merged = spark.read.option("mergeSchema", "true").parquet(store)
    // old generations surface the new column as null
    assert(merged.filter(col("batch_id") < 2 && col("n_hot").isNotNull).count() == 0)
    assert(merged.filter(col("batch_id") >= 2 && col("n_hot").isNull).count() == 0)
    // the sketch merge is generation-blind: estimates + additive counts
    // equal the whole-table batch twin exactly
    val answer = merged.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"),
        sum("n_events").as("n_events"),
        sum("n_hot").as("n_hot"))
      .orderBy("event_type")
    val twin = rows(graft.streaming.StreamSketch.x8Batch(spark, sf))
    assert(rows(answer.select("event_type", "approx_users", "n_events")) == twin,
      "evolved store's merged sketch diverged from the whole-table twin")
    // the new column aggregates over exactly the generations that carry it
    val expectedHot = ev
      .filter(pmod(col("event_id"), lit(4)) >= 2 && col("value") > 900)
      .groupBy("event_type").agg(count(lit(1)).as("n_hot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    answer.collect().foreach { r =>
      assert(r.getLong(3) == expectedHot.getOrElse(r.getString(0), 0L),
        s"${r.getString(0)}: n_hot diverged")
    }
  }

  test("ANN-index-store schema evolution: a later generation adds a column, the probe stays green") {
    // s11's store lifecycle one schema generation later: newer ingest
    // batches start recording an ingest timestamp. The probe must serve
    // the identical answer over the merged two-generation store — the
    // new column rides along, it never perturbs the cell join.
    import graft.ops.SimilarityOps
    val store = Replay.workspace("graft_ann_evo_") + "/index"
    val all = SimilarityOps.normed(spark, sf)
    val assigned = SimilarityOps.assignCells(all, SimilarityOps.ivfSeedCentroids(all))
    (0 until 4).foreach { b =>
      val batch = assigned.filter(pmod(col("vec_id"), lit(4)) === b)
      val gen = if (b >= 2)
        batch.withColumn("ingest_ts", lit(1700000000L + b))
      else batch
      gen.write.parquet(s"$store/batch_id=$b")
    }
    val merged = spark.read.option("mergeSchema", "true").parquet(store)
      .drop("batch_id")
    assert(merged.filter(col("ingest_ts").isNotNull).count() > 0)
    val served = SimilarityOps.probeAssigned(merged.drop("ingest_ts"))
    assert(rows(served) == rows(SimilarityOps.s3AnnIvf(spark, sf)),
      "probe over the evolved store diverged from batch s3")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // 90% of rows land on one join key; with broadcast disabled and the
    // skew thresholds scaled to fixture bytes, AQE must re-plan the sort
    // merge join with a split skewed partition — the runtime half of the
    // q35 salting story (salting for known-hot keys, AQE for discovered
    // ones).
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    child.conf.set("spark.sql.shuffle.partitions", "8")
    child.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    child.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    child.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    child.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
    // Two subtleties this test documents (found the hard way):
    //  - a skewed reducer partition is split at MAPPER boundaries, so a
    //    single-file scan (one map task) is unsplittable — repartition
    //    first so the shuffle has multiple mappers;
    //  - column pruning shrinks a key-only shuffle below any realistic
    //    threshold, so the payload column must survive the join for the
    //    hot partition to have weight.
    val ev = Sources.table(child, "/root/testdata/sf0.01", "events").repartition(8)
    val skewed = ev.withColumn("k",
      when(pmod(col("event_id"), lit(100)) === 0, col("event_id")).otherwise(0L))
    val dim = ev.select((col("event_id") % 2000000L).as("k2"), col("value").as("w"))
    val j = skewed.join(dim, col("k") === col("k2"))
      .agg(count(lit(1)).as("cnt"), max(length(col("props"))).as("w"))
    j.collect()
    val plan = j.queryExecution.explainString(FormattedMode)
    assert(plan.contains("skew=true"),
      s"AQE did not split the skewed partition; plan:\n${plan.take(4000)}")
  }
}
