package graft

import graft.model.CellTable
import graft.operators.{CopyRow, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY.md §5 item 5): pushdown, shuffle counts,
  * broadcast choice — the properties that decide 100 TB behavior. */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  /** Plan AFTER an execution: AQE-wrapped plans (anything with an
    * exchange — including Tables.load's adaptive scan redistribution)
    * print no WholeStageCodegen `*(n)` markers until they have run. */
  private def finalPlan(df: DataFrame): String = {
    df.collect() // a write clones the QueryExecution; collect runs THIS one
    df.queryExecution.executedPlan.toString
  }

  test("point lookup pushes the key predicate into the parquet scan") {
    val plan = Relational.pointLookup(spark, sf001).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"),
      s"missing pushdown in:\n$plan")
  }

  test("range scan pushes both range bounds") {
    val plan = executedPlan(Relational.rangeScan(spark, sf001))
    assert(plan.contains("GreaterThanOrEqual(o_orderkey,100)") &&
      plan.contains("LessThan(o_orderkey,200)"), s"missing range pushdown in:\n$plan")
  }

  test("projection prunes the parquet ReadSchema to selected columns") {
    val plan = executedPlan(Relational.rangeScan(spark, sf001))
    assert(!plan.contains("o_orderpriority"), "unused column not pruned from scan")
  }

  test("rep_stats evaluates inside whole-stage codegen with no shuffle") {
    val df = graft.operators.TextAnalysis.repStatsQuery(spark, sf001)
    val plan = finalPlan(df)
    // `*(n)` prefixes mark whole-stage-codegen stages; the rep_stats
    // projection must carry one (an interpreted fallback would print a
    // bare Project). Any stage id is fine — the adaptive scan
    // redistribution (Tables.load, round 19) may insert a round-robin
    // exchange below it on single-file fixtures.
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(") && l.contains("rep_stats")),
      s"rep_stats projection not inside a codegen stage:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"per-row fold must not key-shuffle:\n$plan")
  }

  test("CopyRow plan is narrow: no shuffle exchange anywhere") {
    val cells = CellTable.fromTable(spark, sf001, "customer")
    val plan = executedPlan(
      CopyRow.plan(cells, "\\x00\\x00\\x00\\x00\\x00\\x00\\x00*", true, 1L))
    assert(!plan.contains("ShuffleExchange"), s"unexpected shuffle in:\n$plan")
  }

  test("probe join broadcasts the customer dimension") {
    val plan = executedPlan(Relational.probeJoin(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("join_agg: dims broadcast, at most the fact-side shuffles") {
    val plan = executedPlan(Relational.joinAgg(spark, sf001))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, got $broadcasts in:\n$plan")
  }

  test("topk plans TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(Relational.topK(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("q1 aggregation is two-phase (partial before the exchange)") {
    val plan = executedPlan(Relational.q1Agg(spark, sf001))
    assert(plan.contains("HashAggregate"), plan)
    // partial_ functions appear in the map-side aggregate
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("as-of join plans exactly one shuffle (the union window), no range blowup") {
    import spark.implicits._
    val l = Seq((1L, 1L, 5L)).toDF("id", "k", "t")
    val r = Seq((1L, 4L, 9L, 1.5)).toDF("k", "t", "version", "price")
    val plan = executedPlan(graft.operators.AsofJoin.asof(
      l, r, "k", "k", "t", "t", Seq("version", "price"), "version"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 key shuffle, got $shuffles in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range blowup operator in:\n$plan")
  }

  test("interval join is an equi-join on (key, granule), never a nested loop") {
    val plan = executedPlan(graft.operators.IntervalJoin.intervalQuery(spark, sf001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range blowup operator in:\n$plan")
    assert(plan.contains("Join") || plan.contains("join"), plan)
  }

  test("cellstore scan shows its pushed filters and pruned columns") {
    val dir = java.nio.file.Files.createTempDirectory("cellstore_plan").toString
    CellTable.writeRegionLayout(
      CellTable.fromTable(spark, sf001, "customer"), dir, numRegions = 4)
    val key = java.nio.ByteBuffer.allocate(8).putLong(42L).array()
    val df = spark.read.format("cellstore").load(dir)
      .filter(col("rowKey") === lit(key)).select("rowKey", "ts")
    // a small GET plans a LocalTableScan, which prints no scan description:
    // read the cell-store scan's own
    val plan = cellStoreScan(df).description()
    assert(plan.contains("pushed=[") && plan.contains("EqualTo(rowKey"), plan)
    assert(plan.contains("columns=[rowKey,ts]"), plan)
  }

  test("split/mix/redact are narrow maps: zero exchanges") {
    import graft.operators.{CorpusPipeline, TextAnalysis}
    Seq(
      CorpusPipeline.splitAssignQuery(spark, sf001),
      CorpusPipeline.mixSampleQuery(spark, sf001),
      TextAnalysis.redactQuery(spark, sf001)
    ).foreach { df =>
      val plan = executedPlan(df)
      // "narrow" = the OPERATOR adds no keyed shuffle; the only exchange
      // permitted is Tables.load's adaptive round-robin scan
      // redistribution (round 19 — absent on any multi-split input)
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("Exchange rangepartitioning"),
        s"expected a narrow map with no keyed shuffle:\n$plan")
    }
  }

  test("corpus export capstone: epoch key + shard are narrow, packing adds ONE exchange over clean") {
    import graft.operators.{CorpusPipeline, DatasetExport, EpochShuffle}
    def exchanges(df: DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(executedPlan(df)).length
    val docs = graft.sources.Tables.load(spark, sf001, "documents")
    val cleaned = CorpusPipeline.clean(docs)
    val (a, b) = EpochShuffle.epochParams(20260815L, 0)
    val keyed = cleaned
      .withColumn("_skey", EpochShuffle.shuffleKey(col("doc_id"), a, b))
      .withColumn("_shard", CorpusPipeline.shardColumn(8))
    val packed = CorpusPipeline.packSequencesOrdered(
      keyed, col("_shard"), col("_skey"), budget = 256L)
    val (exClean, exPacked) = (exchanges(cleaned), exchanges(packed))
    // the reshuffle key and shard bucket are projections; packing rides one
    // groupBy(shard) — the only exchange the stage may add
    assert(exPacked == exClean + 1,
      s"packing added ${exPacked - exClean} exchanges over clean (want 1)")
    // the full capstone: per-shard stats reuse the pack partitioning (no
    // extra exchange) and the manifest audit is metadata-sized (2 shard
    // aggregations over the exported files + the audit join)
    val full = exchanges(DatasetExport.corpusExportE2eQuery(spark, sf001))
    assert(full <= exPacked + 4,
      s"capstone plan grew to $full exchanges (packed side has $exPacked)")
  }

  test("matryoshka ANN: one shuffle total — the rerank window reuses the first pass's partitioning") {
    val plan = executedPlan(graft.operators.Similarity.mrlQuery(spark, sf001))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one hash exchange (query_id), got:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"expected map-side partial top-k (WindowGroupLimit):\n$plan")
  }

  test("source overlap: sizes and signatures broadcast; only grams shuffle") {
    val plan = executedPlan(graft.operators.Dedup.sourceOverlapQuery(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for per-source sizes/signatures:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join must stay an equi-join on the gram key:\n$plan")
  }

  test("embedding dim stats aggregate with map-side partials") {
    val plan = executedPlan(graft.operators.EmbeddingStats.dimStatsQuery(spark, sf001))
    // partial aggregation before the exchange: d rows of state per task
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected two-phase hash aggregation:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one exchange (dim):\n$plan")
  }

  test("codec + cosine expressions stay inside whole-stage codegen") {
    // in executedPlan.toString, `*(n)` marks operators inside a
    // WholeStageCodegen stage — the Project carrying our expression must
    // have it (a codegen-incapable expression would force a plain Project)
    val cells = CellTable.fromTable(spark, sf001, "customer")
      .select(graft.functions.GraftFunctions.to_string_binary(col("rowKey")).as("k"))
    val plan = executedPlan(cells)
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*(") && l.contains("to_string_binary")), plan)

    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val cos = emb.select(graft.functions.VectorFunctions
      .cosine_sim(col("embedding"), col("embedding")).as("c"))
    val cosPlan = executedPlan(cos)
    assert(cosPlan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*(") && l.contains("cosine_sim")), cosPlan)
  }

  test("bigram LM explodes the corpus once for the model (checkpointed)") {
    val df = graft.operators.TextAnalysis.lmScoreQuery(spark, sf001)
    val plan = executedPlan(df)
    // the model side (bigram + prefix counts) must read the checkpointed
    // bigram table, not re-derive it: exactly ONE zip_with bigram explode
    // may remain in the plan — the streaming scoring pass
    val explodes = plan.linesIterator.count(l =>
      l.contains("Generate explode") && l.contains("zip_with"))
    assert(explodes == 1, s"expected 1 zip_with explode, got $explodes in:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("LocalTableScan"),
      s"model side should scan the checkpointed bigram table:\n$plan")
  }

  test("weighted sample: global top-k is TakeOrderedAndProject, never a full sort") {
    val df = graft.operators.CorpusPipeline.weightedSampleQuery(spark, sf001)
    val plan = executedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan per-partition heads:\n$plan")
    // the only Sort allowed is the bounded k-row window's
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no global range-partitioned sort:\n$plan")
  }

  test("normalize_text evaluates inside whole-stage codegen, narrow") {
    val df = graft.operators.TextAnalysis.normalizeQuery(spark, sf001)
    val plan = finalPlan(df)
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(") && l.contains("normalize_text")),
      s"normalize_text not inside a codegen stage:\n$plan")
    // load's adaptive round-robin redistribution allowed; no keyed shuffle
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"normalization must not key-shuffle:\n$plan")
  }

  test("theta overlap (production form): serving plan reads only the sketch artifact") {
    val docs = graft.sources.Tables.load(spark, sf001, "documents")
    val plan = executedPlan(graft.operators.Sketches.thetaVocabOverlap(docs))
    // the single corpus read happens once, at sketch materialization;
    // the pairwise serving plan touches ONLY the S-row checkpointed
    // sketches — zero parquet scans here
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0, s"serving plan must not rescan the corpus:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"pairing must read the materialized sketches:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"S-row sketch pairing must not be a cartesian over data:\n$plan")
  }

  test("span dedup: window-hash aggregations are two-phase (map-side partials)") {
    val df = graft.operators.Dedup.spanDedupQuery(spark, sf001)
    val plan = executedPlan(df)
    // the per-doc-distinct + doc-count aggregation over window hashes must
    // show a partial HashAggregate feeding each Exchange — a boilerplate
    // window in millions of docs is a combined hot key, not a skew blowup
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 4, s"expected partial+final pairs, got $hashAggs in:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"window-hash aggs must stay hash-based:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"no all-pairs anywhere:\n$plan")
  }
}
