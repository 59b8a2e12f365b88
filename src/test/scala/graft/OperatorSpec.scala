package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Relational query pack sanity on sf0.001 (full oracle equivalence is the
  * driver's DuckDB gate; these pin semantics and invariants). */
class OperatorSpec extends AnyFunSuite with SparkTestBase {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf001)

  test("entry is non-empty (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and is non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf001).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every declared query output schema is atomic-typed (oracle-canonicalizable)") {
    // the driver's oracle harness sorts raw column values in pandas before
    // hashing; a MAP/ARRAY/STRUCT top-level column is unhashable there
    // (round 9's q_wide_row failure mode) — structurally forbidden here
    SparkEntry.queries.foreach { case (name, fn) =>
      val bad = fn(spark, sf001).schema.fields
        .filterNot(f => Verify.isOracleSortable(f.dataType))
      assert(bad.isEmpty, s"$name emits non-atomic columns: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    }
  }

  test("wide-decimal value guard: float64-exact values pass, wider ones are rejected") {
    import spark.implicits._
    // DECIMAL(18,4) whose units fit 2^53 — the repo-standard money sum shape
    val ok = Seq("123456789.0123", "-900719925474.0000").toDF("v")
      .select(col("v").cast("decimal(18,4)").as("v"))
    Verify.assertDecimalsInFloatWindow(ok) // must not throw
    // 2^53 units = 900719925474.0993; one step past it must be rejected
    val bad = Seq("900719925474.0993").toDF("v")
      .select(col("v").cast("decimal(18,4)").as("v"))
    val e = intercept[IllegalStateException](Verify.assertDecimalsInFloatWindow(bad))
    assert(e.getMessage.contains("float64-exact window"))
    // declared queries must all sit inside the window at sf0.001
    SparkEntry.queries.foreach { case (name, fn) =>
      try Verify.assertDecimalsInFloatWindow(fn(spark, sf001))
      catch { case e: IllegalStateException =>
        fail(s"$name: ${e.getMessage}")
      }
    }
  }

  test("RAG capstone: distinct picks from the fused top-20, MMR pick 1 = fused top-1") {
    val fused = run("q_hybrid_search").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    val rag = run("q_rag_e2e").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("mmr_rank")))
    assert(rag.length == 10 && rag.map(_._1).distinct.length == 10)
    assert(rag.map(_._1).forall(fused.contains),
      "every RAG pick must come from the fused candidate list")
    assert(fused(rag.find(_._2 == 1L).get._1) == 1L,
      "MMR pick 1 must be the fused top-1")
  }

  test("cross-modal RAG capstone: 10 distinct picks, rel on the fused-rank lattice") {
    val rag = run("q_rag_media").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rel"),
        r.getAs[Long]("mmr_rank")))
    assert(rag.length == 10 && rag.map(_._1).distinct.length == 10)
    assert(rag.map(_._3).sorted.toSeq == (1L to 10L))
    // rel is the fused-rank linear decay (21 − rank)·50000 over a ≤20 list
    assert(rag.forall { case (_, rel, _) =>
      rel % 50000L == 0L && rel >= 50000L && rel <= 1000000L })
    // pick 1 is the greedy argmax: the highest-rel candidate (vec_id tiebreak)
    val top = rag.maxBy(_._2)._2
    assert(rag.find(_._3 == 1L).get._2 == top,
      "MMR pick 1 must carry the maximal fused relevance")
  }

  test("query registry: 188 unique names across the families, 13 registered ANN tiers") {
    // the family modules' concatenation is the only declaration of a
    // query; a Map built from it would silently keep the last of two
    // same-named defs, so the count and uniqueness are checked on the Seq
    val names = SparkEntry.defs.map(_.name)
    val declared = names.size
    assert(declared == 188, s"expected 188 declared queries, found $declared")
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"query names declared more than once: $dups")
    assert(SparkEntry.queries.keySet == names.toSet)
    // the recall gate scores exactly the tier table's rows: 13 distinct
    // tiers, each a registered query
    val tiers = graft.queries.AnnQueries.Tiers
    assert(tiers.map(_.name).distinct.size == 13, tiers.map(_.name))
    val unregistered = tiers.filterNot(t => SparkEntry.defs.contains(t.query)).map(_.name)
    assert(unregistered.isEmpty, s"tier queries outside the registry: $unregistered")
  }

  test("point lookup returns exactly the requested key") {
    val rows = run("q_point_lookup").collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("c_custkey") == 42L)
  }

  test("first_per_group has one row per order, the min line number") {
    val df = run("q_first_per_group")
    val orders = df.select("l_orderkey").distinct().count()
    assert(df.count() == orders)
    val mins = spark.read.parquet(s"$sf001/lineitem.parquet")
      .groupBy("l_orderkey").agg(min("l_linenumber").as("mn"))
    val joined = df.join(mins, "l_orderkey")
      .filter(col("l_linenumber") =!= col("mn")).count()
    assert(joined == 0)
  }

  test("probe counters: total = success + failed = orders count") {
    val r = run("q_probe_counters").collect().head
    val nOrders = spark.read.parquet(s"$sf001/orders.parquet").count()
    assert(r.getAs[Long]("total_rows") == nOrders)
    assert(r.getAs[Long]("total_rows") ==
      r.getAs[Long]("success_rows") + r.getAs[Long]("failed_rows"))
  }

  test("probe join: failed rows carry the normalized first-line message") {
    val failed = run("q_probe_join").filter(col("status") === "FAILED").collect()
    assert(failed.nonEmpty)
    assert(failed.forall(_.getAs[String]("error") ==
      "NegativeBalanceException, message: account balance below zero"))
  }

  test("topk is ordered by price desc with key tiebreak") {
    val rows = run("q_topk").collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("anti join complements the recent-order customer set") {
    val nCust = spark.read.parquet(s"$sf001/customer.parquet").count()
    val without = run("q_anti_join").count()
    val withRecent = spark.read.parquet(s"$sf001/orders.parquet")
      .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01 00:00:00")))
      .select("o_custkey").distinct().count()
    assert(without + withRecent == nCust)
    assert(without > 0)
  }

  test("event windows aggregate the full events table") {
    val total = run("q_event_windows").agg(sum("n_events")).collect().head.getLong(0)
    assert(total == graft.sources.Tables.load(spark, sf001, "events").count())
  }

  test("json extraction yields non-null k for all events") {
    assert(run("q_json_extract").filter(col("k").isNull).count() == 0)
  }
}
