package graft

import graft.operators.{IvfIndex, PqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 codegen kernels (graft.functions.AnnKernels) vs the
  * interpreted expression forms they replaced: BIT-equality over the
  * fixture corpus plus the synthetic edges (zero vector, exact score
  * ties). The reference forms live in the test-scope [[ReferenceForms]] for
  * exactly this pinning — the mmrSelectIterative discipline. */
class AnnKernelsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def emb = graft.sources.Tables.load(spark, sf001, "embeddings")

  // deterministic small models, trained once for the suite
  private lazy val pqModel = PqIndex.train(emb, dim = 64, m = 8, k = 16, iters = 1)
  private lazy val ivfModel = IvfIndex.train(emb, nlist = 8, iters = 1)

  /** The corpus plus one vector shorter than m×subDim: its tail
    * subspaces are partial or empty, which both forms truncate. */
  private def embWithShort: DataFrame = emb.select(col("embedding"))
    .unionByName(Seq(Tuple1(Array.tabulate(20)(i => (i + 1) / 20f))).toDF("embedding"))

  private def assertSame(df: DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(!r.getBoolean(0), s"kernel != reference: $r") }
  }

  test("l2_normalize == transform reference (incl. zero vector), bit-exact") {
    val withZero = emb.select(col("embedding"))
      .unionByName(Seq(Tuple1(Array.fill(64)(0f))).toDF("embedding"))
    assertSame(withZero.select(
      (PqIndex.normed(col("embedding")) =!=
        ReferenceForms.normedReference(col("embedding"))).as("diff")))
  }

  test("pq_encode == nearestCode/array_sort reference, bit-exact") {
    val n = embWithShort.select(PqIndex.normed(col("embedding")).as("_e"))
    assertSame(n.select(
      (PqIndex.codesColumn(pqModel, col("_e")) =!=
        ReferenceForms.codesColumnReference(pqModel, col("_e"))).as("diff")))
  }

  test("adc_tables == dot-literal reference, bit-exact") {
    val n = embWithShort.select(PqIndex.normed(col("embedding")).as("_e"))
    assertSame(n.select(
      (PqIndex.adcTablesColumn(pqModel, col("_e")) =!=
        ReferenceForms.adcTablesColumnReference(pqModel, col("_e"))).as("diff")))
  }

  test("adc_score == aggregate/zip_with reference, bit-exact") {
    val n = emb.select(col("vec_id"), PqIndex.normed(col("embedding")).as("_e"))
    val coded = n.select(col("vec_id"),
      PqIndex.codesColumn(pqModel, col("_e")).as("codes"),
      PqIndex.adcTablesColumn(pqModel, col("_e")).as("tables"))
    assertSame(coded.select(
      (PqIndex.adcScore(col("codes"), col("tables")) =!=
        ReferenceForms.adcScoreReference(col("codes"), col("tables"))).as("diff")))
  }

  test("nearest_centroid == aggregate-fold reference, bit-exact (incl. ties)") {
    assertSame(emb.select(
      (IvfIndex.nearestCell(ivfModel, col("embedding")) =!=
        ReferenceForms.nearestCellReference(ivfModel, col("embedding"))).as("diff")))
    // exact tie: duplicated centroid — both forms must keep the LOWEST cell
    val tied = IvfIndex.Model(Seq(ivfModel.centroids.head, ivfModel.centroids.head)
      ++ ivfModel.centroids.tail)
    assertSame(emb.select(
      (IvfIndex.nearestCell(tied, col("embedding")) =!=
        ReferenceForms.nearestCellReference(tied, col("embedding"))).as("diff")))
  }

  test("window_hashes == xxhash64-HOF reference, bit-exact (incl. short docs)") {
    val docs = graft.sources.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
      .unionByName(Seq((99990001L, "one two three")).toDF("doc_id", "text"))
    val base = graft.operators.Dedup.tokenizedDocsForTest(docs)
    for (n <- Seq(1, 4, 8)) {
      val kern = graft.operators.Dedup.windowOccurrencesForTest(base, n)
      val ref = ReferenceForms.windowOccurrencesReference(base, n)
      val k = kern.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
      val f = ref.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
      assert(k.length == f.length && k.sameElements(f), s"n=$n mismatch")
    }
  }

  test("token_ngrams == transform/slice/concat_ws reference, same strings") {
    val tk = graft.sources.Tables.load(spark, sf001, "documents")
      .select(split(lower(col("text")), "\\s+").as("_tk"))
    for (n <- Seq(2, 8)) {
      val kern = tk.select(explode(
        graft.functions.MinHashFunctions.token_ngrams(col("_tk"), n)).as("g"))
      val ref = tk.select(explode(
        when(size(col("_tk")) >= n,
          transform(sequence(lit(0), size(col("_tk")) - n),
            i => concat_ws(" ", slice(col("_tk"), i + 1, lit(n)))))
          .otherwise(array(concat_ws(" ", col("_tk"))))).as("g"))
      val k = kern.collect().map(_.getString(0)).sorted
      val f = ref.collect().map(_.getString(0)).sorted
      assert(k.length == f.length && k.sameElements(f), s"n=$n mismatch")
    }
  }

  test("probe_cells == array_sort reference, bit-exact (incl. ties)") {
    for (np <- Seq(1, 3, 8)) {
      assertSame(emb.select(
        (IvfIndex.probeCellsColumn(ivfModel, col("embedding"), np) =!=
          ReferenceForms.probeCellsColumnReference(ivfModel, col("embedding"), np)).as("diff")))
    }
    val tied = IvfIndex.Model(Seq(ivfModel.centroids.head, ivfModel.centroids.head)
      ++ ivfModel.centroids.tail)
    assertSame(emb.select(
      (IvfIndex.probeCellsColumn(tied, col("embedding"), 4) =!=
        ReferenceForms.probeCellsColumnReference(tied, col("embedding"), 4)).as("diff")))
  }
}
