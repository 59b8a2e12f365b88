package perfbench

/** One benchmark workload: a fixed set of ops that every pass runs once, in
  * an order the seed shuffles.
  *
  * @param store     fixture table behind the workload's cell store, which
  *                  set-up builds and GETs read
  * @param queries   registry queries (`SparkEntry.queries`) with the
  *                  operator module each one enters
  * @param cellTools CopyRow, CorruptScan and a layout rebuild plus
  *                  compaction in every pass (the reference tools)
  */
final case class Workload(
    name: String,
    store: String,
    queries: Seq[(String, String)],
    cellTools: Boolean)

object Workloads {
  // Each pass is sized to about four seconds on four cores at the bundled
  // scale, so that a run (set-up, checked pass, warm passes, timed passes)
  // stays near a minute: the registry lists are a subset of each family,
  // chosen to keep every layer the workload stresses.
  val all: Seq[Workload] = Seq(
    // The reference's tools on the cell model, reads beside writes: CopyRow,
    // CorruptScan, a layout rebuild plus compaction, and seeded GETs. Ops
    // are tiny, so query building, planning and source pruning dominate.
    Workload("cell_store", "customer", cellTools = true, queries = Seq(
      "q_point_lookup" -> "Relational",
      "q_store_scan" -> "CellStoreSource",
      "q_multi_range" -> "CellStoreSource",
      "q_value_lookup" -> "ValueIndex")),
    // Per-row text and vector kernels, shuffle-heavy dedup, an eager ANN
    // index build (which lands in set-up) and one end-to-end composite.
    // These tables take the heavy-row branch of Tables.load.
    Workload("corpus_llm", "documents", cellTools = false, queries = Seq(
      "q_normalize_text" -> "TextAnalysis",
      "q_redact" -> "TextAnalysis",
      "q_winnow" -> "TextAnalysis",
      "q_minhash_pairs" -> "Dedup",
      "q_ann_pq" -> "PqIndex",
      "q_pipeline_e2e" -> "CorpusPipeline")))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))

  /** Modules reported as `operators.<Module>_s`, the same list on every
    * workload: GETs enter CellStoreSource and the cell tools their own. */
  val modules: Seq[String] =
    (all.flatMap(_.queries.map(_._2)) ++
      Seq("CellStoreSource", "CopyRow", "CorruptScan", "Compaction")).distinct.sorted
}
