package perfbench

/** Workload membership. README.md gives the rule behind each list. */
object Workloads {
  val catalogMix: Seq[String] = Seq(
    "q20_agg_approx_distinct", "q43_llm_neardup_jaccard",
    "q67_tpch_q3ish", "q76_llm_neardup_groups", "q90_agg_approx_quantile",
    "q93_agg_hll_mergeable", "q252_evt_rolling_wau_hll",
    "q291_stream_semdedup")

  /** Days of `events` the backfill's cold pass builds, and the days after
    * them that it holds back and lands one per warm pass. */
  val backfilledDays = 6
  val heldBackDays = 8

  def members(workload: String): Seq[String] = workload match {
    case "catalog-mix" => catalogMix
  }

  /** The seed orders the operations within a pass. */
  def order(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)
}
