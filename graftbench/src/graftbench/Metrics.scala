package graftbench

/** The metric catalogue: every name the benchmark prints, with its unit.
  * BENCHMARK.json lists the same names; the benchmark's tests check that
  * the two agree. */
object Metrics {

  /** Bounded end-to-end metrics, printed by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "run_s" -> "s",
    "build_s" -> "s",
    "queries_per_s" -> "1/s",
    "wave_p50_ms" -> "ms",
    "wave_p95_ms" -> "ms",
    "recall_at_10" -> "ratio",
    "ingest_rows_per_s" -> "1/s",
    "index_mb" -> "MB",
    "cpu_s" -> "s")

  /** End-to-end figures that apply to one workload only; printed in the
    * report of that workload, not in the last line. `failed_frac` is 0
    * on a healthy run, and the last line carries it as failed/attempted. */
  val reportOnly: Seq[(String, String)] = Seq(
    "docs_per_s" -> "1/s",
    "dedup_recall" -> "ratio",
    "failed_frac" -> "ratio")

  /** Span name → the phase its Spark counters are attributed to. */
  val phaseOf: Map[String, String] = Map(
    "sources.read_fvecs" -> "ann_build",
    "hnsw.fit" -> "ann_build",
    "ivf_flat.fit" -> "ann_build",
    "ivf_pq.fit" -> "ann_build",
    "hnsw.save" -> "ann_build",
    "hnsw.load" -> "ann_build",
    "hnsw.cold_wave" -> "hnsw_wave",
    "hnsw.wave" -> "hnsw_wave",
    "ivf_flat.wave" -> "ivf_flat_wave",
    "ivf_pq.wave" -> "ivf_pq_wave",
    "exact.wave" -> "exact",
    "functions.sim_pairs" -> "exact",
    "sql_probe.query" -> "sql_probe",
    "stream_hnsw.upsert" -> "stream_upsert",
    "stream_ivf.upsert" -> "stream_upsert",
    "stream_hnsw.wave" -> "stream_hnsw_wave",
    "stream_ivf.wave" -> "stream_ivf_wave",
    "dedup.pairs" -> "dedup",
    "dedup.clusters" -> "dedup",
    "textindex.build" -> "textindex_build",
    "bm25.wave" -> "bm25_wave",
    "ngram.trim" -> "text_prep",
    "bpe.train" -> "text_prep",
    "bpe.pack" -> "text_prep",
    "export.write" -> "text_prep")

  val phases: Seq[String] = phaseOf.values.toSeq.distinct.sorted

  /** Spark counters kept per phase. Spill is left out: at these sizes it
    * is always 0, and the per-layer budget is 128 names. */
  val counters: Seq[(String, String)] = Seq(
    "jobs" -> "count",
    "tasks" -> "count",
    "plan_ms" -> "ms",
    "exec_run_ms" -> "ms",
    "shuffle_mb" -> "MB",
    "gc_ms" -> "ms",
    "driver_ms" -> "ms")

  /** Per-layer metrics, printed by every traced run. A layer that the
    * workload does not call reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.read_fvecs_s" -> "s",
    "hnsw.fit_s" -> "s",
    "hnsw.fit_vec_per_s" -> "1/s",
    "hnsw.save_s" -> "s",
    "hnsw.load_s" -> "s",
    "hnsw.cold_wave_ms" -> "ms",
    "hnsw.wave_ms_p50" -> "ms",
    "hnsw.recall_at_10" -> "ratio",
    "exact.wave_ms_p50" -> "ms",
    "ivf_flat.fit_s" -> "s",
    "ivf_pq.fit_s" -> "s",
    "ivf_flat.wave_ms_p50" -> "ms",
    "ivf_pq.wave_ms_p50" -> "ms",
    "ivf_flat.recall_at_10" -> "ratio",
    "ivf_pq.recall_at_10" -> "ratio",
    "functions.sim_pairs_per_s" -> "1/s",
    "sql_probe.query_ms_p50" -> "ms",
    "stream_hnsw.upsert_ms_p50" -> "ms",
    "stream_ivf.upsert_ms_p50" -> "ms",
    "stream_hnsw.wave_ms_p50" -> "ms",
    "stream_ivf.wave_ms_p50" -> "ms",
    "stream_hnsw.updates_applied" -> "count",
    "stream_hnsw.recall_at_10" -> "ratio",
    "stream_ivf.recall_at_10" -> "ratio",
    "dedup.pairs_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.pair_precision" -> "ratio",
    "dedup.clusters_s" -> "s",
    "ngram.trim_s" -> "s",
    "bpe.train_s" -> "s",
    "bpe.pack_s" -> "s",
    "export.write_s" -> "s",
    "textindex.build_s" -> "s",
    "bm25.wave_ms_p50" -> "ms",
    "trace.overhead_s" -> "s",
    "waves.driver_share" -> "ratio",
    "waves.plan_share" -> "ratio") ++
    (for (p <- phases; (c, u) <- counters) yield s"$p.$c" -> u)

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentile by linear interpolation between the closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.length) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }
}
