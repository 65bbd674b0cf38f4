package graft.core

import org.apache.spark.sql.SparkSession

/**
 * Shared session tuning for every graft entry point (Bench, Verify,
 * BenchOne, Profile, RunOne, Explain, DevScratch; `local` builds their
 * session) — optimization-round settings that make
 * partitioning SCALE-ADAPTIVE instead of constant-tuned (optimization
 * guide §2.2/§6), applied identically to the bench and the correctness
 * harness so the timed configuration is exactly the verified one.
 *
 *  - `spark.sql.files.openCostInBytes` 4 MiB -> 512 KiB: the packing
 *    charge per file floors every scan split at ~4 MiB. 512 KiB keeps
 *    the anti-tiny-split guard (thousands of tiny files still
 *    coalesce) while letting SPLITTABLE small inputs fan out — the
 *    carrier is the line-based text scans (q_web_ingest_e2e's WARC
 *    re-read halves: 0.56 vs 1.12 s best-of-5 interleaved in one JVM;
 *    q_warc_roundtrip 0.33 vs 0.38). On the single-row-group parquet
 *    test tables the extra splits are EMPTY tasks (parquet can't split
 *    inside a row group) — measured cost <= 0.06 s/query on the core
 *    family, which the text wins outweigh suite-wide. At 100 TB splits
 *    are `maxPartitionBytes`-capped long before the open cost matters,
 *    so the setting is scale-neutral. (A first attempt at 128 KiB
 *    measured well on scan-bound queries but regressed multi-stage
 *    pipelines — q_bm25_rm3 5.6 -> 7.0 s — and was rejected; r16
 *    shipped 512 KiB.)
 *
 *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize`
 *    1 MiB -> 256 KiB: AQE's coalesced-partition floor. With
 *    parallelismFirst (default true) AQE sizes post-shuffle partitions
 *    at this floor, so a CPU-heavy but byte-light stage — string-keyed
 *    join probes, hash aggregates over exploded tokens, NN batch
 *    scoring — collapses to bytes/1MiB tasks (measured in r16: the
 *    q_hits half-iteration join+agg ran as ONE task at sf0.1). 256 KiB
 *    keeps a floor but lets small-byte/heavy-CPU stages use the cores.
 *    At cluster scale real partitions sit far above BOTH floors
 *    (advisory 64 MiB), so this only affects the small-input regime.
 *    (The rejected 64 KiB first attempt over-fanned tiny stages; an
 *    r17 interleaved A/B of 256 KiB vs the 1 MiB default measured FLAT
 *    at 32 cores across the core/dedup/retrieval battery — the value
 *    is kept for the byte-light CPU-heavy stages above, bounded by
 *    `spark.sql.shuffle.partitions` = cores.)
 */
object SessionTuning {
  val configs: Seq[(String, String)] = Seq(
    "spark.sql.files.openCostInBytes" -> "524288",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "262144",
    // Generated-class cache (static conf, default 100 entries): an
    // application running a many-query workload holds far more than 100
    // live codegen units, and Bench interleaves its two timed passes
    // across the whole suite — with the default cache EVERY pass of
    // EVERY query re-runs janino on every span (wide-plan graph/join
    // queries pay 1-2 s per pass; measured in-bench q_adamic_adar
    // 2.26 s vs 0.88-1.14 s for the identical plan when its classes
    // are still cached). 5000 entries covers the catalog (~82 headline
    // x ~30 spans) with room; entries hold weak refs to their source
    // key, so dead plans still age out. Scale-neutral: compile-cache
    // size, independent of data volume.
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The tuned builder every main starts from: `local[cpus]`, shuffle
    * partitions = cpus, AQE on, UTC session time zone, no UI. */
  def local(cpus: Int): SparkSession.Builder =
    apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
}
