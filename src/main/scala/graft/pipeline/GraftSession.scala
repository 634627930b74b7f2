package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Tuned local session factory — every main/test goes through this so
  * the engine's measured configuration is in one place.
  *
  * Why these settings (measured on this image, see BASELINE.md):
  *  - columnarReaderBatchSize=512: the transcript table's `text` column
  *    averages ~3 KB/row; the default 4096-row columnar batch makes
  *    12 MB+ OnHeapColumnVector byte arrays whose growth copies (and,
  *    under G1 with a large heap, humongous allocations) dominated the
  *    scan — 25× measured slowdown on object materialization. 512 rows
  *    keeps vectors ~1.5 MB.  On a real cluster this is the same knob.
  *  - ParallelGC: throughput collector suits batchy scan/extract work;
  *    measured ~3× over G1 on the deserialization-heavy path.
  *  - maxPartitionBytes=8m / openCostInBytes=512k: payload rows are fat,
  *    so default 128 MB splits yield too few partitions to use the
  *    cores (measured: flat scaling 8→32); smaller splits restore
  *    bytes-balanced parallelism WITHOUT a pre-map shuffle (a salt
  *    repartition of the raw corpus would shuffle the whole input —
  *    measured 2-4× slower than scan-parallel at both 8 and 32 cores).
  *  - shuffle.partitions = cores (local), AQE on (coalescing + skew).
  */
object GraftSession {
  def build(cores: Int, name: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(name)
      // the engine's Catalyst surface: custom SQL functions + the
      // dot(v,v)→norm2(v) optimizer rule (functions/GraftExtensions)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's coalescing floor stays at its 1 MB DEFAULT: a global 64 KB
      // floor was A/B-probed this round — it fixed the two queries whose
      // heavy compute sits above a KB-scale exchange (q_eval_chrf 5.4 →
      // 2.6 s, q_dedup_prefix_filter 4.9 → 1.1 s) but TAXED every
      // multi-round / multi-arm query with ~32 near-empty tasks per tiny
      // shuffle (q_text_jsd 4.0 → 7.4 s, q_docs_maxcover 2.3 → 4.3 s,
      // same interleaved window). The fan-out serialization is fixed at
      // the operators themselves instead (explicit spread of the
      // checkpointed gram/pair tables feeding heavy per-row compute —
      // guide §1.2 order: algorithm before configuration).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      // constraintPropagation stays ON (default): an A/B over an
      // 8-query probe showed only ~3% planning-latency win from
      // disabling it, and it would cost the inferred IsNotNull parquet
      // pushdowns (PlanSpec pins q_tpch_q1's) — wrong trade at 100 TB.
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (512L << 10).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // DPP's stats-based benefit check rejects pruning on KB-scale
      // test tables, making the q_source_dpp plan shape SF-dependent;
      // the fallback-ratio heuristic plants the same semantics-
      // preserving subquery the 100 TB layout would get
      .config("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
