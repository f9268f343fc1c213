package graft.examples

import graft.{SessionTuning, SparkEntry}

/** The corpus report card — the one-stop governance review a pipeline
  * owner reads before shipping a training corpus, composed entirely
  * from oracle-gated registry operators:
  *
  *   1. attrition funnel (q141): where each source's documents die
  *   2. dedup threshold sweep (q159): the pair/cluster curve that
  *      picks the production near-dup threshold
  *   3. dup-graph health (q139): triangles — are clusters dense
  *      families or chains of marginal matches?
  *   4. leakage-free split audit (q138): train/val/test by cluster
  *   5. label-noise audit (q150): which classes' labels to re-review
  *   6. classifier calibration (q148): the held-out threshold curve
  *   7. index tuning (q153): recall@5 / MRR per IVF probe count
  *   8. inspection sample (q149): the reproducible eyeball set
  *   9. normalization-dedup census (q165): bytes-vs-text duplicate gap
  *  10. snapshot churn (q166): crawl-to-crawl added/removed/changed
  *  11. span-purge records (q167): per-doc tokens cut + clean fingerprint
  *  12. quality-rule gate (q170): Gopher rule verdicts (first rows)
  *  13. split-leakage audit (q174): dup clusters straddling the split
  *  14. encoding-anomaly census (q175): mojibake detect/repair per source
  *  15. packing-efficiency curve (q176): the context-length decision table
  *  16. MinHash calibration (q177): estimator-vs-exact per decile
  *  17. domain-shift census (q178): per-source χ² vs corpus distribution
  *  18. source novelty (q179): template/syndication flags
  *  19. length drift (q180): crawl-to-crawl KS per source
  *  20. split repair bill (q181): the quarantine-to-train reassignment
  *  21. cross-split n-gram overlap (q182): residual substring leakage
  *  22. exact-substring dedup bill (q183): the ≥50-token purge census
  *  23. PII scrub census (q184): email/phone/IP redaction bill
  *  24. duplicate line/paragraph fractions (q185): Gopher repetition
  *  25. top-n-gram character shares (q186): Gopher repetition
  *  26. line dedup bill (q187): corpus-wide duplicated-line purge cost
  *  27. duplicate n-gram coverage (q188): within-doc 5..10-gram repeats
  *  28. line purge applied (q189): the cleaned-corpus emission
  *  29. paragraph language consistency (q190): mixed-language docs
  *  30. fluency buckets (q191): CCNet head/middle/tail token bill
  *  31. token-budget sample (q192): mixture-execution cut per source
  *  32. media metadata census (q193): per-mime dims/rates + reject bill
  *  33. media near-dup groups (q194): decoded-pixel fingerprint dedup
  *  34. domain blocklist gate (q195): RefinedWeb URL-filter bill
  *  35. near-dup purge applied (q196): doc-grain keep/drop + remap
  *  36. audio energy envelope (q197): real PCM-decode census
  *  37. video frame census (q198): real AVI-demux frame sampling
  *  38. cross-video frame dedup (q199): frame-grain duplicate groups
  *  39. image gate census (q200): resolution/aspect filter bill
  *  40. cross-modal alignment census (q201): image x caption score bill
  *  41. perceptual near-dup pairs (q202): dHash Hamming-band groups
  *  42. audio quality gate (q203): clipping/DC/dropout bill
  *  43. encoding-damage census (q204): mojibake/U+FFFD/control repair bill
  *  44. audio fingerprint dedup (q205): quantized-envelope groups
  *  45. video gate census (q206): duration/motion verdict bill
  *
  * Every table is deterministic (integer counts + single divisions),
  * so two runs of this report — or a rerun after an incident — are
  * bit-identical unless the corpus changed.
  * `sbt "runMain graft.examples.GovernanceMain [sfDir]"`.
  */
object GovernanceMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SessionTuning.session("graft-governance",
      sys.env.getOrElse("SPARK_MASTER", "local[8]"))

    val sections = Seq(
      "source attrition funnel" -> "q141_attrition_funnel",
      "dedup threshold sweep" -> "q159_threshold_sweep",
      "dup-graph health (triangle census)" -> "q139_dup_graph_triangles",
      "leakage-free split audit" -> "q138_cluster_split",
      "label-noise audit" -> "q150_label_noise",
      "classifier calibration (held-out sweep)" -> "q148_vote_threshold_sweep",
      "index tuning (IVF probe sweep)" -> "q153_index_recall_sweep",
      "inspection sample (first rows)" -> "q149_inspection_sample",
      "normalization-dedup census" -> "q165_normalized_dedup",
      "snapshot churn (crawl-to-crawl)" -> "q166_snapshot_diff",
      "span purge (first rows)" -> "q167_span_purge",
      "quality-rule gate (first rows)" -> "q170_gopher_rules",
      "split-leakage audit" -> "q174_split_leakage",
      "encoding-anomaly census" -> "q175_mojibake_census",
      "packing-efficiency curve" -> "q176_packing_curve",
      "minhash calibration" -> "q177_minhash_calibration",
      "domain-shift census" -> "q178_domain_shift",
      "source novelty" -> "q179_source_novelty",
      "length drift (crawl-to-crawl KS)" -> "q180_length_drift",
      "split repair bill (quarantine-to-train)" -> "q181_split_repair",
      "cross-split n-gram overlap" -> "q182_split_ngram_overlap",
      "exact-substring dedup bill (Lee et al. ExactSubstr)" -> "q183_exact_substring",
      "PII scrub census (emails/phones/IPs)" -> "q184_pii_scrub",
      "duplicate line/paragraph fractions (first rows)" -> "q185_gopher_dup_lines",
      "top-n-gram char shares (first rows)" -> "q186_gopher_top_ngram",
      "line dedup bill (RefinedWeb line pass)" -> "q187_line_dedup",
      "duplicate n-gram coverage (first rows)" -> "q188_gopher_dup_ngrams",
      "line purge applied (first rows)" -> "q189_line_purge_apply",
      "paragraph language consistency (first rows)" -> "q190_paragraph_langid",
      "fluency buckets (CCNet head/middle/tail)" -> "q191_fluency_buckets",
      "token-budget sample bill" -> "q192_token_budget_sample",
      "media metadata census (mime/dims/rejects)" -> "q193_media_census",
      "media near-dup groups (pixel-decode fingerprint)" -> "q194_media_dedup_groups",
      "domain blocklist gate (block/allow/kept per source)" -> "q195_domain_blocklist",
      "near-dup purge applied (keep/drop + remap, first rows)" -> "q196_neardup_purge_apply",
      "audio energy envelope (PCM decode, first rows)" -> "q197_audio_energy_envelope",
      "video frame census (AVI demux, first rows)" -> "q198_video_frame_census",
      "cross-video frame dedup (first rows)" -> "q199_video_frame_dedup",
      "image gate census (resolution/aspect bill)" -> "q200_image_gate_census",
      "cross-modal alignment census (score bill per source)" -> "q201_crossmodal_align",
      "perceptual near-dup pairs (dHash Hamming bands)" -> "q202_image_phash_neardup",
      "audio quality gate (clip/DC/dropout bill)" -> "q203_audio_quality_gate",
      "encoding-damage census (mojibake repair bill)" -> "q204_mojibake_census",
      "audio fingerprint dedup (envelope groups, first rows)" -> "q205_audio_fingerprint_dedup",
      "video gate census (duration/motion bill)" -> "q206_video_gate_census")

    sections.foreach { case (title, name) =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.limit(20).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"%n== $title [$name, $dt%.1f s] ==")
      println(df.schema.fieldNames.mkString(" | "))
      rows.foreach(r => println(r.mkString(" | ")))
    }
    spark.stop()
  }
}
