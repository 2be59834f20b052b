package graft

import graft.operators.DedupQueries
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Drift guard for the SHARED oracle-SQL fragments (VERDICT r5 #7).
  *
  * The portable MinHash machinery — `portableBandrowsCtes` (tokens →
  * grams → gram hashes → signature → band digests) and `matchSumSql`
  * (the agreeing-minhash count) — is consumed by string interpolation
  * from many query oracles. Those queries MUST agree on the candidate
  * machinery by construction: a future edit that forks one consumer's
  * copy (pasting a tweaked chain instead of interpolating the shared
  * def) would silently decouple, say, q56's cluster edges from q99's
  * pair set. This spec pins, at the string level:
  *
  *  1. which declared queries embed the band/pair machinery (an explicit
  *     name set — a new consumer must be added here consciously), and
  *  2. that every one of them contains the canonical fragment VERBATIM —
  *     so the fragments cannot fork without this spec going red.
  */
class OracleFragmentDriftSpec extends AnyFunSpec with Matchers {

  private val sqlByName: Map[String, String] =
    SparkEntry.allDefs.flatMap(q => q.sql.map(q.name -> _)).toMap

  describe("shared portable-MinHash oracle fragments") {

    it("the bandrows chain appears only via the one canonical fragment, in the pinned consumer set") {
      val frag = DedupQueries.portableBandrowsCtes
      val consumers = sqlByName.filter(_._2.contains("bandrows AS"))
      consumers.keySet shouldBe Set(
        "q51_minhash_signatures", "q55_group_minhash", // portable since r12
        "q52_minhash_lsh_dedup", "q54_ngram_jaccard_verify",
        "q56_dedup_clusters", "q99_portable_minhash_pairs",
        "q129_cluster_canonical", "q139_contrastive_triples",
        "q145_triangle_census", "q148_incremental_dedup",
        "q150_leakage_safe_split", "q152_source_dedup_report",
        "q153_near_dup_edit_verify", "q155_dedup_sampling_weights",
        "q159_source_overlap_matrix", "q162_curation_pipeline",
        "q181_quality_canonical", "q189_pair_pagerank",
        "q191_lsh_calibration", "q194_curation_funnel",
        "q195_lsh_recall_audit", "q208_fold_leakage",
        "q213_cluster_size_histogram", "q216_admission_recall_audit",
        "q231_cluster_salient_terms", "q238_threshold_sweep",
        "q243_token_yield", "q246_kcore", "q255_pair_transitivity",
        "q259_dataset_card", "q263_lsh_parameter_advisor",
        "q275_candidate_family_overlap", "q295_inbatch_negative_risk",
        "q298_cc_large_small_star", // q56's oracle verbatim (star CC twin)
        "q304_cc_incremental", // and its day-2 path
        "q306_dedup_drop_bias", // and the quality-bias audit over its labels
        "q345_label_propagation", // LPA communities over the same pair graph
        "q364_bbit_minhash_audit", // b-bit compression audit on the same pairs
        "q371_snm_key_advisor") // prefix-blocking recall vs the same pair truth
      consumers.foreach { case (name, sql) =>
        withClue(s"$name does not embed the canonical bandrows CTE chain verbatim: ") {
          // q56's transitive-closure oracle rewrites the leading WITH to
          // WITH RECURSIVE — same chain, one sanctioned prefix variant
          val recursive = frag.replaceFirst("^WITH ", "WITH RECURSIVE ")
          (sql.contains(frag) || sql.contains(recursive)) shouldBe true
        }
      }
    }

    it("every pair-generating consumer embeds the canonical pairs CTE verbatim") {
      val pairsFrag = DedupQueries.portablePairsCtes
      // the pairs CTE body minus its bandrows prefix — the part that
      // defines WHICH pairs are candidates
      val pairsOnly = pairsFrag.stripPrefix(DedupQueries.portableBandrowsCtes)
      val consumers = sqlByName.filter(_._2.contains("AND a.digest = b.digest AND a.doc_id < b.doc_id"))
      consumers.keySet shouldBe Set(
        "q52_minhash_lsh_dedup", "q54_ngram_jaccard_verify",
        "q56_dedup_clusters", "q99_portable_minhash_pairs",
        "q129_cluster_canonical", "q139_contrastive_triples",
        "q145_triangle_census", "q150_leakage_safe_split",
        "q152_source_dedup_report", "q153_near_dup_edit_verify",
        "q155_dedup_sampling_weights", "q159_source_overlap_matrix",
        "q162_curation_pipeline", "q181_quality_canonical",
        "q189_pair_pagerank", "q191_lsh_calibration",
        "q194_curation_funnel", "q195_lsh_recall_audit",
        "q208_fold_leakage", "q213_cluster_size_histogram",
        "q216_admission_recall_audit", "q231_cluster_salient_terms",
        "q238_threshold_sweep", "q243_token_yield", "q246_kcore",
        "q255_pair_transitivity", "q259_dataset_card",
        "q263_lsh_parameter_advisor", "q275_candidate_family_overlap",
        "q295_inbatch_negative_risk", "q298_cc_large_small_star",
        "q304_cc_incremental", "q306_dedup_drop_bias",
        "q345_label_propagation", "q364_bbit_minhash_audit",
        "q371_snm_key_advisor") // prefix-blocking recall vs the same truth
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the candidate-pair definition: ") {
          sql.contains(pairsOnly) shouldBe true
        }
      }
    }

    it("every scored consumer embeds the canonical agreeing-minhash sum verbatim") {
      val sum = DedupQueries.matchSumSql("sa", "sb")
      val consumers = sqlByName.filter(_._2.contains("sa.mh0"))
      consumers.keySet shouldBe Set(
        "q52_minhash_lsh_dedup", "q56_dedup_clusters",
        "q148_incremental_dedup", "q189_pair_pagerank",
        "q191_lsh_calibration", "q195_lsh_recall_audit",
        "q208_fold_leakage", "q213_cluster_size_histogram",
        "q216_admission_recall_audit", "q231_cluster_salient_terms",
        "q238_threshold_sweep", "q243_token_yield", "q246_kcore",
        "q255_pair_transitivity", "q259_dataset_card",
        "q263_lsh_parameter_advisor", "q275_candidate_family_overlap",
        "q295_inbatch_negative_risk", "q298_cc_large_small_star",
        "q304_cc_incremental", "q306_dedup_drop_bias",
        "q345_label_propagation")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the match-sum definition: ") {
          sql.contains(sum) shouldBe true
        }
      }
    }

    it("every centroid consumer embeds the canonical quantized-stats CTEs verbatim") {
      val frag = graft.operators.SimilarityQueries.quantStatsCtes
      val consumers = sqlByName.filter(_._2.contains("'qv': CAST(round(e[i] * 10000)"))
      consumers.keySet shouldBe Set(
        "q149_embedding_outliers", "q163_label_centroid_overlap",
        "q215_crossmodal_gate", "q315_ncm_confusion")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the label-centroid definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every BPE consumer embeds the canonical 3-round training chain verbatim") {
      val frag = graft.operators.TextQueries.bpeChainCtes
      val consumers = sqlByName.filter(_._2.contains("m1 AS (SELECT pair"))
      consumers.keySet shouldBe Set(
        "q160_bpe_training_rounds", "q165_bpe_apply")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the learned-merge definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every shipped-tokenizer consumer embeds the GENERATED k-round chain at k = BpeTrainK verbatim") {
      val frag = graft.operators.TextQueries.bpeTrainCtesK(
        graft.operators.TextQueries.BpeTrainK)
      val consumers = sqlByName.filter(_._2.contains("mr1 AS (SELECT pair"))
      consumers.keySet shouldBe Set(
        "q174_bpe_train_k", "q168_bpe_fold_apply", "q173_tokenizer_fertility",
        "q303_tokenizer_agreement") // the bake-off replays the same chain
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the shipped-tokenizer chain (or trains a different depth): ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every unigram-LM consumer embeds the canonical micro-bit chain verbatim") {
      val frag = graft.operators.ModelPrepQueries.lmCtes
      // the marker is the unigram smoothing expression, not the generic
      // micro_bits column name — q187's bigram LM shares the column-name
      // convention but is deliberately its own (self-contained) model
      val consumers = sqlByName.filter(_._2.contains("CAST(n_total + vocab AS DOUBLE)"))
      consumers.keySet shouldBe Set(
        "q123_unigram_lm_score", "q172_ccnet_buckets",
        "q223_filter_calibration")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the LM definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every span-family consumer embeds the canonical gpos chain verbatim") {
      val frag = DedupQueries.spanGposCtes
      // q340 consumes the SAME generator at window grain (k = 16) — the
      // parameterized form, pinned here so a new grain cannot fork the
      // tokenize/gram/hash definition either
      val frag16 = DedupQueries.spanGposCtesAt(16)
      val consumers = sqlByName.filter(_._2.contains("{'pos': i - 1, 'gh':"))
      consumers.keySet shouldBe Set(
        "q175_repeated_spans", "q178_span_removal",
        "q180_incremental_span_overlap", "q185_winnowing_fingerprints",
        "q193_containment_pairs", "q217_span_gate_audit",
        "q340_exact_substring_admission")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the positional-gram definition: ") {
          (sql.contains(frag) || sql.contains(frag16)) shouldBe true
        }
      }
    }

    it("every q339-grain span consumer embeds the canonical suffix-span chain verbatim") {
      // the exact-substring span product (r14 verdict #7): the report
      // (q339), the per-source yield (q354), and the re-scored ladder
      // (q355) must share ONE removable-set definition — a forked copy
      // would silently decouple the cut list from its impact numbers
      val toks = DedupQueries.spanSuffixToksCte
      val arm32 = DedupQueries.spanSuffixDuckArm(32)
      val consumers = sqlByName.filter(_._2.contains("dup32 AS"))
      consumers.keySet shouldBe Set(
        "q339_exact_substring_spans", "q354_span_dedup_yield",
        "q355_span_dedup_lm_impact", "q356_span_cut_fingerprints")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the suffix-span definition: ") {
          sql.contains(toks) shouldBe true
          sql.contains(arm32) shouldBe true
        }
      }
    }

    it("every media-pHash consumer embeds the canonical fingerprint/pair chain verbatim") {
      val frag = graft.operators.MultimodalQueries.phashPairCtes
      val recursive = frag.replaceFirst("^WITH ", "WITH RECURSIVE ")
      val consumers = sqlByName.filter(_._2.contains("(ph >> (16*b)) & 65535"))
      consumers.keySet shouldBe Set(
        "q177_media_phash_neardup", "q179_media_dedup_clusters",
        "q321_media_threshold_sweep")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the pHash pair definition: ") {
          (sql.contains(frag) || sql.contains(recursive)) shouldBe true
        }
      }
    }

    it("every trained-IVF-codebook consumer embeds the canonical k-means chain verbatim") {
      val frag = graft.operators.SimilarityQueries.ivfChainCtes
      val consumers = sqlByName.filter(_._2.contains("ivfasg1 AS"))
      consumers.keySet shouldBe Set(
        "q64_ann_ivf", "q69_ann_ivfpq", "q170_semantic_dedup",
        "q182_prototype_selection", "q198_semantic_decontam",
        "q228_hard_negatives", "q232_hubness_histogram",
        "q240_knn_label_agreement", "q276_ivf_cell_balance",
        "q307_ivf_recall_curve", "q309_cluster_separation",
        "q316_mutual_nn_pairs")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the IVF codebook training: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every head of the k-means chain is materialized") {
      // cent<t> reads cent<t-1> twice: an inlined chain re-expands every earlier
      // round inside each later one and runs DuckDB out of memory
      val heads = """(?m)^(ivf(?:cent|asg|sum)\d+) AS (\w*)""".r
        .findAllMatchIn(graft.operators.SimilarityQueries.ivfChainCtes)
        .map(m => m.group(1) -> m.group(2)).toSeq
      heads.map(_._1) should contain allOf ("ivfcent0", "ivfasg1", "ivfsum1", "ivfcent1")
      heads.filter(_._2 != "MATERIALIZED") shouldBe empty
    }

    it("every min-label round of the canonical-label chain is materialized") {
      // l<t> reads l<t-1> twice: inlined, the six rounds re-expand inside
      // each other and run DuckDB out of memory (q129, q155, q181)
      val rounds = """(?m)^(l[1-9]\d*) AS (\w*)""".r
        .findAllMatchIn(graft.operators.ModelPrepQueries.canonLabelCtes)
        .map(m => m.group(1) -> m.group(2)).toSeq
      rounds.map(_._1) shouldBe (1 to graft.operators.ModelPrepQueries.CanonRounds).map(t => s"l$t")
      rounds.filter(_._2 != "MATERIALIZED") shouldBe empty
    }

    it("every decontamination consumer embeds the canonical eval-gram chain verbatim") {
      val frag = graft.operators.CurationQueries.decontamCtes
      val consumers = sqlByName.filter(_._2.contains("FROM g JOIN ev USING (gram)"))
      consumers.keySet shouldBe Set(
        "q118_ngram_decontam", "q194_curation_funnel")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the decontamination definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every quantized-vector consumer embeds the canonical iq CTE verbatim") {
      val frag = graft.operators.SimilarityQueries.iqCte
      val consumers = sqlByName.filter(_._2.contains(
        "x -> CAST(round(x * 10000) AS BIGINT)) AS v"))
      consumers.keySet shouldBe Set(
        "q64_ann_ivf", "q67_ann_pq", "q69_ann_ivfpq", "q170_semantic_dedup",
        "q182_prototype_selection", "q192_embedding_dim_stats",
        "q197_power_iteration", "q198_semantic_decontam",
        "q204_whitening_residuals", "q211_pq_code_usage",
        "q222_kcenter_coreset", "q227_label_scatter", "q228_hard_negatives",
        "q232_hubness_histogram", "q235_clip_calibration",
        "q237_source_embedding_drift", "q240_knn_label_agreement",
        "q276_ivf_cell_balance", "q301_opq_rotation_audit",
        "q307_ivf_recall_curve", "q309_cluster_separation",
        "q316_mutual_nn_pairs", "q366_jl_projection_audit")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the quantization definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every quality-scoring consumer embeds the canonical quality formula verbatim") {
      val frag = graft.operators.TextQueries.qualitySql
      val consumers = sqlByName.filter(_._2.contains("BETWEEN 200 AND 20000"))
      consumers.keySet shouldBe Set(
        "q41_quality_score", "q162_curation_pipeline",
        "q167_source_quality_profile", "q181_quality_canonical",
        "q194_curation_funnel", "q196_quality_percentile",
        "q205_weighted_sample", "q215_crossmodal_gate",
        "q221_bootstrap_quality_ci", "q223_filter_calibration",
        "q259_dataset_card", "q306_dedup_drop_bias",
        "q322_neyman_allocation", "q331_bradley_terry")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the quality-score definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every hashed-classifier consumer embeds the canonical score chain verbatim") {
      val frag = graft.operators.CurationQueries.classifierScoreCtes
      val consumers = sqlByName.filter(_._2.contains("% 2001 - 1000"))
      consumers.keySet shouldBe Set(
        "q183_classifier_score", "q266_classifier_auc",
        "q279_classifier_lift",
        "q282_curriculum_mixture", "q286_spearman_quality_length", // r12
        "q332_brier_decomposition") // r13: Murphy decomposition
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the classifier-score definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every BM25 consumer embeds the canonical scoring chain verbatim") {
      val frag = graft.operators.ModelPrepQueries.bm25Ctes
      val consumers = sqlByName.filter(_._2.contains("(tf * 2.2)"))
      consumers.keySet shouldBe Set(
        "q124_bm25_retrieval", "q270_hybrid_rrf_fusion",
        "q292_ranker_agreement", "q320_retrieval_source_bias")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the BM25 scoring chain: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every prefix-filter consumer embeds the canonical PPJoin chain verbatim") {
      val frag = graft.operators.DedupQueries.prefixPairCtes
      val consumers = sqlByName.filter(_._2.contains("ppfx AS"))
      consumers.keySet shouldBe Set(
        "q274_prefix_filter_pairs", "q275_candidate_family_overlap")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the prefix-filter pair definition: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }

    it("every A/B consumer embeds the shared arm rule and z² expression verbatim") {
      val zFrag = graft.operators.EventQueries.abZ2Sql
      val armFrag = graft.operators.EventQueries.abArmSql
      val consumers = sqlByName.filter(_._2.contains("ca * nb - cb * na"))
      consumers.keySet shouldBe Set("q268_ab_test", "q273_ab_peeking_audit")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the z-test or arm-assignment definition: ") {
          sql.contains(zFrag) shouldBe true
          sql.contains(armFrag) shouldBe true
        }
      }
    }

    it("every arm-assigning query embeds the ONE arm rule verbatim (including CUPED)") {
      // q327 adjusts q268's experiment: if its arm rule forked, the
      // CUPED means would describe a different randomization
      val armFrag = graft.operators.EventQueries.abArmSql
      val consumers = sqlByName.filter(_._2.contains(
        "substr(md5(CAST(user_id AS VARCHAR)), 32, 1)"))
      consumers.keySet shouldBe Set(
        "q268_ab_test", "q273_ab_peeking_audit", "q284_ab_required_n",
        "q327_cuped")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the arm-assignment rule: ") {
          sql.contains(armFrag) shouldBe true
        }
      }
    }

    it("every per-source HLL sketch consumer embeds the canonical rho chain verbatim") {
      // every HLL oracle, per source or per any other key, embeds
      // PortableHll's register chain and estimator: a copy forked in one
      // oracle would decouple its
      // estimate from the others' (q325's union merges are merges of
      // q224's sketches, q260's of q244's) and from the streaming gates
      import graft.functions.PortableHll
      val streams = Map(
        "q25_sketch_aggs" -> PortableHll.Streams(17, 18),
        "q224_portable_hll" -> PortableHll.Streams(11, 12),
        "q244_table_stats" -> PortableHll.Streams(13, 14),
        "q260_stats_merge_audit" -> PortableHll.Streams(13, 14),
        "q325_hll_overlap_matrix" -> PortableHll.Streams(11, 12))
      val consumers = sqlByName.filter(_._2.contains("hll_rank AS"))
      consumers.keySet shouldBe streams.keySet
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the HLL register chain or estimator: ") {
          sql.contains(PortableHll.registerCtes(streams(name))) shouldBe true
          sql.contains(PortableHll.foldSql) shouldBe true
          sql.contains(PortableHll.estimateSql) shouldBe true
        }
      }
      // q325 reads q224's sketch input verbatim
      Seq("q224_portable_hll", "q325_hll_overlap_matrix").foreach { name =>
        sqlByName(name).contains(graft.operators.TextQueries.sourceTokenCtes) shouldBe true
      }
      // no oracle keeps a private copy of the estimator's constants
      sqlByName.filter(_._2.contains("715271")).keySet shouldBe streams.keySet
    }

    it("every Gopher-rule consumer embeds the canonical rule battery verbatim") {
      val frag = graft.operators.CurationQueries.gopherRuleCtes
      val consumers = sqlByName.filter(_._2.contains("AS r_stop_words"))
      consumers.keySet shouldBe Set(
        "q218_gopher_rules", "q266_classifier_auc",
        "q279_classifier_lift", "q332_brier_decomposition")
      consumers.foreach { case (name, sql) =>
        withClue(s"$name forked the Gopher rule battery: ") {
          sql.contains(frag) shouldBe true
        }
      }
    }
  }
}
