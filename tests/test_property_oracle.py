"""Property-based oracle parity: Spark and DuckDB must agree on
RANDOMLY GENERATED inputs, not just the driver's fixtures.

Hypothesis generates small events/documents tables (adversarial
shapes: duplicate timestamps, single-user bursts, empty-ish tables,
repeated texts), writes them as parquet into a scratch sf_dir, and
runs a slice of the registry through the same compare() used
everywhere else. This catches determinism bugs that fixture data
can't — tie-breaking, empty-group edges, all-duplicate corpora.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hadoop_brotli_spark import TABLES
from hadoop_brotli_spark.registry import load_all_queries

from .conftest import SF_DIR
from .oracle_harness import compare

SPECS = load_all_queries()


def _compare_all(names, spark, sf_dir) -> None:
    """Run every query's oracle comparison for one generated example,
    a few CONCURRENTLY: each compare() is independent (fresh DuckDB
    connection per call; Spark actions are thread-safe and the
    scheduler overlaps the tiny jobs), so threading the per-example
    loop cuts its wall-clock ~4x without dropping a single
    comparison. Failures propagate to hypothesis exactly as before
    (pool.map re-raises the first exception)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(lambda n: compare(SPECS[n], spark, str(sf_dir)), names))

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["scan", "join", "sort", "hash", "merge", "table", "key", "batch"]

# Queries whose semantics are events/documents-driven and cheap enough
# to run per-example.
EVENT_QUERIES = [
    "q116_activity_streaks",
    "q121_event_transitions",
    "q143_bounce_rate",
    # tie-break-sensitive windows: duplicate timestamps are the attack
    "q171_last_touch_attribution",
    "q178_out_of_order_audit",
    "q172_event_cooccurrence",
    # degenerate-denominator guard (ADVICE r1): single-distinct-day
    # event types must yield NULL slope in BOTH engines
    "q189_trend_slope",
    # sketch state must be byte-identical cross-engine on any input
    "q219_count_min_sketch",
    # sparse/absent error hours -> empty incident set on both sides
    "q220_interval_bin_join",
    # k=1 users / single-event corpora stress the Gini denominators
    "q223_join_key_skew",
    # exact percentile over tiny type groups; zero-late streams
    "q244_watermark_recommendation",
    # batch-boundary merge must equal whole-stream sessionization on
    # ANY event layout (single-sided users, boundary-straddling gaps)
    "q248_incremental_session_merge",
    # censoring edges: no signups, purchase-before-signup, same-day
    # conversion — risk set and ln-product must agree on all of them
    "q261_kaplan_meier",
    # duplicate timestamps attack the open/close tie-breakers
    "q263_ohlc_bars",
    # single-variant splits and p∈{0,1} corners of the interval
    "q266_wilson_interval",
    # tiny groups exercise the n<k exact-fallback branch of KMV
    "q271_bottomk_distinct",
    # zero-positive / zero-negative corpora must NULL the WOE, not
    # diverge (ANSI error vs inf)
    "q272_woe_iv_binning",
    # empty treatment/control arms within a stratum NULL both ATEs
    "q326_propensity_ate",
    # hot-key-free / single-user corpora: salt histogram still exact
    "q281_salted_join_balance",
    # duplicate timestamps (zero-length holds) and single-event days
    # (carry to midnight) attack the TWAP interval arithmetic
    "q283_time_weighted_average",
    # partial funnels everywhere; duplicate-ts step resolution
    "q289_funnel_motif",
    # single-op keys and first=last ties stress the net-op classes
    "q294_cdc_compaction",
    # short series (< lag days) empty the scored set; zero-value
    # days exercise every NULLIF denominator
    "q302_forecast_backtest",
    # VARIANT path extraction on generated props (constant k)
    "q351_variant_json_ops",
    # single-event halves / constant values zero the Welch variance;
    # the BH walk must behave on m=|types| down to 1
    "q353_bh_fdr_control",
    # duplicate timestamps and back-to-back events attack the
    # island-boundary running-MAX tie-breaks
    "q306_interval_union_coverage",
    # quartile-cut ties and 1-day series stress the SAX words
    "q317_sax_similarity",
    # single-type corpora -> zero pairs; 1-2 day series -> tiny DPs
    # on both the numpy and the unrolled-SQL side
    "q318_dtw_alignment",
    # no-purchase corpora zero the base conversion (NULL effects);
    # purchase-first users exercise the empty-journey START->CONV
    # branch; duplicate timestamps attack the journey tie-breaks
    "q378_markov_attribution",
    # n<k users drop out of pass@5; all-purchase / no-purchase users
    # pin pass@k at the 0/1 boundary on both engines
    "q385_pass_at_k",
    # missing event types shrink the coalition lattice (data-driven
    # k); purchase-only corpora make every exposure set empty and
    # efficiency puts all mass on v('') — both engines must agree
    "q390_shapley_attribution",
    # no-signup corpora empty the risk table; duplicate timestamps
    # collapse steps; the DECIMAL hazard accumulation must stay
    # order-free on any step layout
    "q401_nelson_aalen",
    # single-cohort corpora (all-even user ids) drop every step via
    # the n0>0 AND n1>0 guard -> zero-variance NULL chi2 identically;
    # one-user risk sets hit the n>1 hypergeometric guard
    "q419_logrank_test",
    # single-arm corpora pin match_rate = 1 (replay == logged value);
    # popularity ties between arms must break lexicographically
    "q420_bandit_replay",
    # r5: empty base or empty delta sides (all events one side of
    # the split date) exercise every COALESCE in the IVM merge; the
    # equality flag must hold on ANY layout
    "q432_ivm_delta_merge",
    # r5: duplicate timestamps attack the (ts, event_id) version
    # tie-break; single-event users pin version=1 is_current=true
    "q436_scd2_dimension",
    # r5: zero-click corpora tie every score at 0 (pure user_id
    # ranking); zero-purchase corpora NULL capture and lift on both
    # engines; n<10 users leave decile gaps
    "q438_decile_gains",
    # r5: groups smaller than the sample K make k_eff == n_rows
    # (sample must EQUAL exact, zero error); 1-row groups pin every
    # order statistic to the same value on both engines
    "q441_sample_quantile_certification",
    # r5: zero-purchase corpora make every bin all-neg (the 0.5
    # smoothing is the only thing keeping ln finite — both engines
    # must agree on the smoothed ratio); n<5 users leave bin gaps
    # and shrink the IV sum width
    "q445_woe_iv_binning",
    # r5: generated 2024 streams fall entirely into H2 (empty
    # checkpoint — every user takes the fresh/delete arms);
    # signup/error orderings attack the tombstone-resurrect CASE
    # lattice and the (ts, event_id) duplicate-ts tie-break; users
    # with updates only must vanish from BOTH paths
    "q447_cdc_merge_certification",
    # r5: tiny user pools can empty val/test splits entirely (zero
    # rows for a split on both engines); single-user corpora put
    # 100% of rows in one split
    "q434_grouped_split",
    # single-event users / all-same-type streaks can empty the duel
    # matrix (both engines emit zero rows); never-winning arms hit
    # the 1-grid-unit strength floor; tied values exercise the
    # lexicographic winner rule; tiny arm pools shrink k
    "q393_bradley_terry",
    # duplicate timestamps attack the step-order tie-break (event_id
    # total order must agree); single-event episodes pin t=0 (return
    # == reward/2^... grid); >horizon-length sessions zero the tail
    "q395_discounted_returns",
    # 1-day series pins t=1 (running mean = x, U = -delta); constant
    # series keep PH near 0; duplicate timestamps only move counts —
    # the integer micro-grid must agree on every series shape
    "q455_page_hinkley",
    # all-concordant corpora zero sum_v (NULLIF, not ANSI /0);
    # singleton strata (n<2) must drop identically on both engines
    "q460_cmh_test",
    # r8: tiny user pools leave most buckets empty (buckets_used <<
    # n_parts, the p99 CASE can go NULL when rk*100 > n_used*99 for
    # every row); single-user corpora pin hot_key_share = 1
    "q512_partition_skew_advisor",
    # all-H1 / all-H2 splits zero b or c; zero discordant users must
    # NULL the statistic via NULLIF on both engines
    "q462_mcnemar_test",
    # 1-2 day series empty the lagged sample (NULL moments row on
    # both engines); constant series zero the design determinant
    # (NULLIF) — betas/F must NULL identically
    "q464_granger_causality",
    # 1-day series pin z = x and sigma = 0 (width 0, strict > keeps
    # out_of_control false); short series exercise the truncated
    # kernel's early-step exact normalization
    "q466_ewma_control_chart",
    # all-click corpora zero the rate variance (NULL prior via
    # NULLIF); single-user corpora hit the Bessel n-1 NULLIF; ties
    # on n fall to the user_id total order
    "q470_beta_binomial_shrinkage",
    # single-user corpora hit every k-1 / n-k NULLIF in the ANOVA
    # components; equal-size clusters pin m0 = m exactly; constant
    # values zero both SS components identically
    "q473_design_effect",
    # duplicate-ts corpora zero every gap (s=0 -> NULLIF, not ANSI
    # /0); 1-event corpora empty the gap set (NULL stats row on both
    # engines); the dual one-sided D gaps must agree on tied values
    "q475_ks_exponential_arrivals",
    # 1-user corpora pin n_arm=0 (NULLIF); zero-purchase corpora
    # NULL the relative MDE and required-n via the p guards
    "q477_power_mde_calculator",
    # single-arm corpora (all-even/all-odd users) empty the decile
    # join on both engines; 1-user arms pin every decile to rank 1
    "q478_quantile_treatment_effects",
    # single-day types hit the Bessel NULLIF (NULL variance); equal
    # var==mean sits exactly on the overdispersed boundary (strict >
    # must agree); constant series pin fano=0
    "q486_overdispersion_audit",
    # single-type corpora pin k=1 (df=0 -> NULL critical, denominator
    # NULLIF); all-users-do-everything zeroes k*sum(L)-sum(L^2)
    "q490_cochran_q",
    # k=1 zeroes the tie-corrected denominator (NULLIF); all-tied
    # users give pure midranks (doubled ranks stay integer)
    "q491_friedman_test",
    # workloads with zero overlapping days keep p_scanned=0 via the
    # LEFT join on both engines
    "q492_partition_pruning_advisor",
    # all-purchase corpora pin base_rate=1 (UNC=0); single-bin
    # corpora zero RES; the decomposition gap must stay 0 on the grid
    "q493_brier_decomposition",
    # 1-user corpora pin one group to zero (chi2 = n); tied worst-day
    # chi2 falls to the day order in the TakeOrdered
    "q496_ab_srm_check",
    # single-event users produce zero updates: cow sums NULL and the
    # CASE recommendation must fall to copy-on-write on both engines
    "q498_mor_cow_advisor",
]
# q479/q481 ride the ORDER hunt (lineitem baskets); q480 the DOC hunt
DOC_QUERIES = [
    "q60_dedup_exact",
    "q126_sequence_packing",
    # repeated texts / tiny vocab stress distinct + top-k tie-breaks
    "q179_incremental_corpus_gate",
    "q183_vocabulary_stats",
    "q184_top_bigrams",
    # repeated texts collapse LSH buckets/signatures — sketch-space
    # estimates must still match exactly
    "q199_minhash_jaccard_estimate",
    # identical fingerprints / sub-cap buckets: every pair at
    # hamming 0 must emerge identically on both sides
    "q212_simhash_band_pairs",
    # tiny vocab: sources with one distinct rank must NULL the slope
    "q215_zipf_slope",
    # vocab size exceeds the corpus vocabulary -> zero OOV everywhere
    "q218_vocab_oov_rate",
    # dense-id assignment under heavy count ties; 1-word docs
    "q225_vocab_indexing",
    # pair-count ties; 1-char-word-free corpus by construction
    "q226_bpe_pair_counts",
    # block DF thresholds under mass-duplicated tiny corpora
    "q228_boilerplate_blocks",
    # adversarial hash splits can empty the LM train side -> NULL
    # scores on BOTH engines (guard added for exactly this)
    "q236_bigram_lm_score",
    # mask-rate determinism on 1-word docs / heavy duplication
    "q241_span_corruption_plan",
    # sub-k cells everywhere when every doc is its own cell
    "q247_k_anonymity_audit",
    # regex counts/redaction checksum under tiny repeated texts
    "q252_pii_pattern_scrub",
    # docs below the 8-token window + mass-duplicated corpora
    "q253_exact_substring_dup",
    # 1-word docs: zero-division guards on token/word ratios
    "q255_tokenizer_fertility",
    # docs shorter than the CDC context window -> single forced chunk
    "q260_cdc_chunk_dedup",
    # heavy pair-count ties + repeated single-word corpora attack the
    # argmax tie-break and the two-pass merge rewrite
    "q268_bpe_merge_iterations",
    # hash-dim collisions under tiny vocabularies
    "q274_feature_hashing",
    # gappy frequency-of-frequencies tables (missing r+1) must fall
    # back to raw r identically on both engines
    "q310_good_turing",
    # single-source corpora: the LOO denominator (gn - n) hits 0 ->
    # the replicate mean must NULL identically
    "q325_jackknife_se",
    # single-class corpora must NULL the AUC on both engines
    "q275_auc_rank",
    # all-one-class corpora must NULL kappa (pe = 1) on both engines
    "q304_cohens_kappa",
    # MIXED safe/failed classes within one lang are the trap: the
    # level-1 recount must cover failed rows only (local recoding)
    "q280_k_anon_generalization",
    # all-src0 corpora empty the target split; TPR=FPR classifiers
    # must NULL the estimate on both engines
    "q293_label_shift_bbse",
    # every stage can go empty (all-dup corpora, sub-8-token docs);
    # stage counts must collapse identically on both engines
    "q300_pipeline_funnel_v2",
    # mass-duplicated corpora collapse DF to n_docs (idf -> ln(1) = 0
    # vectors) and tie every cosine; 1-word docs shrink the prefix;
    # all-weights-zero docs (every term at df == nd) make cosine 0/0
    # — dropped on both engines (r4 hunt find: ANSI DIVIDE_BY_ZERO)
    "q333_tfidf_cosine_pairs",
    # repeated single-word corpora pin tf saturation; query terms
    # absent from the corpus must zero identically
    "q334_bm25_ranking",
    # PNG decode: tiny/1-word docs hit minimum dims (8x5) where the
    # filter cycle still covers all five types
    "q339_png_pixel_decode",
    # GIF decode: minimum dims (6x4), 32-color palette wraps
    "q341_gif_pixel_decode",
    # planted-artifact recovery must be exact on 1-doc corpora
    "q345_text_health_audit",
    # single-doc corpora make every bucket empty except one; gmax=1
    "q346_padding_waste_advisor",
    # 1-doc corpora: per-subject agreement and Pe from one subject
    "q350_fleiss_kappa",
    # one-source corpora empty a KS side -> guards must agree
    "q352_ks_two_sample",
    # 1-word docs: chunk k=0 must yield exactly one chunk; the
    # descending-sequence clamp is load-bearing here
    "q354_rag_chunking",
    # tiny corpora rarely reach the min-count floor -> empty top-k
    # on both engines
    "q355_pmi_collocations",
    # all-stopword docs produce no candidate runs; island windows
    # must agree on run boundaries
    "q360_rake_keywords",
    # empty train splits zero T and V -> the ln floor must agree
    "q361_kneser_ney_lm_score",
    # single-source corpora make weight=1; epochs guard-free by
    # construction (n_tokens >= 1)
    "q362_mixing_weights",
    # 1-word docs have no 2/3-grams -> LEFT-JOIN zero fractions
    "q363_gopher_repetition",
    # lossy-codec DC arithmetic must agree for every n_chars-derived
    # card shape (incl. n_chars = 0 minima)
    "q364_jpeg_pixel_decode",
    # 4:2:0 MCU interleave + per-component predictors + upsample
    # must agree on the same card-shape sweep
    "q379_jpeg420_pixel_decode",
    # single-lang corpora empty one DSIR model side (+1 smoothing
    # floor everywhere); mass-duplicated docs tie every score
    "q383_dsir_importance_selection",
    # single-source corpora make excess 0 / weight 1; 1-word docs
    # stress the per-domain token grain
    "q384_doremi_reweight",
    # 1-doc sources produce zero pairs; identical adjacent docs pin
    # LCS at the full prefix; empty-string docs still pair
    "q386_rouge_l_pairs",
    # mass-duplicated corpora push every doc into one bucket (capped)
    # and single-source corpora zero every cut on both engines
    "q387_dedup_partition_conductance",
    # no-dup corpora zero n_dup_pairs (NULL leak_rate); mass-dup
    # corpora exercise the LSH bucket cap upstream of the leak join;
    # all-train hash draws zero the taint denominator on both engines
    "q394_split_leakage_audit",
    # single-source corpora empty the pair matrix; all-short docs
    # (<3 words) empty srcsh entirely; identical-corpus sources must
    # read est=1.0 AND exact=1.0 on both engines
    "q396_source_overlap_matrix",
    # 1-char words are all-vocab by construction; repeated single-word
    # corpora collapse the piece model to one column of the DP
    "q388_unigram_viterbi_tokenizer",
    # docs shorter than the depth drop out per depth; all-identical
    # corpora collapse every depth to one fully-shared group
    "q389_prefix_cache_sharing",
    # r9: delta-quarter incremental LSH maintenance — mass-dup
    # corpora stress the combined bucket cap on BOTH routes; all-delta
    # and no-delta corpora empty one side of the certificate
    "q513_incremental_minhash",
    # r9: tf-replicated weighted minhash — repeated single-word docs
    # pin tf at the cap; identical docs give est = exact = 1
    "q516_weighted_minhash",
    # r9: delta-leaf re-digest must reproduce the root on every
    # corpus shape (incl. all docs in one shard / empty shards)
    "q520_merkle_snapshot_audit",
    # r9: single-source corpora read psi = 0 exactly; constant
    # n_chars degenerates the bin formula to the LEAST null-skip
    "q521_psi_drift",
    # r9: all-delta corpora empty the base snapshot (everything
    # "added"); no-delta corpora zero every diff column
    "q522_snapshot_diff",
    # r9: mass-duplicated corpora push all savings into tier 1 and
    # empty tier 2's kept-set banding; sub-3-word docs skip shingles
    "q523_dedup_impact_tiers",
    "q366_mulaw_audio_decode",
    "q367_mjpeg_frame_decode",
    # stateful recurrence: oracle recursion and decoder must stay in
    # lockstep for every n_chars-derived code stream
    "q369_adpcm_audio_decode",
    # mass-duplicated corpora tie every cosine; sub-window docs
    # vanish from every ladder rung identically
    "q372_ppmi_word_similarity",
    "q373_duplication_length_profile",
    # degenerate splits (all-train / all-test doc_id ranges) must
    # empty the model or the confusion matrix identically; 1-word
    # and empty-string docs still produce one ''-token both engines
    "q377_naive_bayes_langid",
    # single-doc langs produce no (cand, ref) pair; 1-token docs
    # make p2 undefined (defined 0 on both engines); identical texts
    # pin bleu2 = 1 exactly
    "q397_bleu_pair_scoring",
    # 1-token docs yield no steps; all-identical corpora drive the
    # acceptance rate to 1 with heavy argmax count ties
    "q403_draft_acceptance",
    # tiny-pool vocab mass-ties the n-gram cut (count DESC, gram ASC
    # must agree); repeated words stress the distinct-word grain and
    # the pointer-doubling absorbing state on short words
    "q408_wordpiece_tokenize",
    # single-source corpora emit zero pairs; identical length
    # distributions pin W1 = 0 exactly; single-distinct-length grids
    # have no gap rows on either engine
    "q409_wasserstein_source_drift",
    # constant lengths collapse the global CDF to one value; the
    # integer cross-multiplied quantile match must pick it for every
    # source rank on both engines
    "q410_quantile_normalization",
    # all-identical corpora tie every precision/recall cell; extreme
    # thresholds empty the predicted-positive set (NULL precision on
    # both engines)
    "q413_pr_threshold_sweep",
    # single-cell corpora put the whole budget on one cell; the
    # md5-uniform inverse-CDF noise must reproduce exactly (u near
    # 0.5 flips the Laplace sign branch on the shared grid)
    "q421_dp_noisy_counts",
    # fingerprint-dedup bridges (r4 verdict task 4): random doc_id
    # sets vary family sizes down to singletons and force n_docs
    # ties in the top-20 rank (broken on the hash key); the
    # fingerprint MATH is separately attacked in
    # test_fingerprint_adversarial.py (wrap-column flips, DC twins)
    "q425_image_dhash_dedup",
    "q426_audio_fingerprint_dedup",
    # r5 additions: md5-keyed sampling must replay identically on
    # any corpus (q427); tiny/templated corpora drive novelty to the
    # 0 and 1 poles and tie trigram dfs (q428); single-doc sources
    # and all-equal lengths stress the serpentine dealing ties
    # (q429); mass-duplicate corpora put containment exactly ON the
    # 4/5 boundary — the exact-integer threshold's home turf (q430)
    "q427_weighted_reservoir_sample",
    "q428_ngram_novelty",
    "q429_balanced_shard_packing",
    "q430_containment_join",
    # r5: single-source corpora make one serpentine per file pool;
    # sub-target byte totals collapse every file into job 0
    "q433_compaction_planner",
    # r5: single-doc corpora zero all_pairs (NULL-safe ratios);
    # all-same-(lang,source) corpora pin completeness denominator;
    # tiny length spreads collapse every doc into one block
    "q437_blocking_quality",
    # r5: generated doc lengths vary the TIFF card dims AND the
    # compression parity mix; 1-doc corpora exercise the
    # inline-vs-offset IFD branch (h=1 strips fit inline)
    "q439_tiff_pixel_decode",
    # r5: single-doc languages NULL match_rate (zero candidates);
    # duplicate n_chars attack the (n_chars, doc_id) sort tie-break;
    # 2-3 doc partitions truncate the LEAD-3 neighborhood
    "q442_sorted_neighborhood_pairs",
    # r5: 1-word docs have NO bigram (the COALESCE/LEFT-JOIN branch
    # on both engines); repeated-word docs force top-2-gram count
    # ties onto the (c, w, nxt) tie-break; tiny WORD pool makes
    # dup_word_frac land on exact grid boundaries
    "q443_repetition_filters",
    # r5: tiny doc sets concentrate every doc into few shards (empty
    # shards must be ABSENT rows, not zero rows, on both engines);
    # the stable_ok certification must hold on any corpus
    "q446_rendezvous_sharding",
    # r5: single-source corpora make the waterfill trivial (one cap
    # vs the whole budget); equal-size sources tie the ascending
    # sort onto the source-name tie-break; tiny corpora hit the
    # all-capped branch (budget under-spent, feasible_ok still true)
    "q448_unimax_allocation",
    # r5: generated doc lengths sweep every (24..45 x 12..21) card
    # through the BMP decode + 3x box filter; odd out_w pins the
    # center probe off-by-one on both engines
    "q450_image_box_resize",
    # r5: minimum-length docs hit the 64-sample floor; the edge
    # clamp (first/last FIR taps) must floor-divide negatives
    # identically on both engines
    "q451_audio_decimation",
    # tiny corpora can leave zero pairable units (NULL alpha) or a
    # single coincidence category (zero D_e -> NULLIF, not ANSI /0);
    # the integer doubled-pair-term grid must agree on every shape
    "q453_krippendorff_alpha",
    # single-lang or single-source corpora pin min(r-1,c-1)=0
    # (NULLIF, not ANSI /0); independent-ish tables leave a tiny
    # negative sum_t-1 that GREATEST must clamp on both engines
    "q474_cramers_v",
    # 1-day corpora NULL the OLS slope (singular design) and the DW
    # ratio (see=0 NULLIF); constant revenue zeroes residuals exactly
    "q489_durbin_watson",
    # all-equal prices collapse to one bucket (hi==lo guard) with
    # t=0 -> lo_cut = hi_cut = the value; n <= 9 pins t=0 (trimmed
    # mean == mean) on both engines
    "q495_trimmed_winsorized_mean",
    # single-priority corpora empty the pair set (NULL jt) and zero
    # the variance (NULLIF z); all-equal prices make every pair a
    # pure tie (2U = sum cnt_h * cnt_g exactly)
    "q497_jonckheere_terpstra",
    # all-equal prices zero sigma AND IQR (NULL Scott/FD via NULLIF,
    # hi==lo single bucket); n=1 hits the Bessel NULLIF; quartile
    # ranks ceil(n/4) floor at 1 on tiny corpora
    "q500_histogram_bin_advisor",
    # tiny/empty samples (md5 gate can select zero docs) must yield
    # the all-zero-weight plan table identically; repeated texts
    # collapse every pair into the top bin
    "q476_lsh_parameter_planner",
    # single-word docs drop out; repeated-token docs drop self-loop
    # edges (possibly emptying the graph on both engines); rank
    # ties on the 1e-9 half-up grid fall to the word order
    "q480_textrank_keywords",
    # tiny corpora exhaust the universe early (later rounds pick
    # gain-0 docs by doc_id); all-identical docs give one covering
    # pick then pure-tie-break rounds — both engines must agree
    "q482_greedy_set_cover",
    # tiny corpora drop every pair below the count floor (zero rows
    # both engines); single-bigram corpora zero o12/o21/o22 (the
    # CASE guards must agree); G2 ties fall to the (a,b) order
    "q485_dunning_collocations",
    # single-source corpora empty the pair set; identical sources
    # pin BC=1 (GREATEST clamps the 1-BC grid epsilon); disjoint
    # lang supports give BC=0 -> -ln NULLIFs on both engines
    "q487_hellinger_source_drift",
    # tiny doc pools concentrate all keys on few vnodes (some shards
    # own zero docs and vanish identically); every mover must still
    # land on the new shard on ANY doc_id set
    "q465_consistent_hash_ring",
    # tiny docs have no 13-grams (empty benchmark set; LEFT join
    # keeps every source at rate 0 on both engines); duplicated
    # texts cross the benchmark split and must flag identically
    "q488_ngram_decontamination",
    # docs shorter than 6 chars drop out entirely; single-lang
    # corpora can never disagree (rate 0); duplicated halves tie
    # profile scores (lang ASC argmax must agree)
    "q499_code_switch_audit",
    # docs shorter than K+W-1 chars contribute no full window (and
    # len<K no grams at all); duplicated texts must share identical
    # fingerprints cross-source; repeated k-grams inside one window
    # exercise the packed rightmost tie-break on both engines
    "q501_winnowing_fingerprints",
    # single-source corpora empty the pair set (NULL sums, NULL tau
    # on both engines); all-tied metrics zero the tie-corrected
    # denominator (NULLIF)
    "q502_kendall_tau",
    # empty word sets (md5 gate can select zero docs) yield zero
    # decile rows identically; single-type vocabularies pin gini=0;
    # all-equal frequencies exercise the grain_rank tie order
    "q503_vocab_gini_lorenz",
    # r8: docs shorter than SUF_MIN produce no suffixes (the q501
    # sequence(1,0) guard); duplicated texts across docs produce
    # equal-suffix ties (LCP = full cap) whose adjacent order must
    # agree; single-doc corpora empty the cross-doc pair set
    "q504_suffix_lcp_repeats",
    # r8: tiny corpora can yield zero LSH candidate pairs (zero
    # output rows both engines); duplicated texts pin est=1 AND
    # true=1 (err 0); 16-bit chunk collisions can surface pairs with
    # ZERO shared shingles — the COALESCE(0) true-jaccard path
    "q508_minhash_fidelity",
    # r8: word-pool texts repeat words heavily, exercising the
    # intra-doc adjacent-LCP ties; docs shorter than REP_MIN take
    # the left-join max_rep=0 path; single-word docs have no repeats
    "q509_intradoc_repetition",
    # r8: single-doc corpora collapse all 10 checkpoints onto one
    # x (NULL beta and K: MIN(x) = MAX(x) on the decimal grid, before
    # any double arithmetic, on both engines); tiny word pools
    # saturate the vocabulary at checkpoint 1 (beta ~ 0, K ~ |V| —
    # the exact-decimal OLS moments must agree on the flat curve)
    "q511_heaps_law_fit",
]

# orders/lineitem-shaped ops (r2 verdict task 3: the newest ops get
# the same hostile data as events/docs)
ORDER_QUERIES = [
    # single-customer / single-order corpora: the 2x2 ridge solve
    # must stay non-singular (lambda floor) on both engines
    "q335_als_halfstep",
    # one-order customers produce zero co-pairs; support floor and
    # basket cap must drop identically
    "q336_item_item_cf",
    # every order in one month -> single-cohort triangle; truncation
    # exclusion can empty the result on both sides
    "q337_cohort_ltv",
    # 1-2 day revenue series (< max lag) must shrink/NULL the
    # portmanteau identically; constant series zero the ACF denom
    "q338_ljung_box",
    # series shorter than the 20-lag truncation window empty the
    # result on both engines; constant revenue pins ewma == rev on
    # the exact integer-coefficient path (r7 fix coverage)
    "q276_ewma_smoothing",
    # constant prices make mx = mn (zero-width grid) and sd_h = 0
    # everywhere: bin division and Neyman weights must not diverge
    "q347_quantile_sketch_merge",
    "q348_neyman_stratified_sample",
    # missing months break the recursion chain at the first gap —
    # both engines must truncate identically; empty anchor month
    # empties the whole series
    "q365_holt_linear_trend",
    # empty audit rectangles NULL both amplifications; negative
    # pre-1995 dates exercise the pmod bin wraparound
    "q368_zorder_layout_advisor",
    # digit/fold arithmetic over any key range; the 2/3 valid share
    # only holds when the corrupt rule agrees exactly
    "q371_luhn_checksum_audit",
    # constant prices collapse to one bucket; zero totals filter out
    # and can empty the sketch on both engines
    "q375_ddsketch_quantiles",
    # all-tied prices zero sigma (NULL z both engines); one-group
    # corpora empty a side; midrank doubling must stay integer
    "q376_mann_whitney_u",
    # planted-lift calibration: tiny corpora empty buckets (sparse
    # isotonic spine); single-bucket corpora make fit == emp rate
    "q380_isotonic_calibration",
    # 1-order calibration sets pin the conformal rank at n; empty
    # test halves NULL the coverage on both engines
    "q381_split_conformal",
    # constant-status corpora pin every reward at 1 (logging_ctr = 1,
    # IPS = clipped mean weight); tiny key pools exercise the
    # explore-arm hash mix and the p0 > 0 filter must drop nothing
    "q391_ips_offpolicy_eval",
    # all-2024 order dates empty the pre-split train side (empty
    # quantile frame -> zero rows on both engines); constant prices
    # tie every order statistic
    "q402_pinball_loss",
    # tiny part pools (0..5) make every supplier pair share parts;
    # duplicate (supp, part) rows must collapse via DISTINCT before
    # degree counting on both engines
    "q398_link_prediction_ra",
    # 6-key pools stress the sign-counter cancellation; single-row
    # tables pin F2 = est exactly (one key, all signs aligned)
    "q400_ams_f2_sketch",
    # fixture suppliers absent from generated lineitem keep their
    # seed labels; hostile co-supply graphs are near-complete ->
    # majority ties everywhere (count DESC, label ASC must agree)
    "q406_label_propagation",
    # near-complete tiny graphs concentrate PPR mass fast; suppliers
    # outside the supplier table still rank (nodes come from
    # lineitem); integer mass must conserve on any topology
    "q407_personalized_pagerank",
    # tiny day pools make the 2-point hash draws collide (i = j ->
    # degenerate lines dropped identically); single-day tables empty
    # the model set on both engines; constant revenue pins every
    # residual at 0
    "q412_ransac_line_fit",
    # hash-sparsified tiny graphs can drop EVERY edge (empty reach on
    # both engines); single-node components pin exact = sketch via
    # the linear-counting branch
    "q414_twohop_reach_sketch",
    # r5: generated 2024 orders leave the 1995 interpolation window
    # EMPTY — all-NULL revenue spine, interpolated=true everywhere,
    # both engines must agree on the fully-absent-neighbors branch
    "q435_gap_fill_interpolate",
    # r5: the 3-supplier pool keeps every run under the top-5 cap
    # (short output) and often ties key_rows (pure suppkey ranking,
    # skew_ratio ~1); zero-lineitem corpora empty both engines; salt
    # CEIL must agree on exact-division boundaries
    "q440_skew_join_advisor",
    # r5: generated prices collapse the min==max case (hi-lo+1 = 1,
    # every row in bucket 0 — the refinement must still find rank k);
    # heavy duplicate cents put k on a tie plateau; 1-row lineitem
    # pins median == the row on both engines
    "q444_distributed_median",
    # r5: tiny generated tables tie several join-order costs (rank
    # by order name must agree); empty lineitem zeroes the L-side
    # stats while the static customer/supplier fixtures keep every
    # GREATEST denominator positive
    "q449_selinger_enumeration",
    # r5: NDV estimates on 4-customer pools tie est_lo == est_oc
    # (the <= tie must recommend identically); generated custkeys
    # 0..3 join the sf0.001 customer fixture partially
    "q431_join_order_advisor",
    # short series (< 2*SEG_MIN_PTS months) admit no breakpoint ->
    # zero rows on both engines; constant revenue zeroes every SSE
    # (reduction NULLs via NULLIF)
    "q415_segmented_regression",
    # tiny day pools collapse equi-depth candidate ranks onto each
    # other (DISTINCT dedup must agree); constant revenue zeroes all
    # SSEs -> pure cut-tuple tie-breaks pick the same triple
    "q416_voptimal_histogram",
    # tiny part pools mass-produce frequent pairs AND support ties;
    # single-item baskets yield zero pairs on both engines
    "q417_apriori_itemsets",
    # all-same-day shipdates pin period 0 (decayed == raw modulo the
    # 2^cap scale); ties on decayed revenue fall to the brand order
    "q418_decayed_heavy_hitters",
    # duplicate (orderkey, linenumber) keys attack the run-count
    # window tie-break (v must order); constant columns pin ndv=1
    # (bin(0) -> 1-bit indexes) and runs=groups on both engines
    "q452_encoding_advisor",
    # 1-day / constant-revenue series zero c0 -> phi must NULL via
    # NULLIF (ANSI /0 guard), not diverge NaN-vs-NULL; 2-day series
    # pin the lag product to a single term
    "q454_ar1_yule_walker",
    # constant-priority corpora pin k=1 ((k-1)=0 -> NULLIF, not ANSI
    # /0); single-order groups zero every deviation (SSW=0 -> NULL)
    "q461_brown_forsythe",
    # tiny part pools densify the co-purchase graph (everything in
    # the core) or the support floor empties it (zero rows both
    # engines); the peel fixed-point must agree on ANY basket layout
    "q479_kcore_decomposition",
    # single-item baskets yield zero pairs; lift ties on symmetric
    # supports fall to the (ante, cons) order; conviction hits the
    # confidence=1 NULLIF on contained-pair layouts
    "q481_association_rules",
    # constant prices tie every revenue rank (partkey order decides
    # the 80/95 boundary); single-week parts and zero demand land in
    # Z on both engines; boundary rows sit exactly on cum*100 ==
    # tot*80 (the integer test must agree)
    "q483_abc_xyz_classification",
    # duplicate (orderkey, linenumber) rows force the full tie-break
    # in BOTH layout orders; tiny tables make one partial row group
    "q484_zonemap_skipping_audit",
    # r8: single-day corpora pack into one bin (file_reduction 0 on
    # both engines); all-small-file years pin small_files = n_files;
    # the per-year prefix-packing cumulative must agree on any
    # day/row layout
    "q510_compaction_advisor",
    # constant-price corpora pin HHI=1/n_brands-ish ties; single-
    # brand years pin simpson=1, shannon=0, effective=1 exactly on
    # both engines; single-line years hit the N(N-1)=0 NULLIF
    "q463_concentration_indices",
    # constant-price corpora zero both QI ranges (dim1 wins the >=
    # tie, median swallows every row left, boxes collapse) — the
    # recursive box lineage must agree on ANY degenerate layout
    "q468_mondrian_kanonymity",
    # series shorter than the smallest block size empty every rs row
    # (zero output rows on both engines); constant revenue zeroes
    # sigma -> ln(R/S) NULLs out via NULLIF identically
    "q469_hurst_exponent",
    # 1-2 day series hit the n-2 SSE NULLIF and the h=1 leverage
    # guard (a 2-point fit has zero residual, rstud NULL); ties on
    # rounded Cook's D fall to the day total order
    "q471_regression_influence",
    # r9: paired AMS sign sketches — tiny tables make the median of
    # means exact-checkable; every lineitem key joins (join_exact >= 1)
    "q515_join_size_ams",
    # r9: the hash row sample can be EMPTY -> d/f1/f2 NULL chain must
    # agree; f2 = 0 NULLIFs Chao1 on both engines
    "q517_sample_distinct_gee",
    # r9: <= 4-shard summaries with heavy count ties; the exact count
    # must sit inside [lower, upper] for every generated shape
    "q518_topk_summary_merge",
    # r9: generated orders use custkeys 0..3, so the static customer
    # table supplies a large true-negative probe set
    "q519_bloom_filter_fpr",
]


@pytest.fixture(scope="module")
def scratch_sf(tmp_path_factory) -> Path:
    """A writable sf_dir seeded with the static small tables; the
    generated tables are overwritten per example."""
    base = tmp_path_factory.mktemp("prop_sf")
    for name in TABLES:
        shutil.copy(Path(SF_DIR) / f"{name}.parquet", base / f"{name}.parquet")
    return base


events_rows = st.lists(
    st.tuples(
        st.integers(0, 3),  # user_id
        st.integers(0, 86_400),  # seconds offset within a few days
        st.sampled_from(EVENT_TYPES),
        st.integers(0, 99_999),  # cents -> 2-decimal value
    ),
    min_size=1,
    max_size=40,
)

docs_rows = st.lists(
    st.tuples(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=12),  # text
        st.sampled_from(["src0", "src1", "src2"]),
        st.sampled_from(["en", "de"]),
    ),
    min_size=1,
    max_size=25,
)


def _write_events(base: Path, rows) -> None:
    df = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s * 37)
                for _, s, _, _ in rows
            ],
            "user_id": [u for u, _, _, _ in rows],
            "event_type": [e for _, _, e, _ in rows],
            "value": [c / 100.0 for _, _, _, c in rows],
            "props": ['{"k": 1}'] * len(rows),
        }
    )
    df.to_parquet(base / "events.parquet", index=False)


def _write_docs(base: Path, rows) -> None:
    texts = [" ".join(w) for w, _, _ in rows]
    df = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": texts,
            "lang": [lang for _, _, lang in rows],
            "source": [src for _, src, _ in rows],
            "n_chars": [len(t) for t in texts],
        }
    )
    df.to_parquet(base / "documents.parquet", index=False)


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=events_rows)
def test_event_queries_match_oracle_on_generated_data(spark, scratch_sf, rows):
    _write_events(scratch_sf, rows)
    _compare_all(EVENT_QUERIES, spark, scratch_sf)


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=docs_rows)
def test_doc_queries_match_oracle_on_generated_data(spark, scratch_sf, rows):
    _write_docs(scratch_sf, rows)
    _compare_all(DOC_QUERIES, spark, scratch_sf)


# ------------------------------------------------------- orders-shaped hunt

orders_rows = st.lists(
    st.tuples(
        st.integers(0, 3),  # custkey
        st.integers(0, 120),  # day offset from 2024-01-01
        st.integers(0, 9_999_999),  # cents -> totalprice
        st.integers(1, 4),  # lineitem count for this order
    ),
    min_size=1,
    max_size=25,
)


def _write_orders(base: Path, rows) -> None:
    import numpy as np

    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(rows)),
            "o_custkey": [c for c, _, _, _ in rows],
            "o_orderstatus": ["F"] * len(rows),
            "o_totalprice": [cents / 100.0 for _, _, cents, _ in rows],
            "o_orderdate": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)
                for _, d, _, _ in rows
            ],
            "o_orderpriority": ["3-MEDIUM"] * len(rows),
        }
    )
    lk, lp, ln_ = [], [], []
    for ok, (_, d, cents, nli) in enumerate(rows):
        for j in range(nli):
            lk.append(ok)
            # tiny part pool (0..5) forces heavy co-purchase overlap
            # AND duplicate (order, part) pairs when nli > pool slice
            lp.append((ok * 7 + j * 3 + d) % 6)
            ln_.append(j + 1)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": pd.array(lk, dtype="int64"),
            "l_partkey": pd.array(lp, dtype="int64"),
            "l_suppkey": pd.array([p % 3 for p in lp], dtype="int64"),
            "l_linenumber": pd.array(ln_, dtype="int64"),
            "l_quantity": np.asarray([1.0 + (p % 5) for p in lp]),
            "l_extendedprice": np.asarray([100.0 + 10.0 * p for p in lp]),
            "l_discount": np.asarray([0.05] * len(lk)),
            "l_tax": np.asarray([0.02] * len(lk)),
            "l_returnflag": ["N"] * len(lk),
            "l_linestatus": ["O"] * len(lk),
            "l_shipdate": [
                pd.Timestamp("2024-01-05") + pd.Timedelta(days=k % 30)
                for k in lk
            ],
        }
    )
    # Spark reads TIMESTAMP(NANOS) only through the events-specific
    # legacy path; match the driver fixtures' microsecond physical type
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    lineitem["l_shipdate"] = lineitem["l_shipdate"].astype("datetime64[us]")
    orders.to_parquet(base / "orders.parquet", index=False)
    lineitem.to_parquet(base / "lineitem.parquet", index=False)


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=orders_rows)
def test_order_queries_match_oracle_on_generated_data(spark, scratch_sf, rows):
    _write_orders(scratch_sf, rows)
    _compare_all(ORDER_QUERIES, spark, scratch_sf)


# --------------------------------------------------- embeddings-shaped hunt

EMB_QUERIES = [
    # duplicate vectors tie every cosine; tiny corpora shrink top-k
    "q70_knn_bruteforce",
    # identical sign-buckets collapse all pairs into one bucket
    "q71_ann_lsh_bucketed",
    "q72_embedding_neardup",
    # norm stats over duplicated / tiny-magnitude vectors
    "q73_embedding_norm_stats",
    # r9: duplicate vectors tie every cosine in a layer (cand
    # tie-break) and collapse sign buckets; near-zero vectors keep
    # norms finite (exact zero excluded by the fixture contract)
    "q514_hnsw_layer_audit",
    # single-label corpora and k>n queries stress the vote windows
    "q216_knn_label_eval",
    # PQ: duplicate vectors map to one code; sub-k training sets
    "q343_pq_adc_topk",
    "q344_ivf_pq_probe",
    # iterated decimal-roundtrip sums must stay bit-identical even
    # when duplicated vectors make the spectrum degenerate
    "q357_pca_power_iteration",
    # identical vectors give d2=0 pairs -> NULLIF guards must agree
    "q358_jl_projection_distortion",
    # duplicate blocks empty some seed clusters on both engines
    "q359_kmeans_lloyd_step",
    # duplicate vectors tie every cosine at the graded ranking; all-
    # rel-0 queries NULL the nDCG (IDCG = 0) on both engines
    "q382_ndcg_at_k",
    # all-duplicate corpora (dup=1) zero every distance: the greedy
    # argmax degenerates to pure vec_id tie-breaks for 7 straight
    # rounds on both engines; near-zero vectors shrink md toward the
    # 1e-6 rounding grid where min/LEAST associativity must hold
    "q392_kcenter_coreset",
    # duplicate blocks tie relevance at 1.0 (pure vec_id tie-breaks)
    # and tie the diversity penalty; pools smaller than k must stop
    # the greedy loop identically on both engines
    "q404_mmr_diverse_topk",
    # duplicate vectors tie cosines (cand_id rank breaks); all-same-
    # label corpora pin AP=1; zero-relevant queries NULL AP via the
    # min(R,k) NULLIF; the half-up nano P@i grid must agree
    "q472_map_at_k",
    # dup blocks shrink label diversity (fewer than 2 labels -> zero
    # pair rows); tiny-magnitude vectors push moments onto the 1e-7
    # grid where the DECIMAL roundtrip must hold
    "q405_embedding_moment_drift",
    # duplicate vectors tie both rankings (recall pinned by vec_id
    # tie-breaks agreeing); near-zero vectors exercise the NULLed
    # zero-norm prefix cosine ranking last on both engines
    "q411_matryoshka_recall",
    # duplicate vectors tie d2 at 0 for several seeds (pure cid
    # tie-breaks pick own vs alt); n < 8 shrinks the seed pool so
    # high k values coincide; a=b=0 NULLs s via the GREATEST guard
    "q456_silhouette_elbow",
    # duplicate vectors tie cosines (cand_id rank breaks); pools
    # smaller than the budget keep everything; near-zero vectors
    # score but cannot break the prefix rule
    "q494_rag_context_packing",
    # r8: duplicate vectors tie core distances at 0 (vb tie-break);
    # tiny corpora / lone-vector buckets drop below DENS_K in-bucket
    # peers and must surface as n_sparse identically via the left
    # join, never as fabricated distances
    "q505_density_core_audit",
    # r8: dup blocks concentrate one bucket/label cell (ARI pinned
    # by exact DECIMAL pair counts); single-bucket or single-label
    # degenerate corpora zero the ARI denominator (NULL via NULLIF
    # on both engines); purity ties resolved by MAX identically
    "q507_adjusted_rand_index",
]

emb_params = st.tuples(
    st.integers(20, 45),  # n vectors
    st.integers(0, 2**31 - 1),  # value seed
    st.integers(1, 5),  # duplication factor (dup blocks)
    st.booleans(),  # include near-zero-magnitude vectors
)


def _write_embeddings(base: Path, params) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, seed, dup, tiny = params
    rng = np.random.default_rng(seed)
    base_vecs = rng.integers(-50, 51, size=(n, 64)).astype("float32") / 16.0
    # duplicate blocks: every dup-th vector repeats vector 0's values
    for i in range(0, n, max(1, dup)):
        base_vecs[i] = base_vecs[0]
    if tiny:
        # near-zero magnitude (NOT exactly zero: cosine of the zero
        # vector is 0/0 — undefined in both engines and excluded from
        # the fixtures' contract)
        base_vecs[n // 2] = np.full(64, 2**-10, dtype="float32")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in base_vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, base / "embeddings.parquet")


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(params=emb_params)
def test_emb_queries_match_oracle_on_generated_data(spark, scratch_sf, params):
    _write_embeddings(scratch_sf, params)
    _compare_all(EMB_QUERIES, spark, scratch_sf)


# ------------------------------------------------- part/geo-shaped hunt
# (r3 verdict task 7: the newest part-table ops get adversarial data —
# all-equal prices, single-bin degeneracy, duplicate (price,size)
# twins are exactly where skyline pruning bugs live)

PART_QUERIES = [
    # all-equal prices collapse the grid to ONE bin (running max over
    # strictly-cheaper bins sees nothing); duplicate (price,size)
    # twins must BOTH survive (dominance is strict); bin-boundary
    # prices (exact SKY_BIN multiples) attack the floor() binning
    "q374_skyline_frontier",
    # adversarial name pool attacks the Jaro match-window edges
    # (1-char names -> window 0), transposition parity, the 4-char
    # Winkler prefix cap, and the empty-string 0.0 convention; the
    # pandas-UDF doubles must match DuckDB's native C++ bit-for-bit
    "q457_jaro_winkler_linkage",
    # integer outputs: builtin-vs-builtin Levenshtein parity (Spark
    # JVM vs DuckDB C++) and true-DL-vs-OSA divergence cases from
    # the name pool ('abdc', 'dcba' transposition traps)
    "q467_edit_distance_suite",
    # r8: tiny part pools shrink the rendezvous key set (1-part
    # corpora place exactly QUO_R replicas); the per-key top-3 rank
    # over md5 weights must tie-break (h DESC, suppkey ASC)
    # identically; nations hosting no replicas take the left-join
    # zero path
    "q506_quorum_placement_audit",
]

# names chosen to sit on Jaro/Winkler edges: empty, 1-char (match
# window 0), pure transpositions, shared 4+ prefixes, repeats
JW_NAME_POOL = [
    "",
    "a",
    "b",
    "ab",
    "ba",
    "abcd",
    "abdc",
    "dcba",
    "aaaa",
    "aaab",
    "abcdefgh",
    "abcdhgfe",
    "part#1",
    "part#2",
    "a b",
]
GEO_QUERIES = [
    # hash-derived coords: tiny/overlapping key pools collapse
    # customers onto identical cells; empty-ish supplier sets leave
    # customers with no in-radius candidate (left-join NULL rows)
    "q370_spatial_bin_join",
]

# price pool deliberately includes exact bin boundaries (20.00, 40.00)
# and one shared value to mass-produce twins; sizes from a tiny pool
part_rows = st.lists(
    st.tuples(
        st.sampled_from([1999, 2000, 2001, 4000, 4001, 500, 500, 99999]),
        st.integers(1, 4),
        st.sampled_from(JW_NAME_POOL),
    ),
    min_size=1,
    max_size=30,
)


def _write_part(base: Path, rows) -> None:
    df = pd.DataFrame(
        {
            "p_partkey": pd.array(range(len(rows)), dtype="int64"),
            "p_name": [nm for _, _, nm in rows],
            "p_brand": [f"Brand#{i % 3}" for i in range(len(rows))],
            "p_type": ["STANDARD"] * len(rows),
            "p_size": pd.array([s for _, s, _ in rows], dtype="int32"),
            "p_retailprice": [c / 100.0 for c, _, _ in rows],
        }
    )
    df.to_parquet(base / "part.parquet", index=False)


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=part_rows)
def test_part_queries_match_oracle_on_generated_data(spark, scratch_sf, rows):
    _write_part(scratch_sf, rows)
    _compare_all(PART_QUERIES, spark, scratch_sf)


geo_params = st.tuples(
    st.lists(st.integers(0, 60), min_size=1, max_size=20, unique=True),
    st.lists(st.integers(0, 60), min_size=1, max_size=5, unique=True),
)


def _write_geo(base: Path, params) -> None:
    ckeys, skeys = params
    pd.DataFrame(
        {
            "c_custkey": pd.array(ckeys, dtype="int64"),
            "c_name": [f"c{k}" for k in ckeys],
            "c_nationkey": pd.array([k % 5 for k in ckeys], dtype="int32"),
            "c_acctbal": [100.0 + k for k in ckeys],
            "c_mktsegment": ["BUILDING"] * len(ckeys),
        }
    ).to_parquet(base / "customer.parquet", index=False)
    pd.DataFrame(
        {
            "s_suppkey": pd.array(skeys, dtype="int64"),
            "s_name": [f"s{k}" for k in skeys],
            "s_nationkey": pd.array([k % 5 for k in skeys], dtype="int32"),
            "s_acctbal": [50.0 + k for k in skeys],
        }
    ).to_parquet(base / "supplier.parquet", index=False)


@settings(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(params=geo_params)
def test_geo_queries_match_oracle_on_generated_data(spark, scratch_sf, params):
    _write_geo(scratch_sf, params)
    _compare_all(GEO_QUERIES, spark, scratch_sf)
