"""The registered query suite — one entry per implemented operator from
SURVEY.md §3, each with (where SQL-expressible) a DuckDB oracle.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry. Importing this package registers everything.
"""

from __future__ import annotations

from .registry import REGISTRY, QuerySpec, register  # noqa: F401

# registration side effects
from . import core  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import joins  # noqa: E402,F401
from . import aggs  # noqa: E402,F401
from . import patterns  # noqa: E402,F401
from . import ratelimit  # noqa: E402,F401
from . import incremental  # noqa: E402,F401
from . import tables  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import streaming_suite  # noqa: E402,F401
from . import siddhiql_suite  # noqa: E402,F401
from . import collections  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import cdc  # noqa: E402,F401
from . import ml_suite  # noqa: E402,F401
from . import sources_suite  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-window rotation, round 15.  The per-round correctness gate
# records only the FIRST 50 registry entries in registration order.
# This window executes the r14-pre-staged plan: (1) r14 reds — there
# were none; (2) the FORTY r9-stale rows the r14 window displaced
# (window family tail, join family tail, ratelimit trio, incremental
# retrieval, multimodal features, the streaming CEP tail, QL
# trigger/bucketed-length, CDC feed, kmeans — the oldest ledger tail
# at 5 rounds, re-verified by folding CORRECTNESS_r01..r14 against
# the registry this round); (3) rows ADDED in r15 (never-checked):
# `siddhiql_plan_stats_pinned` (r14 verdict #3 — precomputed stats
# pin the regime pick through the QL front end, zero submit-time
# jobs) and `pattern_scan_null_keys` (r14 advice medium — NULL keys
# behave identically across pattern tiers, null-heavy derived-key
# oracle); (4) rows whose EXECUTED CODE changed in r15:
# `_nearest_probe_scan` grew the NULL-key probe filter (→ the two
# scan-tier rows), and the QL builder's `_plan_hints` grew the
# strict whole-body parse / `_equi_pairs` grew paren-balance
# rejection / `run_app` grew the `plan_stats` door (→ the
# @plan-carrying QL rows and the join-door `siddhiql_join`), and
# `window_session` routes through the new PREFIX-SUM session tier
# (`operators/windows.py::session_prefix` — the ×1000 gate recovery),
# `siddhiql_session_window` is NEW (the batch QL session door,
# previously oracle-less, now on gap-island ids), and
# `text_bpe_train` + `text_bpe_encode` are NEW (BPE tokenizer
# training — the iterative vocab-state fold — and encoding with the
# learned merges; they displaced `pattern_absence_scan` and
# `pattern_followed_by_scan`, both r14-checked, whose r15 code
# change — the NULL-key probe filter in `_nearest_probe_scan` — is
# covered by the NEW null-heavy scan row `pattern_scan_null_keys`
# in this same window plus the tier-parity unit tests).  These
# displaced
# the one r10-stale filler this window had room for AND
# `siddhiql_join` (newest-checked r14 row in the window; its r15
# changed lines — the `_plan_hints` strict parse and the
# `plan_stats` door — are executed by four other window rows and
# `siddhiql_plan_stats_pinned` respectively).
#
# Late-r15 additions (second session): `text_word_lm` (CCNet-style
# word-bigram LM perplexity filter), `text_dsir_weight` (DSIR
# hashed n-gram importance weight) and `streaming_text_dsir` (its
# frozen-model serving twin) are NEW, and
# `dedup_minhash_lsh` + `dedup_connected_components` join group (4)
# — their executed code changed when the uncapped LSH tier moved to
# OWNER-BAND pair dedup (pipeline/dedup.py; SCALEBENCH r15 cont.).
# `dedup_minhash_lsh_capped`'s one changed line (explicit `_band`
# drop before its distinct) is covered by the capped-tier unit tests
# and this session's local oracle run.  The five slots came from
# the TAIL of the r9-stale group (`siddhiql_bucketed_length_window`,
# `table_cdc_feed`, `ml_kmeans`, `siddhiql_trigger`,
# `pattern_optional_step`) — they LEAD the r16 window below at
# staleness 6 (precedent: r13 left an r8-stale tail at 6, retired
# first in r14).
#
# Later-r15 additions (third session): `corpus_shard_manifest`
# (global two-level token-budget shard numbering),
# `dedup_token_set` (canonical token-set dedup) and
# `streaming_shard_assign` (the shard service twin) are NEW.  Per
# the displacement rule (newest-checked tail, never stale /
# never-checked groups) they displace `siddhiql_pattern_auto` and
# `siddhiql_absence_auto` (both r14-first-check — the newest rows
# in the window; their r15 changed surface — the `_plan_hints`
# strict parse and the scan tier's NULL-key probe filter — is
# executed in-window by `siddhiql_plan_stats_pinned`,
# `siddhiql_join_windowed_auto` and the NEW null-heavy scan row
# `pattern_scan_null_keys`, plus the tier-parity unit tests) and
# `dedup_connected_components` (r13-checked; its r15 changed code
# is the owner-band pair feed shared with `dedup_minhash_lsh`,
# which stays in-window, and pair-set equality across the change
# is asserted by unit test AND the SCALEBENCH ×10 decade check).
# All three displaced rows lead the r16 window below.  After this
# window: never-checked = 0, r9-stale = 5, r10-stale = 40, max
# staleness = 6.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Driver-window rotation, round 16 — EXECUTES the r15 pre-staged plan
# (see the "Round-16 rotation, pre-staged" note below) with the
# staleness claims re-verified by folding CORRECTNESS_r01..r15 against
# the registry this round: (1) r15 reds — none (50/50 green); (2) the
# FIVE r9-stale rows (staleness 7, oldest in the ledger); (3) the
# three displaced rows (siddhiql_pattern_auto / siddhiql_absence_auto
# r14-checked; dedup_connected_components r12-checked per the fold —
# even staler than the pre-stage's r13 claim — AND its r16 executed
# code changed: the star loop's round fusion + the inline-regime
# scoring it shares with the LSH rows); (4) the FORTY r10-stale rows
# in the pre-staged registry order (fold-verified all r10 except
# dedup_minhash_lsh, which r15's window re-checked — kept per the
# pre-stage AND because its r16 executed code changed: packed-binary
# inline carry + chunk scorer, auto-regime pick shared with _capped);
# (5) no rows added in r16 (optimization round — no new features);
# (6) r16 changed-code rows with the balance of 50: ALL five
# stream-stream join rows changed (derived state partitions) — the
# two slots go to `streaming_join_windowed` (plain symmetric join,
# r14-checked) and `streaming_join_outer` (outer + cutoff path,
# r12-checked); the other three (bucket, unidirectional, full_outer)
# share the same derivation + _materialize seam, were oracle-checked
# locally this round (tools/check_oracle.py streaming_join — all
# green) and are pinned by the fingerprint-identical fresh-process
# A/B (OPTIMIZATION_r16.md §3) + the conf-restore test.
# After this window: r9/r10-stale = 0, max staleness = 7 (retired
# here), r11-stale backlog = 39 remains for r17.
# ---------------------------------------------------------------------------
_FRONT_NAMES = (
    # (2) the five r9-stale rows (oldest ledger tail, staleness 7)
    "siddhiql_bucketed_length_window",
    "table_cdc_feed",
    "ml_kmeans",
    "siddhiql_trigger",
    "pattern_optional_step",
    # (3) the three rows the late-r15 additions displaced
    "siddhiql_pattern_auto",
    "siddhiql_absence_auto",
    "dedup_connected_components",
    # (4) the forty r10-stale rows, pre-staged registry order
    "filter_project",
    "named_window_fanout",
    "agg_basic",
    "agg_forever_extrema",
    "agg_unionset",
    "agg_bool",
    "agg_having_orderby_limit",
    "agg_multikey",
    "agg_rollup_cube",
    "tpch_q1",
    "agg_group_concat",
    "tpch_q6",
    "tpch_q3",
    "tpch_q5",
    "agg_udaf_custom",
    "pattern_sequence_adjacent",
    "pattern_count_quantifier",
    "pattern_logical_and",
    "pattern_logical_or",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "similarity_bruteforce",
    "similarity_knn_graph",
    "similarity_lsh",
    "similarity_ivf",
    "text_chunk_dedup_ratio",
    "corpus_token_budget",
    "text_remove_repeated_spans",
    "text_remove_spans_bloom",
    "streaming_reorder_akslack",
    "siddhiql_filter",
    "siddhiql_timebatch_agg",
    "siddhiql_partition",
    "siddhiql_output_rate_last",
    "siddhiql_named_window",
    "siddhiql_define_aggregation",
    "siddhiql_table_upsert",
    "siddhiql_bucketed_pattern",
    "siddhiql_bucketed_expression_window",
    "ml_perceptron_online",
    # (6) r16 changed-code rows (derived state partitions)
    "streaming_join_windowed",
    "streaming_join_outer",
)

# Round-17 rotation, pre-staged: lead with any r16 reds, then the
# THIRTY-NINE r11-stale rows (the backlog this window left — re-verify
# by folding CORRECTNESS_r01..r16 against the registry before
# staging), then every row added in round 17 (never-checked), then
# rows whose code changes in r17, then the r12-stale backlog in
# registry order with the balance of 50.  New registry rows displace
# the NEWEST-checked tail entries, never the stale/never-checked
# groups.

# (Archive) Round-14 rotation as executed: (1) no r13 reds; (2) the
# thirty-two r8-stale rows (tpch tail, similarity/MIPS tail,
# curation/decontaminate rows, streaming text twins, collections and
# sketch-bound rows); (3) r14 additions (the four QL @plan rows +
# the streaming bucket row); (4) changed-code rows (auto picks,
# scan tiers, streaming join passthrough, QL @plan routing); (5) 1
# r9-stale filler (window_externaltimebatch).  Left r9-stale = 40,
# max staleness 5 — retired by the r15 window above.

# Round-16 rotation, pre-staged: lead with any r15 reds, then the
# FIVE r9-stale rows the late-r15 additions displaced
# (siddhiql_bucketed_length_window, table_cdc_feed, ml_kmeans,
# siddhiql_trigger, pattern_optional_step — staleness 6, oldest in
# the ledger), then the THREE rows the third-session additions
# displaced (siddhiql_pattern_auto, siddhiql_absence_auto — r14 —
# and dedup_connected_components — r13), then the
# FORTY remaining r10-stale rows this window displaced, in
# registry order (filter_project, named_window_fanout, agg_basic,
# agg_forever_extrema, agg_unionset, agg_bool,
# agg_having_orderby_limit, agg_multikey, agg_rollup_cube, tpch_q1,
# agg_group_concat, tpch_q6, tpch_q3, tpch_q5, agg_udaf_custom,
# pattern_sequence_adjacent, pattern_count_quantifier,
# pattern_logical_and, pattern_logical_or, dedup_minhash_lsh,
# dedup_minhash_lsh_capped, similarity_bruteforce,
# similarity_knn_graph, similarity_lsh, similarity_ivf,
# text_chunk_dedup_ratio, corpus_token_budget,
# text_remove_repeated_spans, text_remove_spans_bloom,
# streaming_reorder_akslack, siddhiql_filter, siddhiql_timebatch_agg,
# siddhiql_partition, siddhiql_output_rate_last,
# siddhiql_named_window, siddhiql_define_aggregation,
# siddhiql_table_upsert, siddhiql_bucketed_pattern,
# siddhiql_bucketed_expression_window, ml_perceptron_online —
# re-verify by folding CORRECTNESS_r01..r15 against the registry
# before staging), then every row added in round 16 (never-checked),
# then rows whose code changes in r16, then the r11-stale backlog in
# registry order (39 rows last checked r11) with the balance of 50.
# New registry rows displace the NEWEST-checked tail entries, never
# the stale/never-checked groups.
#
# (Archive) Round-13 rotation as executed: (1) no r12 reds; (2) the
# twenty-seven r7-stale rows (multimodal quartet, text tail,
# streaming join/ratelimit/approx tail, siddhiql
# plugin/playback/CR rows); (3) r13 additions
# (`pattern_followed_by_auto`, `join_windowed_self_auto`); (4)
# changed-code rows (five operator-tier pattern rows + three
# `windowed_stream_join` callers); (5) the r8-stale backlog balance
# (window_timebatch … tpch_q2).  Left r8-stale = 32, max staleness 6
# — retired by the r14 window above.
#
# (Archive) Round-13 rotation as pre-staged in r12: lead with any r12
# reds, then the TWENTY-SEVEN r7-stale rows (multimodal quartet,
# streaming tail, siddhiql plugin/playback/CR, text rows), then rows
# added in r13, then changed-code rows, then the r8-stale backlog
# with the balance of 50 — EXECUTED EXACTLY by the window above.
#
# (Archive) Round-12 rotation as executed: (1) no r11 reds; (2) the
# seventeen r6-stale rows (text/streaming tail + wire-codec source
# family); (3) r12 additions (bucketed-kslack pair, scan-tier pair);
# (4) changed-code rows (six ivfpq + csv mapper + corpus shuffle);
# (5) r7-stale backlog balance (scalar_math …
# dedup_connected_components, text_token_stats).  Left r7-stale = 27,
# max staleness 6 — retired by the r13 window above.
#
# (Archive) Round-12 rotation as pre-staged in r11: lead with any r11
# reds, then the SEVENTEEN r6-stale rows (text/streaming/source
# tail), then rows added in r12, then changed-code rows, then the
# r7-stale backlog with the balance of 50 — EXECUTED EXACTLY by the
# window above.
#
# (Archive) Round-11 rotation as pre-staged in r10: lead with any r10
# reds, then `siddhiql_reorder_akslack` (the only never-checked row),
# then the TEN r5-stale rows (siddhiql pattern/source tail +
# source_* trio), then rows added in r11, then changed-code rows,
# then the r6-stale backlog with the balance of 50 — EXECUTED EXACTLY
# by the window above.
#
# (Archive) Round-10 rotation as pre-staged in r9: lead with any r9
# reds, then `ml_perceptron_online` (the single remaining r4 row),
# then every row added in round 10 (never-checked), then rows whose
# code changed in r10, then the r5-stale backlog in registry order
# with the balance of 50 — EXECUTED EXACTLY by the window above.

# Round-8 rotation, pre-staged: lead with any r7 reds (there were
# none), then the FIVE never-driver-checked r7 tail rows (tpch_q8,
# tpch_q12, tpch_q17, similarity_int8_recall, similarity_mips —
# local-green, added after the window filled), then every row added in
# round 8 (never-checked), then the REMAINING r3-stale rows —
# the twelve displaced from this window by r7's new rows
# (similarity_ann_recall, pii_mask, quality_repetition,
# decontaminate_ngram, domain_mix_sample, sample_hash_split,
# window_topk, window_batch_chunk, set_ops, agg_extrema_min_max_by,
# analytic_window_fns, dedup_simhash) plus seq_pack_bins,
# text_winnow_fingerprint, corpus_weighted_sample,
# text_tfidf_top_terms, embedding_centroids, siddhiql_star_quantifier,
# list_fns, map_fns, approx_distinct_bound, sketch_count_min,
# approx_percentile_bound — then the oldest r4 rows (window family,
# join family, ratelimit trio, streaming CEP) with the balance of 50.
# New registry rows displace the NEWEST-checked tail entries, never
# the stale/never-checked groups.
#
# Round-9 rotation, pre-staged: lead with any r8 reds, then every row
# added in round 9 (never-checked — ALL twelve r8 additions made this
# window, so r9 starts with zero never-checked backlog), then any rows
# whose code changes in r9, then the TWELVE r4 fillers this window
# displaced (window_expired_events, join_stream_table,
# join_windowed_self, join_asof, join_unidirectional, ratelimit_first,
# ratelimit_last, window_cron, window_delay, window_timelength,
# window_sort_topk, window_sliding_time — they become the oldest
# ledger tail at 5 rounds stale), then balance to the oldest-checked
# remaining rows in registry order.


def _rotate_for_driver_window() -> None:
    # the driver records ONLY the first 50 — a 51st front name silently
    # falls out of the window (bit round 4: named_window_fanout), and a
    # typo'd name silently rotates nothing in.
    if len(_FRONT_NAMES) > 50:  # contract checks — must survive python -O
        raise RuntimeError(f"{len(_FRONT_NAMES)} front names > 50")
    unknown = [n for n in _FRONT_NAMES if n not in REGISTRY]
    if unknown:
        raise RuntimeError(f"front names not in REGISTRY: {unknown}")

    def rank(item):
        name = item[0]
        if name in _FRONT_NAMES:
            return _FRONT_NAMES.index(name)
        return len(_FRONT_NAMES)

    ordered = sorted(REGISTRY.items(), key=rank)  # stable: keeps in-module order
    REGISTRY.clear()
    REGISTRY.update(ordered)


_rotate_for_driver_window()
