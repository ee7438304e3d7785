"""Static registry of session-memo builders.

caching.memo keys are created at query-construction time deep inside
the query modules, so without a central list the bench would discover
builds reactively: whichever timed query touched a memo first would
pay its build mid-loop.

This module is that list. Each entry maps a memo name to a TOUCH
callable ``(spark, sf_dir) -> Any`` — calling it runs the memo's
build() (builds are eager: the builders cache()+count() inside), so
``prebuild_all`` can construct every memo up front, serially, before
the bench's timed loop; the ledger entries it leaves behind are booked
to ``memo_build:<name>`` line items, and the timed loop then sees only
re-materializations (a clearCache artifact, booked to
``memo_remat:<name>``).

Completeness is pinned by ``tests/test_caching.py``: a source scan for
``memo(spark, "<name>"`` / ``memo_key="<name>"`` literals must yield
exactly the names registered here, so adding a memo without
registering its touch fails CI rather than silently reverting that
memo to first-touch accounting.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

TouchFn = Callable[[SparkSession, str], Any]


def touch_fns() -> dict[str, TouchFn]:
    """memo name -> callable that builds it (imports deferred: query
    modules are heavy and this module is imported by bench startup)."""
    from data_pipeline_playground_spark.queries import (
        analytics,
        corpus_stats,
        dedup,
        dedup_advanced as da,
        graph,
        graph_mining,
        ml,
        ml_checked,
        sampling,
        similarity,
        temporal,
    )

    return {
        # dedup family
        "minhash_est": da._minhash_est,
        "grams_sampled": da._grams_sampled,
        "minhash_est_sampled": da._minhash_est_sampled,
        "simhash_pairs": da._simhash_pairs,
        "shingle_hash_ex": da._shingle_hash_ex,
        # r15: touch ONLY the sampled ex memo (the old lambda went
        # through _exact_jaccard_pairs, which now also drags the
        # sampled wide-pair build in — that memo has its own touch)
        "shingle_hash_ex_sampled": lambda spark, sf_dir: da._shingle_hash_ex(
            spark, sf_dir, doc_pred=da._doc_sample_pred,
            memo_key="shingle_hash_ex_sampled",
        ),
        "dedup_fuzzy_survivors": dedup.dedup_fuzzy,
        "fuzzy_title_pairs": dedup._fuzzy_pairs_memo,
        # round 15: threshold-independent PPJoin artifacts + the wide
        # (loosest-threshold) exact-Jaccard pair frames every
        # jaccard/containment/audit tier slices (VERDICT r14 pattern)
        "shingle_ranked": da._shingle_ranked,
        "shingle_sets": da._shingle_sets,
        "jaccard_pairs_wide": da._jaccard_pairs_wide,
        "jaccard_pairs_wide_sampled": da._jaccard_pairs_wide_sampled,
        # embedding / ANN family
        "ivf_trained": similarity.ann_ivf_trained_topk,
        "embed_dup_pairs": similarity._embed_dup_pairs,
        "pq_model": similarity._pq_model,
        # ML / text family
        "tfidf_features": ml._tfidf_features_memo,
        "lda_fit": ml._lda_fit,
        "lexrank_doc_weights": ml._doc_weights_memo,
        "lexrank_sentence_artifacts": ml._sentence_artifacts_memo,
        "kmeans_checked_centroids": ml_checked._km_refined_centroids,
        "kmeans_checked_model": ml_checked._kmeans_checked_model,
        # events family
        "rollup_hour_partials": temporal.events_rollup_hierarchical,
        # graph family (round 14): the co-purchase edge list shared by
        # kcore_parts / link_prediction_ra / copurchase_assortativity,
        # and the checked-graph (edges, nodes, deg) shared by
        # lexrank_scores_checked / pic_embedding_checked
        "copurchase_pairs": graph_mining.copurchase_pairs,
        "checked_graph_parts": graph._checked_graph_parts,
        "trade_edges": graph._trade_edges_memo,
        # basket family (round 14): distinct baskets + unthresholded
        # pair counts shared by item_item_neighbors / basket_rules /
        # the copurchase graph view above
        "basket_pairs": analytics._basket_pairs_memo,
        # ExactSubstr span frame (round 14): shared by
        # exact_substr_spans / exact_substr_removed / corpus_funnel
        "exsub_spans": corpus_stats.exact_substr_spans,
        # distinct (doc_id, g) word-shingle stream (round 15): shared
        # by decontaminate_overlap / bloom_blocklist_hits /
        # corpus_funnel's contamination gate
        "doc_shingles": sampling._doc_shingles_memo,
    }


def known_memo_names() -> frozenset[str]:
    return frozenset(touch_fns())


# Measured solo build cost per memo (seconds, idle box, sf0.1 —
# re-measured on round-15 code, MEMO_SOLO_r15.txt; VERDICT r14 #8
# asked for exactly this refresh since six r14 builders carried
# estimates). Used ONLY as scheduling weights (relative order), never
# as timings: prebuild_all runs builds lightest-first so the cheap
# builds warm the shared table scans before the heavy anti-join/fit
# builds replay them. The first build of a cold session additionally
# absorbs JVM/codegen warmup (rollup_hour_partials reads 4.6 s solo
# but ~1 s in the bench, which warms at sf0.001 first) — another
# reason these are ordering weights, not cost claims. Unknown names
# (a newly registered memo) default to mid-weight.
_SOLO_WEIGHTS = {
    "dedup_fuzzy_survivors": 8.8,
    "rollup_hour_partials": 4.6,  # cold-session warmup absorber (see above)
    "simhash_pairs": 4.4,
    "lda_fit": 3.7,
    "jaccard_pairs_wide": 3.5,  # r15: PPJoin candidates + exact verify
    "doc_shingles": 3.4,
    "tfidf_features": 3.0,
    "minhash_est": 2.6,
    "jaccard_pairs_wide_sampled": 2.6,  # r15: sampled-corpus twin
    "pq_model": 2.5,
    "fuzzy_title_pairs": 2.5,
    "basket_pairs": 2.3,
    "exsub_spans": 2.3,
    "ivf_trained": 2.3,
    "lexrank_doc_weights": 2.2,
    "trade_edges": 2.1,
    "minhash_est_sampled": 2.0,
    "embed_dup_pairs": 2.0,
    "shingle_hash_ex": 1.9,
    "checked_graph_parts": 1.9,
    "lexrank_sentence_artifacts": 1.7,
    "kmeans_checked_centroids": 1.6,
    "shingle_ranked": 1.6,  # r15: gdf + rank windows over shingle stream
    "kmeans_checked_model": 1.0,
    "shingle_sets": 0.8,  # r15: per-doc sorted collect_set
    "grams_sampled": 0.7,
    "shingle_hash_ex_sampled": 0.5,
    "copurchase_pairs": 0.2,  # derives from basket_pairs (nested)
}
_DEFAULT_WEIGHT = 2.0

# Known memo nestings (parent builds on child). The serial scheduler
# places each child BEFORE its parent regardless of weights (ADVICE
# r14 #2: lightest-first alone ran minhash_est_sampled before its
# child grams_sampled — correct output via the nested build, and the
# ledger's exclusive accounting kept line items honest, but the
# warm-child-first scheduling intent was violated and the docstring's
# "child is already built" claim was false).
_MEMO_DEPS: dict[str, tuple[str, ...]] = {
    "minhash_est_sampled": ("grams_sampled",),
    "copurchase_pairs": ("basket_pairs",),
    "shingle_ranked": ("shingle_hash_ex",),
    "shingle_sets": ("shingle_hash_ex",),
    "jaccard_pairs_wide": ("shingle_ranked", "shingle_sets"),
    "jaccard_pairs_wide_sampled": ("shingle_hash_ex_sampled",),
    # pre-r15 nestings surfaced by the MEMO_SOLO_r15 re-measure (their
    # child builds booked 0 s own-cost under the old weight order)
    "shingle_hash_ex_sampled": ("grams_sampled",),
    "kmeans_checked_model": ("kmeans_checked_centroids",),
}


def _serial_order(names: list[str], weight) -> list[str]:
    """Lightest-first with dependencies hoisted: stable selection —
    repeatedly take the lightest name whose deps are already placed."""
    remaining = sorted(names, key=lambda n: (weight(n), n))
    placed: list[str] = []
    seen: set[str] = set()
    while remaining:
        for i, n in enumerate(remaining):
            deps = [d for d in _MEMO_DEPS.get(n, ()) if d in names]
            if all(d in seen for d in deps):
                placed.append(n)
                seen.add(n)
                del remaining[i]
                break
        else:  # dependency cycle (config error) — fall back to weights
            placed.extend(remaining)
            break
    return placed


def prebuild_all(
    spark: SparkSession,
    sf_dir: str,
    failures: list[str] | None = None,
) -> list[str]:
    """Build every registered memo for (session, sf_dir).

    Scheduling (round 14, VERDICT r13 #3): builds run SERIALLY,
    lightest-first by the _SOLO_WEIGHTS table. The bench books each
    build's per-thread exclusive wall seconds as a ``memo_build:<name>``
    line item counted in the headline "value", so CONCURRENT builds
    inflate every line item with sibling contention — measured 60.2 s
    booked at the old 4-way width vs the 46.5 s solo-sum floor on the
    builder box (MEMO_SOLO_r13.txt), 86.9 s on the r14 box, and 188.5 s
    on the r13 driver box (heavy builds at 29.9-35.6 s each vs 1.3-4.5 s
    solo floors — ~10× inflation). Serial execution makes booked ≈ solo
    cost by construction on ANY box, and its wall cost is the solo sum
    — about what the 4-way prebuild's wall already was (exclusive-sum /
    width), so nothing real is lost. Lightest-first keeps the shared
    table scans warm before the heavy builds replay them (the
    dedup_fuzzy_survivors 14.5→8.9 s effect noted in MEMO_SOLO_r13.txt).
    Same-key nesting (minhash_est_sampled building on grams_sampled,
    copurchase_pairs on basket_pairs) is ordered explicitly via
    _MEMO_DEPS — children build before parents so the child memo
    really is warm when the parent runs (ADVICE r14 #2);
    caching.memo's per-key locks cover any residual race.

    Returns the names attempted; a touch that raises is skipped (its
    queries will build reactively, exactly the pre-r12 behavior) so one
    broken family cannot sink the whole bench — the exception is LOGGED
    (logging.warning: name, type, message — ADVICE r12 #2) and the
    failed names are collected in ``failures`` for the bench record."""
    import logging

    fns = touch_fns()
    failed: list[str] = []

    def _weight(name: str) -> float:
        return _SOLO_WEIGHTS.get(name, _DEFAULT_WEIGHT)

    def _build(name: str, fn: TouchFn) -> None:
        try:
            fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — reactive fallback
            logging.getLogger(__name__).warning(
                "memo prebuild %r failed, reverting to "
                "first-touch accounting: %s: %s",
                name, type(exc).__name__, exc,
            )
            failed.append(name)

    for name in _serial_order(list(fns), _weight):
        _build(name, fns[name])
    if failures is not None:
        failures.extend(sorted(failed))
    return [n for n in sorted(fns) if n not in failed]
