"""Benchmark self-tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import inputs, layers, run, tracing
from perfbench.workloads import (
    CorpusDedup,
    EtlSync,
    WarehouseReads,
    first_difference,
    rowset,
    survivors_of,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _iis(seed):
    s = inputs.iis_snapshots(seed)
    return json.dumps([s["t1"]["api"], sorted(s["t1"]["docs"].items()),
                       s["t2"]["api"], sorted(s["t2"]["docs"].items()), s["expected"]],
                      sort_keys=True, ensure_ascii=False)


def _warehouse(seed):
    return {k: t.to_pydict() for k, t in inputs.warehouse_tables(seed, sf=0.001).items()}


@pytest.mark.parametrize("gen", [_iis, inputs.corpus, _warehouse])
def test_same_seed_same_inputs_other_seed_other_inputs(gen):
    assert gen(7) == gen(7)
    assert gen(7) != gen(8)


def test_planted_counts_are_consistent():
    s = inputs.iis_snapshots(3)
    t1, t2 = s["expected"]["t1"], s["expected"]["t2"]
    assert t1["scd2_opened"] == t1["rows"]["student_groups"] and t1["scd2_closed"] == 0
    # every t2 open adds a row; a close only ends a version
    assert t2["rows"]["student_groups"] == t1["rows"]["student_groups"] + t2["scd2_opened"]
    assert t1["quarantined"] == inputs.MALFORMED_DOCS + inputs.CONTENTLESS_DOCS
    c = inputs.corpus(3)
    assert c["near_pairs"], "the corpus plants near-duplicate pairs above the threshold"
    for a, b in c["near_pairs"]:
        text = dict((i, t) for i, t, _ in c["docs"])
        assert inputs.jaccard(inputs.word_grams(text[a]), inputs.word_grams(text[b])) >= 0.5


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += list(run.END_TO_END) + list(layers.PER_LAYER) + list(layers.CORPUS_LAYERS)
    names += [w["name"] for w in bench["workloads"]]
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_parse_metric():
    assert tracing.parse_metric("100,000") == 100000
    assert tracing.parse_metric("921.0 B") == 921
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, 2 B, 3 B (stage 0.0: task 1))") == 1536
    assert tracing.parse_metric("1.2 s") == 1.2
    assert tracing.parse_metric("15 ms") == pytest.approx(0.015)


def test_job_descriptions_map_back_to_spans():
    assert tracing.span_id("pb:-1:3:sources.fetch") == 3  # set-up load
    assert tracing.span_id("pb:12:40:queries.flagship_occupancy") == 40
    assert tracing.span_id(None) is None
    assert tracing.span_id("some user job") is None


def test_self_time_subtracts_children_and_sql():
    parent = tracing.Span(0, None, 1, "layer", 0.0, 10.0)
    child = tracing.Span(1, 0, 1, "build", 1.0, 3.0)
    sql = [(0, 2.0, 5.0), (0, 8.0, 9.0)]
    assert tracing.self_time(parent, [parent, child], sql) == pytest.approx(5.0)
    assert tracing.innermost([parent, child], 2.5) is child


# --- a corrupted output is counted as a failure -----------------------------


def _corpus_workload():
    wl = CorpusDedup.__new__(CorpusDedup)
    c = inputs.corpus(5)
    wl.planted, wl.text, wl.reference_fp = c, {i: t for i, t, _ in c["docs"]}, None
    ids = list(wl.text)
    good = {
        "exact": {g[0]: len(g) for g in c["exact_groups"]},
        "ngram": set(c["near_pairs"]),
        "lsh": set(),
        "kept": survivors_of(ids, set()),
        "fp": (1, 2, 3),
    }
    return wl, good


def test_corpus_check_passes_planted_truth_and_flags_corruption():
    wl, good = _corpus_workload()
    assert wl.check(good) == []
    for key, bad in (
        ("exact", {**good["exact"], 999_999: 2}),
        ("ngram", set(list(good["ngram"])[1:])),
        ("lsh", {(0, 1)} if inputs.jaccard(set("ab"), set("cd")) < 0.5 else set()),
        ("kept", set(list(good["kept"])[1:])),
        ("fp", (1, 2, 4)),
    ):
        assert wl.check(dict(good, **{key: bad})), key


def test_warehouse_fingerprint_or_oracle_mismatch_is_a_failure():
    from perfbench.workloads import QUERIES

    wl = WarehouseReads.__new__(WarehouseReads)
    wl.reference = {q: (10, 2, 3) for q in QUERIES}
    wl.oracle_errors = []
    assert wl.check(dict(wl.reference)) == []
    assert wl.check(dict(wl.reference, grouping_analytics=(10, 2, 4)))
    wl.oracle_errors = ["flagship_occupancy: differs from its DuckDB oracle"]
    assert wl.check(dict(wl.reference))
    assert rowset(["b", "a"], [(1, 2.0)]) == [(2.0, 1)]


def test_oracle_comparison_allows_only_a_rounding_tie():
    # agg_pricing_summary on seed 651574177: sum_disc_price of group R/F is
    # exactly 365853933.1650, so round(sum, 2) may come out .16 or .17
    want = rowset(["k", "v", "n"], [("R", 365853933.17, 5), ("A", 25.6357, 3)])
    tie = rowset(["k", "v", "n"], [("A", 25.6357, 3), ("R", 365853933.16, 5)])
    assert first_difference(tie, want) is None
    for bad in ([("A", 25.6357, 3), ("R", 365853933.15, 5)],
                [("A", 25.6359, 3), ("R", 365853933.17, 5)],
                [("A", 25.6357, 3), ("R", 365853933.17, 6)],
                [("A", 25.6357, 3)]):
        assert first_difference(rowset(["k", "v", "n"], bad), want) is not None, bad


def test_etl_check_flags_wrong_counts():
    wl = EtlSync.__new__(EtlSync)
    s = inputs.iis_snapshots(2)
    exp = s["expected"]["t2"]
    wl.expected, wl.input_rows, wl.reference_fp = s["expected"], 1, None
    wl.load_errors, wl.t1_counts = [], (0, 0)

    def stats(delta=0):
        return {k: (n + (delta if k == "occupancy_index" else 0), 0,
                    exp["scd2_opened"], exp["scd2_closed"])
                for k, n in exp["rows"].items()}

    wl._stats = lambda tag, root: stats()
    assert wl.check("unused") == []
    wl._stats = lambda tag, root: stats(delta=1)
    assert wl.check("unused")
    wl._stats = lambda tag, root: stats()
    wl.load_errors = ["t1.faculties: 9 rows, planted 10"]
    assert wl.check("unused")
