"""Seed determinism of the generated inputs, the tail rule, and the metric
lists ``BENCHMARK.json`` declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from lvm_datapipe_spark import fakevideo  # noqa: E402
from perfbench import fixtures, run  # noqa: E402


def _corpus_hash(tmp_path, name, seed):
    d = tmp_path / name
    fakevideo.write_corpus(str(d), fixtures.corpus_ids(seed, 10, 30.0))
    return fixtures.tree_hash(str(d))


def test_corpus_repeats_for_a_seed_and_changes_with_it(tmp_path):
    assert _corpus_hash(tmp_path, "a", 5) == _corpus_hash(tmp_path, "b", 5)
    assert _corpus_hash(tmp_path, "a", 5) != _corpus_hash(tmp_path, "c", 6)


def test_tables_repeat_for_a_seed(tmp_path):
    a = fixtures.write_tables(str(tmp_path / "a"), 42)
    b = fixtures.write_tables(str(tmp_path / "b"), 42)
    assert fixtures.tree_hash(a) == fixtures.tree_hash(b)
    cols = fixtures.table_columns(42)
    assert set(cols) == {"region", "nation", "customer", "supplier", "part", "orders",
                         "lineitem", "events", "documents", "embeddings"}
    assert len(cols["lineitem"]["l_orderkey"]) == fixtures.ROWS["lineitem"]


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(8)]
    one = fixtures.seeded_order(names, 1, 0)
    assert sorted(one) == names
    assert one == fixtures.seeded_order(names, 1, 0)
    assert one != fixtures.seeded_order(names, 2, 0)
    assert one != fixtures.seeded_order(names, 1, 1)


def test_scene_counts_separate_generated_from_detectable():
    ids = fixtures.corpus_ids(1, 40, 30.0)
    counts = fixtures.scene_counts(ids, threshold=30.0)
    assert sum(d for _, d in counts.values()) == 40
    for generated, detectable in counts.values():
        assert 1 <= detectable <= generated <= 6


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(100)]
    p, v = run.tail_percentile(values)
    assert p == 90.0 and sum(1 for x in values if x > v) >= 10
    assert run.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == set(run.NOMINAL_PASS_S)
