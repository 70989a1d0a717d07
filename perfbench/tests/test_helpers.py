"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

import json
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

from hllspark.pipeline import pages
from perfbench import fixtures, run, stats, workloads
from perfbench.trace import Span, parse_metric, self_times


@pytest.mark.parametrize(
    "text, value",
    [
        ("8,000,000", 8_000_000),
        ("0", 0),
        ("82.2 MiB", 82.2 * 2**20),
        ("0.0 B", 0),
        ("156 ms", 156),
        ("13.4 s", 13_400),
        ("3.0 m", 180_000),
        ("1.50 h", 5_400_000),
        ("total (min, med, max (stageId: taskId))\n13.4 s (3.2 s, 3.4 s, 3.5 s (stage 1.0: task 4))", 13_400),
        ("total (min, med, max (stageId: taskId))\n338.0 KiB (84.4 KiB, 84.6 KiB, 84.6 KiB (stage 1.0: task 3))",
         338 * 1024),
        ("total (min, med, max (stageId: taskId))\n74 ms (13 ms, 22 ms, 23 ms (stage 1.0: task 1))", 74),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 parsecs"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_percentile_reports_samples_beyond():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == (90, 10)
    assert stats.percentile(values, 50) == (50, 50)
    assert stats.percentile([5, 1, 3], 100) == (5, 0)
    assert stats.percentile([7, 7, 7, 9], 50) == (7, 1)  # ties are not beyond


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0
    assert stats.quartile_spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


def test_scaling_efficiency():
    assert stats.scaling_efficiency(4_000_000, 8.0, 2.0) == pytest.approx(1.0)
    assert stats.scaling_efficiency(4_000_000, 8.0, 4.0) == pytest.approx(0.5)
    assert stats.scaling_efficiency(1, 3.0, 1.0, n=3) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.scaling_efficiency(10, 0.0, 1.0)


def test_self_times_subtract_union_of_children():
    spans = [
        Span("p", "parent", None, "r", 0.0, 100.0),
        Span("a", "a", "p", "r", 10.0, 40.0),
        Span("b", "b", "p", "r", 30.0, 60.0),  # overlaps a
        Span("c", "c", "p", "r", 90.0, 120.0),  # runs past the parent
    ]
    got = self_times(spans)
    assert got["p"] == pytest.approx(100 - 50 - 10)
    assert got["a"] == pytest.approx(30)


def test_urls_and_langs_replay_the_pages_generator():
    n = 3000
    batch = pages._chunk(0, n, fixtures.DUP_FACTOR)
    docs = np.arange(n, dtype=np.uint64) // np.uint64(fixtures.DUP_FACTOR)
    assert fixtures.urls(docs).to_pylist() == batch.column(0).to_pylist()
    names = np.array([name for name, _ in pages.LANGS])
    replayed = names[fixtures.lang_codes(np.arange(n // 3, dtype=np.uint64))]
    assert (replayed == pages.lang_of_docs(n // 3)).all()


@pytest.mark.parametrize("rows", [30_000, 30_001, 30_002])
def test_ground_truth_counts(rows):
    gt = fixtures.ground_truth(0, rows)
    assert gt["distinct"] == pages.expected_distinct_urls(rows, fixtures.DUP_FACTOR)
    assert sum(gt["per_lang"].values()) == gt["distinct"]
    assert int(gt["per_domain"].sum()) == gt["distinct"]
    # seed 0 starts at document 0, so the lang split is the generator's own
    langs = pages.lang_of_docs(gt["distinct"])
    assert gt["per_lang"] == {k: int(v) for k, v in zip(*np.unique(langs, return_counts=True))}


def test_table_matches_ground_truth(tmp_path):
    rows, seed = 20_000, 3
    out = fixtures.ensure_table(tmp_path, seed, rows, n_files=4)
    t = pq.read_table(out)
    gt = fixtures.ground_truth(seed, rows)
    assert t.num_rows == rows
    assert len(set(t.column("url").to_pylist())) == gt["distinct"]
    assert np.array_equal(np.bincount(t.column("dom").to_numpy(), minlength=fixtures.N_DOMAINS) > 0,
                          gt["per_domain"] > 0)
    v = t.column("v").to_numpy()[fixtures.quantile_sample(t.column("dom").to_numpy())]
    assert np.array_equal(np.sort(v), np.sort(gt["quantile_values"]))
    assert fixtures.ensure_table(tmp_path, seed, rows, n_files=4) == out  # cached


def test_seeds_give_disjoint_inputs():
    a = fixtures.urls(fixtures.doc_offset(1) + np.arange(100, dtype=np.uint64)).to_pylist()
    b = fixtures.urls(fixtures.doc_offset(2) + np.arange(100, dtype=np.uint64)).to_pylist()
    assert not set(a) & set(b)


@pytest.mark.parametrize("seed", [2**31 + 5, 2**32, 2**63, -7])
def test_any_seed_gives_a_table(tmp_path, seed):
    out = fixtures.ensure_table(tmp_path, seed, 3_000, n_files=1)
    assert pq.read_table(out).num_rows == 3_000
    assert fixtures.ground_truth(seed, 3_000)["distinct"] == 1_000


def test_benchmark_json_matches_reported_metrics():
    spec = json.loads((Path(run.__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
