"""The benchmark's own tests; no Spark needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import inputs
from perfbench.metrics import E2E, LAYER, result_line
from perfbench.run import WORKLOADS
from perfbench.trace import Span, self_times

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_metric_names_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == LAYER
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


def test_printed_metrics_are_the_listed_ones():
    e2e = json.loads(result_line(3, 0, {n: 1.5 for n in E2E}, trace=False))
    assert list(e2e["metrics"]) == [m["name"] for m in BENCHMARK["end_to_end"]]
    assert e2e["correct"] and e2e["attempted"] == 3
    layer = json.loads(result_line(3, 1, {"fetch.s": 0.5}, trace=True))
    assert list(layer["metrics"]) == [m["name"] for m in BENCHMARK["per_layer"]]
    assert layer["metrics"]["fetch.s"] == {"value": 0.5, "unit": "s"}
    assert not layer["correct"]
    with pytest.raises(KeyError):
        result_line(1, 0, {"setup_s": 1.0}, trace=False)
    with pytest.raises(KeyError):
        result_line(1, 0, {"no.such_metric": 1.0}, trace=True)


def test_self_time_on_hand_built_tree():
    # root [0, 10]
    #   a [1, 4]      child b [2, 3]
    #   c [3.5, 6]    overlaps a; the overlap counts once
    #   d [9, 12]     runs past root; only [9, 10] is covered
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 2.0, 3.0, 1, "r"),
        Span("c", 3.5, 6.0, 0, "r"),
        Span("d", 9.0, 12.0, 0, "r"),
    ]
    assert self_times(spans) == pytest.approx([10 - (5 + 1), 3 - 1, 1, 2.5, 3])


def _crawl_key(graph):
    return [(p.url, p.http_status, tuple(p.out_links)) for p in graph["pages"]], graph["seeds_rows"]


def _frames_equal(a: dict, b: dict) -> bool:
    return all(a[k].astype(str).equals(b[k].astype(str)) for k in a)


@pytest.mark.parametrize(
    "make, same",
    [
        (lambda s: _crawl_key(inputs.crawl_web(s)), lambda a, b: a == b),
        (lambda s: inputs.analytics_tables(s, 0.002), _frames_equal),
    ],
    ids=["crawl_web", "analytics_tables"],
)
def test_generators_are_seeded(make, same):
    assert same(make(1), make(1))
    assert not same(make(1), make(2))


def test_crawl_web_fills_every_wave_from_the_start():
    graph = inputs.crawl_web(3)
    for row in graph["seeds_rows"]:
        starts = row[2].split(",")
        assert len(starts) == inputs.CRAWL_STARTS_PER_JOB
        assert all(s.startswith(f"https://{row[1]}/") for s in starts)


def test_instrument_wraps_entry_points_and_restores_them():
    from searchgov_spider_spark.operators import dedup
    from searchgov_spider_spark.plans import crawl
    from searchgov_spider_spark.sources.state import ParquetStateStore

    from perfbench.trace import Tracer, instrument

    def entry_points():
        return ParquetStateStore.write, dedup.build_bloom, dedup.ShardedBloom.merge, crawl.build_delta_bloom

    before = entry_points()
    tracer = Tracer(None, "t")
    with instrument(tracer):
        wrapped = entry_points()
        assert all(w is not b for w, b in zip(wrapped, before))
        bloom = dedup.build_bloom_from_hashes([1, 2, 3], dedup.BloomSpec.for_capacity(100, 0.01))
        bloom.merge(bloom)
    assert entry_points() == before
    assert [s.name for s in tracer.spans] == ["dedup.build_bloom_from_hashes", "dedup.merge"]
