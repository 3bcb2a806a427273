"""The benchmark's own smoke test, at tiny sizes (about four minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Checks that the generator is deterministic per seed, that every emitted name
and unit is well formed and agrees with BENCHMARK.json, and that both
workloads complete, traced and untraced, with no failed operation.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import metrics  # noqa: E402
import run as entry  # noqa: E402
from common import WORK_ROOT, WorkDir  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_generator_is_deterministic_per_seed():
    a = gen.make_corpus(7, 300)[1]
    b = gen.make_corpus(7, 300)[1]
    c = gen.make_corpus(8, 300)[1]
    assert a.rows() == b.rows()
    assert a.rows() != c.rows()
    qa = gen.QueryGen(a, 7, 1).distinct(200, gen.COLD_MIX)
    qb = gen.QueryGen(b, 7, 1).distinct(200, gen.COLD_MIX)
    assert qa == qb
    assert len({q.text for q in qa}) == 200
    assert list(gen.arrivals(50.0, 2.0, 7)) == list(gen.arrivals(50.0, 2.0, 7))


def test_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(entry.WORKLOADS)
    names = [n for n, *_ in e2e + layers] + list(entry.WORKLOADS)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for _n, unit, *_ in e2e + layers:
        assert UNIT.fullmatch(unit), unit


@pytest.fixture
def tiny(monkeypatch):
    import wl_ingest
    import wl_serve

    cache = os.path.join(WORK_ROOT, "smoke-cache")
    monkeypatch.setattr(wl_serve, "CACHE_ROOT", cache)
    monkeypatch.setattr(wl_serve, "SERVE_DOCS", 400)
    monkeypatch.setattr(wl_ingest, "BASE_DOCS", 300)
    monkeypatch.setattr(wl_ingest, "BATCH_DOCS", 30)
    monkeypatch.setattr(wl_ingest, "READER_LOG", 3000)
    yield
    shutil.rmtree(cache, ignore_errors=True)


@pytest.mark.parametrize("workload", entry.WORKLOADS)
def test_workload_completes_without_errors(tiny, workload):
    for trace in (False, True):
        work = WorkDir(workload, 3)
        try:
            res = entry._run(workload, 3, 2.0, trace, work)
        finally:
            work.remove()
        assert res["failed"] == 0, res["mismatches"][:5]
        assert res["attempted"] > 0
        want = metrics.PER_LAYER if trace else metrics.END_TO_END
        got = entry._layers(res) if trace else res["e2e"]
        for name, *_ in want:
            assert name in got
        if not trace:
            assert all(v > 0 for v in res["e2e"].values()), res["e2e"]
        elif workload != "index_ingest":
            assert got["spark.jobs_per_query"] == 0
