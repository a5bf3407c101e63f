"""Percentiles, span self times, and the shape of BENCHMARK.json."""

import json
import os
import threading
import time

import pytest

from perfbench import host, layers
from perfbench.trace import Tracer
from perfbench.workloads import MIN_SAMPLES, WORKLOADS, pct, samples_beyond

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


def test_percentile_rule():
    # p99 of MIN_SAMPLES samples has at least ten samples beyond it
    assert samples_beyond(MIN_SAMPLES, 99) >= 10
    assert samples_beyond(999, 99) < 10
    v = list(range(1, 1001))
    assert pct(v, 50) == 500 and pct(v, 99) == 990
    assert sum(x > pct(v, 99) for x in v) == samples_beyond(len(v), 99)


def test_host_gauge_scales_to_the_reference_speed():
    g = host.Gauge()
    g.kernel_ms = [host.REF_MS * 2] * 3  # a host at half the reference speed
    g.stop()
    assert 0.0 <= g.steal < 1.0
    assert g.factor == pytest.approx((1.0 - g.steal) * 0.5)
    with host.sampled(0.01) as s:
        time.sleep(0.05)
    assert len(s.kernel_ms) >= 2
    assert not any(t.name == "host-gauge" for t in threading.enumerate())


def test_self_time_excludes_children():
    tr = Tracer()
    with tr.span("serving.search"):
        with tr.span("query.engine.search"):
            with tr.span("query.wand.score"):
                pass
    tot = tr.totals()
    s, e, w = (tot[n] for n in ("serving.search", "query.engine.search",
                                "query.wand.score"))
    assert s["calls"] == e["calls"] == w["calls"] == 1
    assert abs(s["self_s"] - (s["total_s"] - e["total_s"])) < 1e-9
    assert abs(e["self_s"] - (e["total_s"] - w["total_s"])) < 1e-9
    reqs = {sp[4] for sp in tr.spans}
    assert len(reqs) == 1  # one request id for the whole call tree
    layer = layers.self_times(tot)
    assert layer["trace.self_s.serving"] == pytest.approx(s["self_s"])


def test_install_and_uninstall_restore_the_package():
    from baram_spark import serving
    from baram_spark.index import fs
    from baram_spark.query import wand

    before = (serving.ServingContext.search, fs.commit_lock,
              wand.TermPostings.__init__, serving.highlight)
    tr = Tracer()
    tr.install()
    assert serving.ServingContext.search is not before[0]
    tr.uninstall()
    assert (serving.ServingContext.search, fs.commit_lock,
            wand.TermPostings.__init__, serving.highlight) == before


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])
    e2e = {m["name"]: m for m in doc["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
