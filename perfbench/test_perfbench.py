"""The benchmark's own tests: seeded inputs, ground truth, metric names
and the layer report. No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import re

from perfbench import gen
from perfbench.metrics import E2E, PER_LAYER
from perfbench.report import layer_table
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = [f"q{i}" for i in range(23)]


def test_same_seed_same_digest_other_seed_other_digest():
    assert gen.input_digest(7, NAMES) == gen.input_digest(7, NAMES)
    assert gen.input_digest(7, NAMES) != gen.input_digest(8, NAMES)


def test_pass_orders_are_permutations_and_seeded():
    orders = gen.pass_orders(3, NAMES, 5)
    assert all(sorted(o) == sorted(NAMES) for o in orders)
    assert len({tuple(o) for o in orders}) == 5
    assert orders == gen.pass_orders(3, NAMES, 5)


def test_malformed_share_is_exact():
    script = gen.LakeScript(11)
    rng = random.Random(0)
    books = [script._new_book(rng, 1000) for _ in range(40 * gen.MALFORMED_EVERY)]
    assert sum(not b.ok for b in books) == script.malformed_seen == 40


def test_ground_truth_matches_the_reference_split():
    from tscd_datalake_adapter_spark.lake.gutenberg import split_book

    script = gen.LakeScript(5)
    kinds = set()
    for i in range(6):
        c = script.cycle(i)
        books = c.bulk + [r[1] for r in c.requests if r[0] == "ingest"]
        for b in books:
            res = split_book(b.raw)
            assert res.ok == b.ok
            if b.ok:
                assert res.body == b.body
            kinds.add(b.kind)
            assert gen.MIN_BYTES // 2 <= len(b.raw) <= gen.MAX_BYTES + 1000
    assert "ok" in kinds and kinds & set(gen.MALFORMED_KINDS)


def test_cycle_work_does_not_depend_on_the_seed():
    def sizes(seed):
        c = gen.LakeScript(seed).cycle(0)
        books = c.bulk + [r[1] for r in c.requests if r[0] == "ingest"]
        return sorted(len(b.raw) for b in books)

    a, b = sizes(1), sizes(2)
    assert all(abs(x - y) < 200 for x, y in zip(a, b))
    assert a[-1] > 500_000 and a[0] < 2_000


def test_requests_carry_exact_expectations():
    script = gen.LakeScript(2)
    c0 = script.cycle(0)
    live = set(c0.live_after)
    c1 = script.cycle(1)
    for r in c1.requests:
        if r[0] == "status":
            _, bid, hit, _kind = r
            assert (bid in c1.live_after) == hit
        if r[0] == "list":
            assert set(r[1]) >= live
    assert set(c1.merge_ids) <= c1.live_after


def test_metric_names_and_benchmark_json_agree():
    pattern = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [n for n, *_ in E2E + PER_LAYER]
    assert all(pattern.match(n) for n in names)
    assert len(names) == len(set(names))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == list(E2E)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert any(m["name"] == "setup_s" and m["bound"] == max(b for *_, b in E2E) for m in bench["end_to_end"])


def test_layer_report_self_time_and_missing_layers():
    def span(i, name, start, end, parent=None, rnd=1, jobs=0):
        return {"id": i, "name": name, "layer": name.rsplit(".", 1)[0], "trace": "t",
                "parent": parent, "start": start, "end": end, "round": rnd,
                "attrs": {}, "counts": {"jobs": jobs}}

    doc = {
        "meta": {"rounds": 1, "config": {"workload": "analytics_sf01"}, "record": {}},
        "spans": [
            span(1, "operators.construct", 0.0, 1.0, jobs=2),
            span(2, "sources.tables.load", 0.2, 0.5, parent=1, jobs=1),
            span(3, "exec.execute", 1.0, 3.0, jobs=4),
        ],
    }
    rows, missing = layer_table(doc)
    by = {r["layer"]: r for r in rows}
    assert abs(by["operators"]["self_s"] - 0.7) < 1e-9
    assert by["scheduler"]["jobs"] == 7
    assert missing == ["catalyst"]


def test_jobs_per_call_use_timed_spans_except_table_opens():
    from perfbench.metrics import layer_metrics
    from perfbench.tracing import COUNTERS, Span

    def span(i, name, rnd, jobs):
        counts = dict.fromkeys(COUNTERS, 0)
        counts["jobs"] = jobs
        return Span(id=i, name=name, layer=name.rsplit(".", 1)[0], trace="t",
                    parent=None, start=0.0, end=1.0, round=rnd, counts=counts)

    spans = [
        span(1, "sources.tables.load", -1, 2),
        span(2, "lake.api.status", 0, 5),
        span(3, "lake.api.status", 1, 1),
        span(4, "lake.api.status", 1, 3),
    ]
    declared, _ = layer_metrics(spans, 1, {})
    assert declared["sources.tables.load_jobs"] == 2
    assert declared["lake.adapter.exists_jobs"] == 2
    assert declared["scheduler.jobs"] == 4
