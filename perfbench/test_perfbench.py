"""Tests of the benchmark's own logic (no SparkSession needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import workloads  # noqa: E402
from harness import Tracer, frames_match, percentile  # noqa: E402


def _corpus(seed: int = 5) -> list[str]:
    return datagen.doc_texts(np.random.default_rng(seed), 200)


def test_dashboard_block_is_seeded():
    a = workloads.dashboard_block(1)
    assert a == workloads.dashboard_block(1)
    assert a != workloads.dashboard_block(2)
    assert set(a) <= set(workloads.DASHBOARD_QUERIES)
    # Zipf skew: the top-ranked query is the most requested
    top = max(set(a), key=a.count)
    assert top == workloads.DASHBOARD_QUERIES[0]


def test_search_requests_are_seeded():
    texts = _corpus()

    def draw(seed: int) -> list:
        rng = np.random.default_rng(seed)
        return [workloads.search_request(rng, k, texts, 50) for k in workloads.SEARCH_KINDS * 10]

    assert draw(1) == draw(1)
    assert draw(1) != draw(2)
    for kind, args in draw(3):
        if kind == "neardup":
            assert workloads.jaccard3(args["text"], texts[args["source"]]) >= 0.8


def test_star_tables_are_seeded():
    a = datagen.star_tables(7, 0.001, n_docs=20, n_vecs=8)
    b = datagen.star_tables(7, 0.001, n_docs=20, n_vecs=8)
    c = datagen.star_tables(8, 0.001, n_docs=20, n_vecs=8)
    assert set(a) == set(datagen.STAR_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_disjoint_copies_never_bridge_copies():
    t = workloads.disjoint_copies(3, 3)
    docs = t["documents"].to_pandas()
    assert docs["doc_id"].is_unique
    vocab = [set(w.rsplit("_c", 1)[1] for w in s.split()) for s in docs["text"]]
    assert all(len(v) == 1 for v in vocab)  # every token salted with its copy
    li = t["lineitem"].to_pandas()
    n = len(li) // 3
    parts = [set(li["l_partkey"][i * n : (i + 1) * n]) for i in range(3)]
    assert not parts[0] & parts[1] and not parts[1] & parts[2]


def test_percentile_refuses_thin_tails():
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)
    assert percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.1)
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_wrong_result_counts_as_failed():
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    good = workloads.Request("r0", "q", {}, result=want.iloc[::-1].copy())
    bad = workloads.Request("r1", "q", {}, result=want.assign(v=[0.5, 9.0]))
    raised = workloads.Request("r2", "q", {}, error="RuntimeError: boom")
    reqs = [good, bad, raised]
    workloads.check_all(reqs, lambda r: frames_match(r.result, want))
    assert good.error is None and "row" in bad.error
    b = workloads.Bench("", 0, 1.0, Tracer(False))
    assert workloads.record_failures(b, reqs) == 2
    assert b.layer["failed_ratio"] == pytest.approx(2 / 3)
    assert [r[0] for r in b.layer["failed_requests"]] == ["r1", "r2"]


def test_probe_that_raises_is_a_failed_request():
    def broken():
        raise RuntimeError("index build failed")

    reqs = [workloads.Request("w0-q", "q", {})]
    reqs += workloads.probe("search-probe", broken)
    b = workloads.Bench("", 0, 1.0, Tracer(False))
    assert workloads.record_failures(b, reqs) == 1
    assert b.layer["failed_ratio"] == pytest.approx(1 / 2)


def test_frames_match_tolerates_row_order_and_sum_order_drift():
    a = pd.DataFrame({"x": ["a", "b"], "y": [1.0, 2.0]})
    b = pd.DataFrame({"y": [2.0 + 1e-13, 1.0], "x": ["b", "a"]})
    assert frames_match(a, b) is None
    assert "rows" in frames_match(a, b.iloc[:1])


def test_bm25_oracle_matches_a_direct_computation():
    import duckdb

    texts = ["spark join spark", "join a table", "table scan scan scan", "spark"]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": range(4), "text": texts}))
    got = con.execute(workloads.bm25_oracle_sql(["spark", "scan"], 20)).df()
    toks = [t.split() for t in texts]
    avgdl = sum(map(len, toks)) / len(toks)
    want = {}
    for term in ("spark", "scan"):
        df = sum(term in t for t in toks)
        idf = np.log(1 + (len(toks) - df + 0.5) / (df + 0.5))
        for d, t in enumerate(toks):
            tf = t.count(term)
            if tf:
                want[d] = want.get(d, 0.0) + idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
    assert dict(zip(got["doc_id"], got["bm25_r4"])) == {d: round(v, 4) for d, v in want.items()}


def test_tracer_self_time_and_disabled_cost():
    t = Tracer(True)
    with t.span("request", "r1"):
        with t.span("plans.call"):
            time.sleep(0.02)
        time.sleep(0.01)
    self_t = t.self_times()
    assert self_t["plans.call"] >= 0.02
    assert 0.005 <= self_t["request"] < 0.02
    assert all(s.request == "r1" for s in t.spans)
    off = Tracer(False)
    with off.span("request"):
        pass
    assert off.spans == [] and off.totals() == {}


def test_dashboard_block_holds_the_zipf_counts():
    counts = workloads.zipf_block(len(workloads.DASHBOARD_QUERIES), workloads.DASHBOARD_BLOCK)
    assert sum(counts) == workloads.DASHBOARD_BLOCK
    assert counts == sorted(counts, reverse=True) and min(counts) >= 1
    block = workloads.dashboard_block(4)
    assert [block.count(q) for q in workloads.DASHBOARD_QUERIES] == counts


@pytest.mark.parametrize("seconds", [0.0, 0.05])
def test_window_sends_whole_units(seconds):
    b = workloads.Bench("", 0, seconds, Tracer(False))
    unit = ["a", "b", "a"]
    reqs, elapsed = workloads.run_window(b, unit, lambda req: time.sleep(0.01))
    units = len(reqs) // len(unit)
    assert [r.kind for r in reqs] == unit * units
    assert len({r.rid for r in reqs}) == len(reqs)
    # at least one unit, and units repeat until the window has closed
    assert units >= 1 and elapsed >= seconds
    if seconds == 0.0:
        assert units == 1
