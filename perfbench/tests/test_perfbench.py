"""Tests of the benchmark itself (no SparkSession needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import random
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, reference, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, Bench  # noqa: E402


def _bench(tmp_path, name="wratio_weekly", seed=5):
    b = Bench(WORKLOADS[name], seed, str(tmp_path), event_log=False)
    b.inputs = gen.generate(seed, b.w.shape)
    b.ref = reference.build(b.w.lane, b.inputs)
    return b


def test_generator_is_deterministic_per_seed(tmp_path):
    for w in WORKLOADS.values():
        a, b = gen.generate(7, w.shape), gen.generate(7, w.shape)
        assert a == b
        assert a != gen.generate(8, w.shape)
        assert len(a.payroll) == w.shape.payroll_rows
        assert [len(x) for x in a.postings] == [w.shape.postings_per_batch] * w.shape.batches
    x1, x2 = tmp_path / "a.xlsx", tmp_path / "b.xlsx"
    rows = gen.generate(7, WORKLOADS["delta_serve"].shape).lightcast
    gen.write_xlsx(str(x1), gen.LIGHTCAST_COLUMNS, rows)
    gen.write_xlsx(str(x2), gen.LIGHTCAST_COLUMNS, rows)
    assert x1.read_bytes() == x2.read_bytes()


def test_title_domain_is_distinct():
    for seed in range(5):
        assert len(set(gen.title_domain(random.Random(seed), 1000))) == 1000


def test_generator_carries_fixture_edge_cases():
    inp = gen.generate(3, WORKLOADS["delta_serve"].shape)
    posts = [p for batch in inp.postings for p in batch]
    assert any(p["posting_date"] == "not-a-date" for p in posts)
    assert any(p["post_until"] is None for p in posts)
    assert any(not p["posting_date"].endswith(".000") for p in posts
               if p["posting_date"] != "not-a-date")
    assert any(p["salary_range_from"] is None for p in posts)
    assert any(p["salary_range_from"] is not None and p["salary_range_to"] is not None
               and p["salary_range_from"] > p["salary_range_to"] for p in posts)
    titles = [r[1] for r in inp.payroll]
    assert None in titles and "" in titles
    assert any(r[2] is None for r in inp.payroll)
    assert {r[0] for r in inp.payroll} - {"2024", "2025"}


def test_fixed_domain_keeps_titles_across_seeds():
    shape = WORKLOADS["wratio_weekly"].shape
    a, b = gen.generate(1, shape), gen.generate(2, shape)
    assert {r[1] for r in a.payroll} == {r[1] for r in b.payroll}
    assert a.payroll != b.payroll


def test_reference_matches_exist(tmp_path):
    b = _bench(tmp_path)
    assert sum(b.ref.matches.values()) > 0
    assert sum(b.ref.gold["nyc_salary_matches"].values()) == sum(b.ref.matches.values())


def test_corrupted_outputs_count_as_failures(tmp_path):
    b = _bench(tmp_path)
    good = b.ref.gold_rows["nyc_salary_matches"]
    cols = reference.GOLD_COLUMNS["nyc_salary_matches"]
    page = [dict(zip(cols, r)) for r in good]
    assert b.page_ok(0, page)
    bad = [dict(p) for p in page]
    bad[0]["match_score"] = bad[0]["match_score"] - 1
    assert not b.page_ok(0, bad)
    assert not b.page_ok(0, page[1:])

    b.check_equal("matches", lambda: Counter(b.ref.matches), b.ref.matches)
    assert (b.attempted, b.failed) == (1, 0)
    corrupt = Counter(b.ref.matches)
    row = next(iter(corrupt))
    corrupt[row] += 1
    b.check_equal("matches", lambda: corrupt, b.ref.matches)
    b.check_equal("matches", lambda: 1 / 0, b.ref.matches)
    b.check("page", b.page_ok(0, bad))
    assert (b.attempted, b.failed) == (4, 3)
    assert b.failures == ["matches", "matches", "page"]


def test_dashboard_check(tmp_path):
    # the slider sits on dataset 2, the unique-title salary matches
    b = _bench(tmp_path)
    scores = [float(r[2]) for r in b.ref.gold_rows["nyc_salary_matches_unique_job_posting_title"]]
    bounds = (min(scores), max(scores))
    lo, hi = b.slider(2)
    assert bounds[0] < lo < hi == bounds[1]
    shown = [s for s in scores if lo <= s <= hi]
    want = {
        "bounds": bounds, "selected": (lo, hi),
        "rows_shown": len(shown), "rows_total": len(scores),
        "avg_score": round(sum(shown) / len(shown), 1) if shown else None,
    }
    assert b.dashboard_ok(lo, hi, want)
    assert not b.dashboard_ok(lo, hi, {**want, "rows_shown": len(shown) + 1})
    initial = {**want, "selected": bounds, "rows_shown": len(scores),
               "avg_score": round(sum(scores) / len(scores), 1)}
    assert b.dashboard_ok(None, None, initial)
    assert not b.dashboard_ok(None, None, want)


def test_page_order_puts_nulls_first():
    rows = [("b", 1.0), (None, 2.0), ("a", None), ("a", 0.5)]
    assert reference.page_order(rows) == [(None, 2.0), ("a", None), ("a", 0.5), ("b", 1.0)]


def test_layer_metrics_self_time_and_attribution():
    spans = [
        {"id": "r.0", "layer": "match", "start": 0.0, "end": 10.0, "parent": None},
        {"id": "r.1", "layer": "fuzzy", "start": 2.0, "end": 6.0, "parent": "r.0"},
    ]
    jobs = {
        1: trace.Job(1, "r.1", 3.0, 5.0, [10]),  # tagged by job group
        2: trace.Job(2, "stream-run", 7.0, 8.0, [11]),  # falls to the span by time
    }
    stages = {
        10: trace.Stage(10, 3.0, 5.0, True, tasks=2, run_s=3.0, cpu_s=1.0),
        11: trace.Stage(11, 7.0, 8.0, False, tasks=4, cpu_s=0.5, spill_bytes=7),
    }
    layers, extra = trace.layer_metrics(spans, jobs, stages)
    assert layers["match"]["s"] == 6.0 and layers["fuzzy"]["s"] == 4.0
    assert layers["fuzzy"]["driver_s"] == 2.0  # 4 s of span, 2 s under job 1
    assert layers["match"]["driver_s"] == 5.0  # 6 s of self time, 1 s under job 2
    assert layers["fuzzy"]["jobs"] == 1 and layers["match"]["tasks"] == 4
    assert layers["match"]["spill_bytes"] == 7
    assert extra["score_tasks"] == 2 and extra["score_run_s"] == 3.0
