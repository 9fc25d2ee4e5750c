"""Independent reference outputs for the benchmark's correctness checks.

Computed once per seed from the generated inputs, never from the
program's outputs:

- title pairs on the WRatio lane: brute force over ALL distinct title
  pairs with the package's published pure-Python scorers (no blocking);
- title pairs on the tokensort lane: DuckDB SQL in the shape of the
  repo's oracle queries (token equi-join, token-sorted levenshtein
  similarity);
- everything after the pairs (prep, re-attach, salary band, top-N,
  durations join, the four GOLD tables) in plain Python.

Each output table is a ``collections.Counter`` of row tuples in the
program's column order, so a check is one multiset comparison.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass

from nyc_government_hiring_audit_data_platform_spark.operators.fuzzy import (
    token_set_ratio,
    wratio,
)

from perfbench import gen

MATCH_COLUMNS = [
    "business_title", "salary_range_from", "salary_range_to", "posting_date",
    "post_until", "title_description", "base_salary", "pay_basis",
    "regular_gross_paid", "total_ot_paid", "total_other_pay", "score", "post_id",
]
DURATION_COLUMNS = [
    "business_title", "lightcast_matched_occupation", "lightcast_match_score",
    "Total Postings (Jan 2024 - Jun 2025)", "Median Posting Duration",
]
GOLD_COLUMNS = {
    "nyc_salary_matches": [
        "posted_job_title", "posted_salary_range_from", "posted_salary_range_to",
        "posting_date", "post_until", "posting_duration_days", "payroll_job_title",
        "base_salary", "pay_basis", "regular_gross_paid", "total_ot_paid",
        "total_other_pay", "match_score",
    ],
    "nyc_matched_job_posting_duration_SOC": [
        "title", "lightcast_matched_occupation", "total_postings",
        "median_posting_duration",
    ],
    "nyc_salary_matches_unique_job_posting_title": [
        "posted_job_title", "payroll_job_title", "match_score",
        "posted_salary_range_from", "posted_salary_range_to", "base_salary",
        "posting_duration_days", "regular_gross_paid", "total_ot_paid",
        "total_other_pay",
    ],
    "nyc_matched_job_posting_duration_SOC_unique_title": [
        "title", "lightcast_matched_occupation", "total_postings",
        "median_posting_duration",
    ],
}

_PUNCT = re.compile(r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]""")
_SPACES = re.compile(r"\s+")
_MONTHS = {m: i for i, m in enumerate(gen.MONTHS, start=1)}


def normalize(s: str | None) -> str:
    return _SPACES.sub(" ", _PUNCT.sub("", (s or "").lower())).strip()


def round_half_up(x: float) -> int:
    return int(math.floor(x + 0.5))


@dataclass
class Lane:
    """One scorer configuration of the weekly chain."""

    name: str  # "wratio" or "tokensort"
    salary_cutoffs: tuple[int, int]
    duration_cutoffs: tuple[int, int]
    limit: int | None


@dataclass
class Reference:
    matches: Counter
    durations: Counter
    gold: dict[str, Counter]
    gold_rows: dict[str, list[tuple]]  # the same rows, in page order
    ts_scores: dict[tuple[str, str], int]  # WRatio lane: prefilter score per pair


# -- title pairs --------------------------------------------------------------


def wratio_pairs(left: set[str], right: set[str], pre: int, cut: int, ts_out=None):
    """Every (left, right) raw-title pair passing token_set_ratio >= pre
    then WRatio >= cut, scored on normalized titles; no blocking."""
    ln = {t: normalize(t) for t in left}
    rn = {t: normalize(t) for t in right}
    out = {}
    for a in left:
        for b in right:
            ts = int(round(token_set_ratio(ln[a], rn[b])))
            if ts_out is not None:
                ts_out[(a, b)] = ts
            if ts < pre:
                continue
            w = wratio(ln[a], rn[b])
            if w >= cut:
                out[(a, b)] = round_half_up(w)
    return out


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(coalesce({x}, '')), "
    "'[!\"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{{|}}~]', '', 'g'), '\\s+', ' ', 'g'))"
)
_KEY_SQL = (
    "array_to_string(list_sort(list_filter(string_split(" + _NORM_SQL
    + ", ' '), t -> t <> '')), ' ')"
)
_SIM_SQL = (
    "CASE WHEN greatest(length({a}), length({b})) = 0 THEN 100.0 ELSE "
    "100.0 * (1.0 - levenshtein({a}, {b}) / greatest(length({a}), length({b}))) END"
)


def tokensort_pairs(left: set[str], right: set[str], min_shared: int, cut: int):
    """Token-blocked token-sort levenshtein pairs, in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE l AS SELECT unnest(?::VARCHAR[]) AS t", [sorted(left)])
        con.execute("CREATE TABLE r AS SELECT unnest(?::VARCHAR[]) AS t", [sorted(right)])
        sql = f"""
        WITH lk AS (SELECT t, {_KEY_SQL.format(x='t')} AS k FROM l),
             rk AS (SELECT t, {_KEY_SQL.format(x='t')} AS k FROM r),
             ltok AS (SELECT t, k, unnest(list_distinct(string_split(k, ' '))) AS tok
                      FROM lk),
             rtok AS (SELECT t, k, unnest(list_distinct(string_split(k, ' '))) AS tok
                      FROM rk),
             cand AS (SELECT ltok.t AS lt, ltok.k AS lkey, rtok.t AS rt, rtok.k AS rkey
                      FROM ltok JOIN rtok ON ltok.tok = rtok.tok AND ltok.tok <> ''
                      GROUP BY ltok.t, ltok.k, rtok.t, rtok.k
                      HAVING count(*) >= {min_shared})
        SELECT lt, rt, CAST(ROUND({_SIM_SQL.format(a='lkey', b='rkey')}) AS INT)
        FROM cand WHERE {_SIM_SQL.format(a='lkey', b='rkey')} >= {cut}
        """
        return {(a, b): s for a, b, s in con.execute(sql).fetchall()}
    finally:
        con.close()


def lane_pairs(lane: Lane, left, right, cutoffs, ts_out=None):
    pre, cut = cutoffs
    if lane.name == "wratio":
        return wratio_pairs(left, right, pre, cut, ts_out)
    return tokensort_pairs(left, right, pre, cut)


# -- prep, re-attach, GOLD ----------------------------------------------------


def _parse_posting(s: str | None) -> dt.datetime | None:
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S"):
        try:
            if fmt.endswith("%f") and (s is None or len(s.rsplit(".", 1)[-1]) != 3):
                continue
            return dt.datetime.strptime(s, fmt)
        except (TypeError, ValueError):
            continue
    return None


def _fmt_until(d: dt.date) -> str:
    return f"{d.day:02d}-{gen.MONTHS[d.month - 1]}-{d.year}"


def _parse_until(s: str | None) -> dt.date | None:
    try:
        day, mon, year = s.split("-")
        return dt.date(int(year), _MONTHS[mon.upper()], int(day))
    except (AttributeError, KeyError, ValueError):
        return None


def prep_postings(rows: list[dict]) -> list[dict]:
    out = []
    for r in rows:
        ts = _parse_posting(r["posting_date"])
        if ts is None:
            continue
        until = r["post_until"] or _fmt_until(ts.date() + dt.timedelta(days=30))
        out.append({**r, "posting_date": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                    "post_until": until})
    return out


def prep_payroll(rows: list[tuple], year_start=2024, year_end=2025) -> list[tuple]:
    return [r for r in rows if year_start <= int(r[0]) <= year_end]


def duration_days(post_until: str | None, posting_date: str) -> int | None:
    end = _parse_until(post_until)
    start = _parse_posting(posting_date)
    if end is None or start is None:
        return None
    return (end - start.date()).days


def _band_ok(base, lo, hi) -> bool:
    return base is not None and lo is not None and hi is not None and lo <= base <= hi


def _asc_key(v):
    """Spark's ascending order: nulls first."""
    return (v is not None, v)


def page_order(rows: list[tuple]) -> list[tuple]:
    """Rows in ``serving.reports.fetch_report``'s default order: every
    column ascending, nulls first."""
    return sorted(rows, key=lambda r: tuple(_asc_key(v) for v in r))


def matches(pairs, postings: list[dict], payroll: list[tuple], limit):
    """Re-attach rows to scored title pairs, band filter, per-posting
    top-N; rows in MATCH_COLUMNS order."""
    by_post_title = defaultdict(list)
    for p in postings:
        by_post_title[p["business_title"]].append(p)
    by_pay_title = defaultdict(list)
    for r in payroll:
        by_pay_title[r[1]].append(r)
    per_post = defaultdict(list)
    for (lt, rt), score in pairs.items():
        for p in by_post_title.get(lt, ()):
            for r in by_pay_title.get(rt, ()):
                if _band_ok(r[2], p["salary_range_from"], p["salary_range_to"]):
                    per_post[p["post_id"]].append((p, r, score))
    out = []
    for cands in per_post.values():
        if limit is not None:
            cands.sort(key=lambda c: (-c[2], _asc_key(c[1][1]), _asc_key(c[1][2]),
                                      _asc_key(c[1][3]), _asc_key(c[1][4]),
                                      _asc_key(c[1][5]), _asc_key(c[1][6])))
            cands = cands[:limit]
        for p, r, score in cands:
            out.append((
                p["business_title"], p["salary_range_from"], p["salary_range_to"],
                p["posting_date"], p["post_until"], r[1], r[2], r[3], r[4], r[5],
                r[6], score, p["post_id"],
            ))
    return out


def _max(vals):
    vals = [v for v in vals if v is not None]
    return max(vals) if vals else None


def gold_tables(match_rows: list[tuple], duration_rows: list[tuple]) -> dict:
    salary = [
        (m[0], m[1], m[2], m[3], m[4], duration_days(m[4], m[3]), m[5], m[6], m[7],
         m[8], m[9], m[10], m[11])
        for m in match_rows
    ]
    by_title = defaultdict(list)
    for s in salary:
        by_title[s[0]].append(s)
    unique = [
        (t, _max(r[6] for r in rs), _max(r[12] for r in rs), _max(r[1] for r in rs),
         _max(r[2] for r in rs), _max(r[7] for r in rs), _max(r[5] for r in rs),
         _max(r[9] for r in rs), _max(r[10] for r in rs), _max(r[11] for r in rs))
        for t, rs in by_title.items()
    ]
    durations = [(d[0], d[1], d[3], d[4]) for d in duration_rows]
    return {
        "nyc_salary_matches": salary,
        "nyc_matched_job_posting_duration_SOC": durations,
        "nyc_salary_matches_unique_job_posting_title": unique,
        "nyc_matched_job_posting_duration_SOC_unique_title": list(set(durations)),
    }


def build(lane: Lane, inputs: gen.Inputs) -> Reference:
    """The full weekly chain's expected outputs for ``inputs``."""
    payroll = prep_payroll(inputs.payroll)
    postings = prep_postings([p for batch in inputs.postings for p in batch])
    left = {p["business_title"] for p in postings if p["business_title"] is not None}
    right = {r[1] for r in payroll if r[1] is not None}
    ts_scores: dict = {}
    pairs = lane_pairs(lane, left, right, lane.salary_cutoffs, ts_scores)
    match_rows = matches(pairs, postings, payroll, lane.limit)
    titles = {m[0] for m in match_rows}
    occs = {row[0] for row in inputs.lightcast if row[0] is not None}
    dpairs = lane_pairs(lane, titles, occs, lane.duration_cutoffs)
    duration_rows = [
        (t, occ, score, row[1], row[2])
        for (t, occ), score in dpairs.items()
        for row in inputs.lightcast
        if row[0] == occ
    ]
    gold = gold_tables(match_rows, duration_rows)
    return Reference(
        matches=Counter(match_rows),
        durations=Counter(duration_rows),
        gold={k: Counter(v) for k, v in gold.items()},
        gold_rows={k: page_order(v) for k, v in gold.items()},
        ts_scores=ts_scores,
    )
