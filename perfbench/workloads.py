"""The three workloads of the weekly hiring-audit run.

``Bench`` owns one SparkSession and one scratch root for a workload and
seed. ``setup`` lands the generated inputs through the program's own
sources; ``run`` is one complete weekly run; ``serve`` is the closed
loop of report pages and dashboard views against the published GOLD
tables. Every output is checked against ``reference``; a failed or
wrong operation counts in ``failed``.

All Spark state (warehouse, local dirs, event log, index, matches,
checkpoints) sits under the scratch root, and every run starts from the
on-disk state that ``setup`` left.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_government_hiring_audit_data_platform_spark.functions.dates import (
    parse_posting_ts,
)
from nyc_government_hiring_audit_data_platform_spark.operators import fuzzy as FZ
from nyc_government_hiring_audit_data_platform_spark.pipelines import catalog as CAT
from nyc_government_hiring_audit_data_platform_spark.pipelines import (
    hiring_audit as HA,
)
from nyc_government_hiring_audit_data_platform_spark.serving import reports as SR
from nyc_government_hiring_audit_data_platform_spark.session import get_spark
from nyc_government_hiring_audit_data_platform_spark.sources import files as SF
from nyc_government_hiring_audit_data_platform_spark.sources import (
    paginated_api as PA,
)

from perfbench import gen, reference
from perfbench.trace import NullTracer
from perfbench.transport import feed_url

TRANSPORT = "perfbench.transport:postings_page"
# The serving traffic follows the reference's two clients (SURVEY.md
# EP4). Its API answers GET /reports/{id} with offset 0 and limit
# 750,000 unless the caller asks otherwise (api/main.py). Its dashboard
# loads datasets 2 and 3 with that window and puts its score slider on
# dataset 2 (streamlit/app.py:29-112). No traffic log says how often
# each client calls, so one cycle gives each a turn: a dashboard
# session (load 2 and 3, then one view; every other session the slider
# has been moved off its initial bounds), then direct API calls for
# reports 0 and 1.
API_WINDOW = (0, 750_000)
DASHBOARD_DATASET = 2
SERVE_CYCLE = [("page", 2), ("page", 3), ("dashboard", None), ("page", 0), ("page", 1)]
LINEAGE = ["_source_file", "_ingestion_timestamp", "_record_id"]
BRONZE_SOURCES = {
    "nyc_payroll_data": "nyc_payroll_data.parquet",
    "nyc_job_postings_data": "nyc_job_postings_data.json",
    "lightcast_top_posted_occupations_soc": "lightcast_top_posted_occupations_SOC.xlsx",
}
MATCHES_TABLE = "payroll_to_jobs_title_fuzzy_matches"
DURATIONS_TABLE = "jobs_to_lightcast_title_fuzzy_matches"
GOLD_NAMES = list(reference.GOLD_COLUMNS)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "weekly" or "delta"
    lane: reference.Lane
    shape: gen.Shape


WORKLOADS = {
    w.name: w
    for w in [
        # the paper's WRatio scorer: Python scoring in fuzzy is the
        # largest layer. ~770 key-join rows at ~3 ms each is what fits a
        # run; at that size a seed-drawn title domain moves the scoring
        # work by 10-50 %, so the domain is fixed and the seed varies rows
        Workload(
            "wratio_weekly", "weekly", reference.Lane("wratio", (85, 85), (75, 75), None),
            gen.Shape(payroll_titles=25, payroll_rows=50, posting_titles=12,
                      postings_per_batch=48, batches=1, lightcast_rows=10,
                      row_skew=0.5, domain_seed=11),
        ),
        # weekly batches probe the persisted index on the JVM tokensort
        # lane (no Python scorer), then GOLD refresh and serving: the
        # only workload where index, ingest and a Zipf row tail matter
        Workload(
            "delta_serve", "delta", reference.Lane("tokensort", (1, 85), (1, 75), 3),
            gen.Shape(payroll_titles=4000, payroll_rows=100_000, posting_titles=100,
                      postings_per_batch=100, batches=2, lightcast_rows=100,
                      row_skew=0.8),
        ),
    ]
}


def _counter(df: DataFrame) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _page_tuples(rows: list[dict], columns: list[str]) -> list[tuple]:
    return [tuple(r[c] for c in columns) for r in rows]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            fp = os.path.join(dirpath, n)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def dir_files(path: str) -> int:
    return sum(len(names) for _, _, names in os.walk(path))


class Bench:
    """One workload on one seed, in one SparkSession."""

    def __init__(self, workload: Workload, seed: int, root: str, event_log: bool):
        self.w = workload
        self.seed = seed
        self.root = root
        self.event_log_dir = os.path.join(root, "eventlog") if event_log else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.ref: reference.Reference | None = None
        self.cpu_clock = None  # set to a CPU-seconds clock to time runs in CPU too

    # -- bookkeeping ----------------------------------------------------------

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)
            print(f"CHECK FAILED: {name}", file=sys.stderr)

    def guarded(self, name: str, fn, *args):
        """Run one operation; an exception counts it as failed."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the benchmark keeps measuring
            traceback.print_exc(file=sys.stderr)
            self.check(name, False)
            return None

    # -- session and set-up ---------------------------------------------------

    def start_session(self, tracer) -> None:
        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.root, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.local.dir": os.path.join(self.root, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with tracer.span("session"):
            self.spark = get_spark(
                app_name=f"perfbench_{self.w.name}", cpus=cpus,
                driver_memory="1g", extra_conf=conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        if hasattr(tracer, "spark"):
            tracer.spark = self.spark

    def land(self, rep: int, tracer) -> None:
        """Generate this seed's inputs and land them: payroll as Parquet
        through ``sources.files``, each postings batch as the API feed's
        JSON, Lightcast as XLSX; on ``delta`` also build and persist the
        bucketed payroll-title index."""
        self.inputs = gen.generate(self.seed, self.w.shape)
        d = os.path.join(self.root, f"land{rep}")
        os.makedirs(d)
        self.payroll_path = os.path.join(d, "payroll")
        self.feed_paths = []
        with tracer.span("sources"):
            payroll = self.spark.createDataFrame(
                pd.DataFrame(self.inputs.payroll, columns=gen.PAYROLL_COLUMNS),
                gen.PAYROLL_SCHEMA,
            )
            SF.write_object_store(payroll, self.payroll_path)
            for k, batch in enumerate(self.inputs.postings):
                p = os.path.join(d, f"postings_b{k}.json")
                with open(p, "w") as f:
                    json.dump(batch, f)
                self.feed_paths.append(p)
            self.xlsx_path = os.path.join(d, "lightcast.xlsx")
            gen.write_xlsx(self.xlsx_path, gen.LIGHTCAST_COLUMNS, self.inputs.lightcast)
        if self.w.kind == "delta":
            self.index_dir = os.path.join(d, "index")
            with tracer.span("index"):
                pay = SF.read_table(self.spark, self.payroll_path)
                FZ.write_title_index(
                    HA.build_payroll_title_index(pay), self.index_dir,
                    index_format="bucketed",
                )

    def setup(self, tracer, reps: int) -> float:
        """Session start plus the median of ``reps`` landings; returns
        set-up seconds."""
        t0 = time.perf_counter()
        self.start_session(tracer)
        session_s = time.perf_counter() - t0
        lands = []
        for rep in range(reps):
            t = time.perf_counter()
            self.land(rep, tracer)
            lands.append(time.perf_counter() - t)
        self.ref = reference.build(self.w.lane, self.inputs)
        if self.w.kind == "delta":
            self.lightcast = SF.read_xlsx(self.spark, self.xlsx_path)
            self.payroll = SF.read_table(self.spark, self.payroll_path)
        return session_s + statistics.median(lands)

    # -- one weekly run -------------------------------------------------------

    def _reset(self) -> None:
        for ns in (CAT.BRONZE, CAT.GOLD):
            self.spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
        if self.w.kind == "delta":
            self.delta_dir = os.path.join(self.root, "delta")
            shutil.rmtree(self.delta_dir, ignore_errors=True)
            os.makedirs(os.path.join(self.delta_dir, "stream"))

    def _join_fn(self):
        return FZ.fuzzy_join if self.w.lane.name == "wratio" else FZ.fuzzy_join_tokensort

    def _weekly(self, tr, batch_times: list[float]) -> list[dict]:
        spark, lane = self.spark, self.w.lane
        with tr.span("sources"):
            srcs = {
                "nyc_payroll_data": SF.read_table(spark, self.payroll_path),
                "nyc_job_postings_data": PA.read_paginated_api(
                    spark, feed_url(self.feed_paths[0]), gen.POSTINGS_SCHEMA,
                    TRANSPORT, page_size=max(1, self.w.shape.postings_per_batch // 4),
                    total_rows=self.w.shape.postings_per_batch,
                ),
                "lightcast_top_posted_occupations_soc": SF.read_xlsx(spark, self.xlsx_path),
            }
            srcs = {k: tr.materialize(v) for k, v in srcs.items()}
        with tr.span("bronze"):
            CAT.ensure_namespaces(spark)
            for name, df in srcs.items():
                CAT.save_table(HA.register_bronze(df, BRONZE_SOURCES[name]), CAT.BRONZE, name)
        bronze = {
            n: CAT.read_table(spark, CAT.BRONZE, n).drop(*LINEAGE) for n in BRONZE_SOURCES
        }
        t = time.perf_counter()
        with tr.span("match"):
            m = HA.fuzzy_match_salary(
                bronze["nyc_payroll_data"], bronze["nyc_job_postings_data"],
                prefilter_cutoff=lane.salary_cutoffs[0], score_cutoff=lane.salary_cutoffs[1],
                limit=lane.limit, row_key="post_id",
                join_fn=tr.materializing(self._join_fn(), key="joined"),
            )
            CAT.save_table(m, CAT.BRONZE, MATCHES_TABLE)
        batch_times.append(time.perf_counter() - t)
        matches = CAT.read_table(spark, CAT.BRONZE, MATCHES_TABLE)
        with tr.span("durations"):
            d = HA.fuzzy_match_durations(
                matches, bronze["lightcast_top_posted_occupations_soc"],
                prefilter_cutoff=lane.duration_cutoffs[0],
                score_cutoff=lane.duration_cutoffs[1], join_fn=self._join_fn(),
            )
            CAT.save_table(d, CAT.BRONZE, DURATIONS_TABLE)
        self._publish_gold(tr, matches, CAT.read_table(spark, CAT.BRONZE, DURATIONS_TABLE))
        with tr.span("serving"):
            self._register_serving()
            return SR.fetch_report(0, *API_WINDOW)

    def _publish_gold(self, tr, matches: DataFrame, durations: DataFrame) -> None:
        with tr.span("gold"):
            CAT.publish_gold(self.spark, {
                "nyc_salary_matches": HA.gold_salary_matches(matches),
                "nyc_matched_job_posting_duration_SOC": HA.gold_durations(durations),
                "nyc_salary_matches_unique_job_posting_title":
                    HA.gold_salary_matches_unique(matches),
                "nyc_matched_job_posting_duration_SOC_unique_title":
                    HA.gold_durations_unique(durations),
            })

    def _register_serving(self) -> None:
        self.gold_tables = {
            n: CAT.read_table(self.spark, CAT.GOLD, n) for n in GOLD_NAMES
        }
        SR.register_gold_tables(self.gold_tables)

    def _delta(self, tr, batch_times: list[float]) -> None:
        spark, lane = self.spark, self.w.lane
        stream_dir = os.path.join(self.delta_dir, "stream")
        self.matches_dir = os.path.join(self.delta_dir, "matches")
        for k, feed in enumerate(self.feed_paths):
            with tr.span("sources"):
                batch = PA.read_paginated_api(
                    spark, feed_url(feed), gen.POSTINGS_SCHEMA, TRANSPORT,
                    page_size=max(1, self.w.shape.postings_per_batch // 2),
                    total_rows=self.w.shape.postings_per_batch,
                )
                staging = os.path.join(self.delta_dir, f"staging{k}")
                SF.write_object_store(batch, staging)
                for f in os.listdir(staging):
                    if f.endswith(".parquet"):
                        os.replace(os.path.join(staging, f), os.path.join(stream_dir, f"b{k}-{f}"))
            t = time.perf_counter()
            with tr.span("ingest"):
                HA.run_fuzzy_match_ingest(
                    spark.readStream.schema(gen.POSTINGS_SCHEMA).parquet(stream_dir),
                    self.payroll, self.index_dir, self.matches_dir,
                    os.path.join(self.delta_dir, "checkpoint"),
                    prefilter_cutoff=lane.salary_cutoffs[0],
                    score_cutoff=lane.salary_cutoffs[1], limit=lane.limit,
                    row_key="post_id",
                )
            batch_times.append(time.perf_counter() - t)
        matches = HA.read_ingested_matches(spark, self.matches_dir)
        with tr.span("durations"):
            CAT.ensure_namespaces(spark)
            d = HA.fuzzy_match_durations(
                matches, self.lightcast, prefilter_cutoff=lane.duration_cutoffs[0],
                score_cutoff=lane.duration_cutoffs[1], join_fn=self._join_fn(),
            )
            CAT.save_table(d, CAT.BRONZE, DURATIONS_TABLE)
        self._publish_gold(tr, matches, CAT.read_table(spark, CAT.BRONZE, DURATIONS_TABLE))
        with tr.span("serving"):
            self._register_serving()

    def run(self, tr=None) -> tuple[float, list[float], float] | None:
        """One complete run, timed, then its output checks (untimed).
        Returns (run seconds, per-batch seconds, run CPU seconds or 0
        without ``cpu_clock``) or None on failure."""
        tr = tr or NullTracer()
        self._reset()
        batch_times: list[float] = []
        cpu0 = self.cpu_clock() if self.cpu_clock else 0.0
        t0 = time.perf_counter()
        try:
            if self.w.kind == "weekly":
                page = self._weekly(tr, batch_times)
            else:
                self._delta(tr, batch_times)
                page = None
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.check("run", False)
            return None
        elapsed = time.perf_counter() - t0
        cpu = self.cpu_clock() - cpu0 if self.cpu_clock else 0.0
        self.check("run", True)
        self.check_outputs(page)
        return elapsed, batch_times, cpu

    # -- output checks --------------------------------------------------------

    def check_equal(self, name: str, got_fn, want) -> None:
        """One output check: ``got_fn()`` must equal ``want``."""
        try:
            ok = got_fn() == want
        except Exception:  # noqa: BLE001 - a crashed check is a failed check
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.check(name, ok)

    def check_outputs(self, page) -> None:
        ref, spark = self.ref, self.spark
        if self.w.kind == "weekly":
            matches = lambda: CAT.read_table(spark, CAT.BRONZE, MATCHES_TABLE)  # noqa: E731
        else:
            matches = lambda: HA.read_ingested_matches(spark, self.matches_dir)  # noqa: E731
        self.check_equal(
            "matches", lambda: _counter(matches().select(*reference.MATCH_COLUMNS)),
            ref.matches,
        )
        self.check_equal("durations", lambda: _counter(
            CAT.read_table(spark, CAT.BRONZE, DURATIONS_TABLE)
            .select(*reference.DURATION_COLUMNS)), ref.durations)
        for name, cols in reference.GOLD_COLUMNS.items():
            self.check_equal(
                f"gold.{name}",
                lambda n=name, c=cols: _counter(self.gold_tables[n].select(*c)),
                ref.gold[name],
            )
        if page is not None:
            self.check("page", self.page_ok(0, page))

    def page_ok(self, dataset: int, rows: list[dict]) -> bool:
        """A served report equals the same window of the reference
        table in ``fetch_report``'s order."""
        name = GOLD_NAMES[dataset]
        offset, limit = API_WINDOW
        want = self.ref.gold_rows[name][offset: offset + limit]
        return _page_tuples(rows, reference.GOLD_COLUMNS[name]) == want

    def _slider_scores(self) -> list:
        name = GOLD_NAMES[DASHBOARD_DATASET]
        col = reference.GOLD_COLUMNS[name].index("match_score")
        return [r[col] for r in self.ref.gold_rows[name]]

    def slider(self, move: int) -> tuple[float, float]:
        """The slider range after a move: the lower handle steps through
        one to four fifths of the score range, the upper stays at the
        top."""
        present = [float(s) for s in self._slider_scores() if s is not None]
        lo, hi = min(present), max(present)
        return lo + (1 + move % 4) * (hi - lo) / 5, hi

    def dashboard_ok(self, lo: float | None, hi: float | None, got: dict) -> bool:
        scores = self._slider_scores()
        present = [float(s) for s in scores if s is not None]
        bounds = (min(present), max(present)) if present else (None, None)
        lo = bounds[0] if lo is None else lo
        hi = bounds[1] if hi is None else hi
        shown = [s for s in present if lo <= s <= hi]
        want = {
            "bounds": bounds,
            "selected": (lo, hi),
            "rows_shown": len(shown),
            "rows_total": len(scores),
            "avg_score": round(sum(shown) / len(shown), 1) if shown else None,
        }
        return got == want

    # -- serving loop ---------------------------------------------------------

    def serve(
        self, n_requests: int, tr=None, first: int = 0
    ) -> tuple[list[float], list[float], int]:
        """Closed loop, one client, repeating ``SERVE_CYCLE``: report
        fetches with the reference API's default window and dashboard
        views over dataset 2, at the slider's initial bounds in even
        cycles and with a moved slider in odd ones. ``first`` continues the request
        sequence of an earlier call. Returns page latencies (s),
        dashboard latencies (s) and rows returned."""
        tr = tr or NullTracer()
        pages, dashes, returned = [], [], 0
        table = self.gold_tables[GOLD_NAMES[DASHBOARD_DATASET]]
        for i in range(first, first + n_requests):
            kind, arg = SERVE_CYCLE[i % len(SERVE_CYCLE)]
            if kind == "dashboard":
                cycle = i // len(SERVE_CYCLE)
                lo, hi = self.slider(cycle // 2) if cycle % 2 else (None, None)
                t = time.perf_counter()
                with tr.span("serving"):
                    got = self.guarded("dashboard", SR.dashboard_view, table, lo, hi)
                dashes.append(time.perf_counter() - t)
                if got is not None:
                    self.check("dashboard", self.dashboard_ok(lo, hi, got))
                continue
            t = time.perf_counter()
            with tr.span("serving"):
                rows = self.guarded("page", SR.fetch_report, arg, *API_WINDOW)
            pages.append(time.perf_counter() - t)
            if rows is not None:
                returned += len(rows)
                self.check("page", self.page_ok(arg, rows))
        return pages, dashes, returned

    def stored_bytes(self) -> int:
        paths = [os.path.join(self.root, "warehouse")]
        if self.w.kind == "delta":
            paths += [self.index_dir, self.matches_dir]
        return sum(dir_bytes(p) for p in paths if os.path.isdir(p))

    # -- traced-run counts (outside every span) -------------------------------

    def funnel(self, tracer) -> dict[str, tuple[float, str]]:
        """Row counts of the fuzzy funnel and the match stages, rebuilt
        from the public index builders and the materialized layer
        outputs, plus GOLD, index and ingest-sink sizes."""
        spark, lane = self.spark, self.w.lane
        pre, cut = lane.salary_cutoffs
        pay = CAT.read_table(spark, CAT.BRONZE, "nyc_payroll_data").drop(*LINEAGE) \
            if self.w.kind == "weekly" else self.payroll
        if self.w.kind == "weekly":
            post = CAT.read_table(spark, CAT.BRONZE, "nyc_job_postings_data").drop(*LINEAGE)
        else:
            post = spark.read.parquet(os.path.join(self.matches_dir, "src", "*"))
        post = post.filter(parse_posting_ts("posting_date").isNotNull())
        if lane.name == "wratio":
            left = FZ.build_fuzzy_title_index(post, "business_title")
            right = HA.build_payroll_title_index(pay, index_fn=FZ.build_fuzzy_title_index)
            key, text = "blk", "right_norm"
        else:
            left = FZ.build_tokensort_title_index(post, "business_title")
            right = FZ.read_title_index(spark, self.index_dir)
            key, text = "tok", "right_key"
        blocked = left.select(
            F.col(key).alias("k"), F.col("right_title").alias("lt"), F.col(text).alias("ln")
        ).join(
            right.select(
                F.col(key).alias("k"), F.col("right_title").alias("rt"),
                F.col(text).alias("rn"),
            ),
            "k",
        )
        cand = blocked.select("lt", "ln", "rt", "rn").distinct().cache()
        block_rows, candidates = blocked.count(), cand.count()
        if lane.name == "wratio":
            survivors = sum(
                self.ref.ts_scores.get((r["lt"], r["rt"]), 0) >= pre
                for r in cand.select("lt", "rt").collect()
            )
        else:
            # the tokensort lane's prefilter: a shared token (the key
            # join) and the lossless length bound in its join condition
            longest = F.greatest(F.length("ln"), F.length("rn"))
            survivors = cand.filter(
                F.abs(F.length("ln") - F.length("rn")) <= (100 - cut) / 100.0 * longest
            ).count()
        cand.unpersist()
        if self.w.kind == "weekly":
            pairs, joined = tracer.kept["pairs"][0], tracer.kept["joined"][0]
            final = CAT.read_table(spark, CAT.BRONZE, MATCHES_TABLE)
        else:
            pairs = FZ.incremental_fuzzy_pairs_tokensort(right, post, "business_title", pre, cut)
            in_years = F.col("fiscal_year").cast("int").between(2024, 2025)
            joined = post.join(pairs, post["business_title"] == pairs["left_title"]).join(
                pay.filter(in_years), pairs["right_title"] == pay["title_description"]
            )
            final = HA.read_ingested_matches(spark, self.matches_dir)
        n_pairs, joined_rows = pairs.count(), joined.count()
        band_rows = joined.filter(
            (F.col("base_salary") >= F.col("salary_range_from"))
            & (F.col("base_salary") <= F.col("salary_range_to"))
        ).count()
        out = {
            "fuzzy.block_rows": (block_rows, "count"),
            "fuzzy.candidates": (candidates, "count"),
            "fuzzy.block_dup_factor": (block_rows / max(1, candidates), "ratio"),
            "fuzzy.hot_key_occupancy": (
                FZ.title_index_occupancy(right)["max_per_key"], "count"),
            "fuzzy.prefilter_survivors": (survivors, "count"),
            "fuzzy.pairs": (n_pairs, "count"),
            "fuzzy.pairs_per_candidate": (n_pairs / max(1, candidates), "ratio"),
            "match.joined_rows": (joined_rows, "count"),
            "match.band_rows": (band_rows, "count"),
            "match.band_ratio": (band_rows / max(1, joined_rows), "ratio"),
            "match.topn_rows": (final.count(), "count"),
            "durations.rows": (
                CAT.read_table(spark, CAT.BRONZE, DURATIONS_TABLE).count(), "count"),
            "gold.rows": (sum(t.count() for t in self.gold_tables.values()), "count"),
            "gold.bytes": (
                dir_bytes(os.path.join(self.root, "warehouse", f"{CAT.GOLD}.db")), "bytes"),
            "index.rows": (0, "count"),
            "index.bytes": (0, "bytes"),
            "ingest.probe_exchanges": (0, "count"),
            "ingest.files_written": (0, "count"),
            "ingest.bytes_written": (0, "bytes"),
        }
        if self.w.kind == "delta":
            metas = []
            for d in sorted(os.listdir(self.matches_dir)):
                path = os.path.join(self.matches_dir, d, "_meta.json")
                if os.path.exists(path):
                    with open(path) as f:
                        metas.append(json.load(f))
            out.update({
                "index.rows": (right.count(), "count"),
                "index.bytes": (dir_bytes(self.index_dir), "bytes"),
                "ingest.probe_exchanges": (sum(m["exchanges"] for m in metas), "count"),
                "ingest.files_written": (dir_files(self.matches_dir), "count"),
                "ingest.bytes_written": (dir_bytes(self.matches_dir), "bytes"),
            })
        return out

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit. A signal can unwind a run in the middle of a
        gateway call, after which the gateway no longer answers; the JVM
        is then ended through its process alone."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark, self.spark = self.spark, None
        with contextlib.suppress(Py4JError, OSError):
            spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Py4JError, OSError):
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
