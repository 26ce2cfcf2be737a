"""``query_catalog``: catalog queries over the seeded tables, each built
with ``QUERIES[name].fn(spark, dir)`` and run to a ``noop`` sink, in a
seed-keyed order per pass.

The untimed warm-up pass collects every result instead, and after the
timed passes each one is compared with DuckDB running the query's oracle
SQL over the same parquet files, canonicalized as the repository's
oracle-parity tool ``tools/verify_driver.py`` does.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys

from common import CORES, Run, end_to_end, record_peak_rss, start_session, timed, timed_passes
from tracing import StageCounters, jvm_gc_ms, median_of

# One query per catalog module.
QUERIES_RUN = [
    "window_top3_parts_per_brand",  # relational: ranked window top-k
    "q21_sole_late_shipper",  # tpch2: semi/anti joins
    "events_sessionization",  # events: windowed sessionization
    "gapfill_monthly_orders",  # modern_sql: calendar gap-fill
    "dq_star_schema_report",  # dq: star-schema integrity joins
    "sketch_user_reach_rollup",  # sketches: HLL rollup (no oracle SQL)
    "dedup_prefix_filter_join",  # dedup: prefix-filter candidate join
    "ann_lsh_topk",  # similarity: LSH candidate top-k
    "text_tfidf_top_terms",  # windows2: token explode, tf-idf
    "dq_mutual_information",  # drift: intra-row folds
]


def _drop_temp_views_and_gc(spark) -> None:
    catalog = spark._jsparkSession.sessionState().catalog()
    views = catalog.listLocalTempViews("*")
    for i in range(views.size()):
        spark.catalog.dropTempView(views.apply(i).table())
    spark.sparkContext._jvm.System.gc()


def _check_results(run: Run, data_dir: str, names: list[str], got: dict, oracles: dict) -> None:
    """Compare every collected warm-up result with DuckDB over the same
    files: sorted column names and canonicalized sorted rows. The one
    query without oracle SQL (HLL sketch) is checked for its row set and
    a 5% error bound against exact distinct counts. Runs after the peak
    memory reading, so DuckDB stays out of it."""
    import duckdb

    from tools.verify_driver import TABLES, rows_canon

    con = duckdb.connect(config={"threads": CORES, "temp_directory": os.path.join(run.work, "duckdb")})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name in names:
        if name not in got:
            continue  # its failure is already counted
        cols, rows = got[name]
        if name == "sketch_user_reach_rollup":
            exact = dict(con.execute(
                "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1 "
                "UNION ALL SELECT 'TOTAL', count(DISTINCT user_id) FROM events"
            ).fetchall())
            est = {r[cols.index("event_type")]: r[cols.index("distinct_users")] for r in rows}
            ok = est.keys() == exact.keys() and all(
                abs(est[k] - exact[k]) <= 0.05 * exact[k] for k in exact
            )
            run.check(ok, f"{name}: {est} vs exact {exact}")
            continue
        try:
            cur = con.execute(oracles[name])
            want_cols = [d[0] for d in cur.description]
            want = rows_canon(want_cols, cur.fetchall())
        except duckdb.Error as exc:
            run.check(False, f"{name}: oracle raised {exc!r:.300}")
            continue
        ok = sorted(cols) == sorted(want_cols) and rows_canon(cols, rows) == want
        run.check(ok, f"{name}: result differs from oracle")
    con.close()


def run_catalog(run: Run) -> dict:
    names = QUERIES_RUN
    data_dir = os.path.join(run.work, "tables")
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run([sys.executable, os.path.join(here, "datagen.py"), data_dir, str(run.seed)], check=True)

    spark = start_session(run)
    sc = spark.sparkContext
    with timed() as seg:
        from automated_data_pipeline_python_spark.queries import QUERIES
    run.layer["queries.import_s"] = seg["wall"]
    module = {n: QUERIES[n].fn.__module__.rsplit(".", 1)[-1] for n in names}

    # Warm-up pass: collect every result for the checks after timing.
    got: dict[str, tuple[list[str], list]] = {}
    run.layer["warmup_s"] = 0.0
    run.tracer.pass_id = f"{run.workload}/warmup"
    for name in run.permutation(names, -1):
        _drop_temp_views_and_gc(spark)
        try:
            with timed() as seg, run.tracer.span(name):
                df = QUERIES[name].fn(spark, data_dir)
                got[name] = (df.columns, df.collect())
            run.check(True, name)
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            run.check(False, f"{name}: raised {exc!r:.300}")
        run.layer["warmup_s"] += seg["wall"]
    setup_s = run.layer["session.start_s"] + run.layer["queries.import_s"] + run.layer["warmup_s"]

    stages = StageCounters(spark) if run.traced else None
    per_pass: list[dict] = []

    def one_pass(pass_no: int, traced: bool) -> float:
        walls: dict[str, float] = {}
        layer: dict[str, float] = {}
        run.tracer.pass_id = f"{run.workload}/{pass_no}"
        for name in run.permutation(names, pass_no):
            _drop_temp_views_and_gc(spark)
            if traced:
                stages.take()
                gc0 = jvm_gc_ms(spark)
                prev = sc.getLocalProperty("spark.job.description")
                sc.setJobDescription(f"{run.workload}/{name}")
            try:
                with timed() as seg, run.tracer.span(name):
                    with run.tracer.span("build") as s_build:
                        df = QUERIES[name].fn(spark, data_dir)
                    with run.tracer.span("action"):
                        df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                ok = False
                run.problems.append(f"pass {pass_no} {name}: raised {exc!r:.300}")
            walls[name] = seg["wall"]
            run.attempted += 1
            run.failed += not ok
            if traced:
                sc.setLocalProperty("spark.job.description", prev)
                st = stages.take()
                m = f"queries.{module[name]}"
                add = {
                    f"q.{name}.s": seg["wall"],
                    f"{m}.build_s": s_build["end"] - s_build["start"],
                    f"{m}.executor_cpu_s": st["executorCpuTime"] / 1e9,
                    f"{m}.executor_wait_s": (st["executorRunTime"] / 1e3 - st["executorCpuTime"] / 1e9),
                    f"{m}.shuffle_write_mb": st["shuffleWriteBytes"] / 2**20,
                    f"{m}.tasks": st["numTasks"],
                    f"{m}.spill_mb": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20,
                    "spark.core_util": st["executorRunTime"] / 1e3,
                    "spark.jvm_gc_s": (jvm_gc_ms(spark) - gc0) / 1e3,
                }
                for k, v in add.items():
                    layer[k] = layer.get(k, 0.0) + v
                peak = f"{m}.peak_exec_mem_mb"
                layer[peak] = max(layer.get(peak, 0.0), st["peakExecutionMemory"] / 2**20)
        wall = sum(walls.values())
        print(*(f"{n}={t:.2f}" for n, t in walls.items()), file=sys.stderr)
        if traced:
            layer["spark.core_util"] /= wall * CORES
            per_pass.append(layer)
        return wall

    # One timed pass fits the run budget; a traced run needs an untraced
    # and a traced one.
    plain, traced = timed_passes(run, one_pass, passes=2 if run.traced else 1)
    record_peak_rss(run)
    _check_results(run, data_dir, names, got, {n: QUERIES[n].oracle for n in names})
    if run.traced:
        run.layer.update(median_of(per_pass))
        run.layer["trace_overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    return end_to_end(run, setup_s, plain)
