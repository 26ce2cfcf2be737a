"""Benchmark harness: one timing method, three modes.

``python bench.py``
    Headline queries at ``$SPARK_GRAFT_SF_DIR``. Prints ONE JSON line:
    ``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

``python bench.py --point SF_DIR QUERY...``
    The named queries in this process (hence one fresh JVM). Prints one
    JSON line: ``rev``, ``sf_dir``, ``cpus``, ``repeats``,
    ``driver_memory``, per-cycle ``walls`` and their ``min``, and the
    codegen compilations of the warm-up (``warmup_compiles``) and of
    each timed cycle (``compiles``), each keyed by query.

``python bench.py --ab TREE SF_DIR QUERY...``
    For each query, ``TREE/bench.py --point`` (before) and this tree's
    ``--point`` (after) as adjacent subprocesses, alternating which side
    goes first. Prints one JSON line per pair with the before/after ratio.

Each query executes its full plan via a noop sink (no driver collect
bottleneck, no disk write in the measurement). Repeats come from
``$SPARK_GRAFT_BENCH_REPEATS`` (default 5), cores from
``$SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time
from collections.abc import Callable

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402

# Headline set: the queries whose execution shape matters at scale
# (fact-table agg, star join, top-k, window, as-of, text explode,
# dedup and similarity once implemented).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "top_customers_by_revenue",
    "window_top3_parts_per_brand",
    "join_asof_purchase_click",
    "explode_top_words",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_exact_documents",
    "knn_bruteforce_topk",
    "ann_lsh_topk",
    "text_tfidf_top_terms",
    "events_tumbling_10min",
    "events_sessionization",
    "q8_market_share",
    "q21_sole_late_shipper",
    "events_interval_join",
    "gapfill_monthly_orders",
    "ann_ivf_topk",
    "dq_star_schema_report",
    "sketch_user_reach_rollup",
    "corpus_curation_funnel",
    "kmeans_lloyd_refine",
    "dedup_minhash_lsh_uncapped",
    "contamination_ngram_overlap",
    "pack_sequences_chunked",
    "text_repetition_scores",
]
# semdedup_cluster_prune and ann_pq_adc_topk are deliberately NOT in the
# headline set: the total must stay comparable round-over-round (same 28
# queries since round 2). Their plan shapes live in PLANS.md and their
# correctness in the driver gate.


def time_queries(
    run: Callable[[str], None],
    names: list[str],
    repeats: int,
    gc: Callable[[], None],
) -> dict[str, list[float]]:
    """Wall seconds of ``run(name)`` for each name, one entry per cycle.

    The method (the r10 root-cause study, commit 1def362, proved the old
    fixed-order back-to-back harness manufactures phantom per-query
    deltas):
      1. One UNTIMED warm-up cycle: the cold cycle's JIT/codegen/first
         -scan penalty otherwise lands on the queries in list order and
         survives min-of-N (the r9 "LSH cap overhead" was exactly this
         first-slot penalty). It absorbs codegen only while Spark's
         compiled-class cache holds the whole set's classes
         (``spark.sql.codegen.cache.maxEntries``, sized in
         ``session.get_spark``); a set that overflows it recompiles in
         every cycle, which ``--point``'s ``compiles`` shows.
      2. Round-robin cycles with a deterministic md5-keyed
         RE-PERMUTATION per cycle: a fixed order gives each query the
         same predecessor every cycle, and a predecessor with heavy
         async cleanup (checkpoint blocks draining via the
         ContextCleaner) taxes the same victim in every repeat —
         measured ~0.5-1.0 s predecessor tax that min-of-N cannot shed.
         The keys depend only on the cycle index, so cycles 0-2 of any
         run are the cycles a min-of-3 run executes.
      3. ``gc()`` after every query, outside the timed region: a driver
         GC frees unpinned localCheckpoint blocks so one query's cleanup
         backlog does not bill the next. (The ``register`` wrapper drops
         the temp views each build creates.)
    """
    for name in names:
        run(name)
        gc()
    walls: dict[str, list[float]] = {name: [] for name in names}
    for r in range(repeats):
        order = sorted(
            names, key=lambda n: hashlib.md5(f"{r}:{n}".encode()).hexdigest()
        )
        for name in order:
            t0 = time.perf_counter()
            run(name)
            walls[name].append(time.perf_counter() - t0)
            gc()
    return walls


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def _repeats() -> int:
    # Default 5 since r12 (VERDICT r11 task 4: the min-of-3 estimator's
    # noise floor surfaced in the scaling artifact).
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5")))


def _session(cpus: int):
    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_catalog(spark, sf_dir: str, names: list[str], repeats: int):
    """``time_queries`` over catalog queries. Returns the walls and, per
    query, the codegen compilations of every cycle, warm-up first; they
    are counted in the GC step, outside the timed region."""
    from automated_data_pipeline_python_spark.queries import QUERIES

    jvm = spark.sparkContext._jvm
    compilations = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiles: dict[str, list[int]] = {name: [] for name in names}
    last = {"name": None, "count": compilations.getCount()}

    def run(name: str) -> None:
        last["name"] = name
        _noop(QUERIES[name].fn(spark, sf_dir))

    def gc() -> None:
        count = compilations.getCount()
        compiles[last["name"]].append(count - last["count"])
        last["count"] = count
        jvm.System.gc()

    return time_queries(run, names, repeats, gc), compiles


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = _session(_cpus())

    from automated_data_pipeline_python_spark.queries import QUERIES

    # Warm up codegen/shuffle/scan/python-worker paths once so per-query
    # timings measure steady-state execution, not JVM cold start, first
    # parquet footer reads, or Arrow worker spawn (TPC-style warm runs).
    from automated_data_pipeline_python_spark.tables import load

    _noop(spark.range(1_000_000).selectExpr("id", "id % 7 AS k").groupBy("k").count())
    for t in [
        "lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "events", "documents", "embeddings",
    ]:
        _noop(load(spark, sf_dir, t))
    _noop(spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long"))

    repeats = _repeats()
    runnable = [n for n in HEADLINE if n in QUERIES]
    cycle_times, _ = _time_catalog(spark, sf_dir, runnable, repeats)
    timings = {name: round(min(ts), 3) for name, ts in cycle_times.items()}
    # Level-comparable view vs BENCH_r11 (min-of-3): min over the first
    # three cycles only — identical permutations, identical warm-up.
    timings3 = {
        name: round(min(ts[:3]), 3) for name, ts in cycle_times.items()
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # Self-describing methodology (VERDICT r9 task 5 /
                # r10 task 3): see time_queries.
                "method": f"min-of-{repeats}-repermuted-warm",
                "repeats": repeats,
                # min over cycles 0-2 only (same permutations a
                # min-of-3 run would execute): the apples-to-apples
                # comparison against BENCH_r11's min-of-3 numbers.
                "queries_min_of_3": timings3,
                "total_min_of_3": round(sum(timings3.values()), 3),
                # The harness change shifts LEVELS, not just variance:
                # back-to-back min-of-3 (rounds <= 10) hands runs 2-3 of
                # each query maximal JIT/codegen/page locality, while
                # round-robin interleaves 28 queries between a query's
                # repeats. Measured on the same corpus and commit: the
                # round-robin min runs ~1.2x the back-to-back min
                # roughly uniformly (e.g. dedup_minhash_lsh 1.83 vs
                # 1.37 s, q21 1.39 vs 1.11 s). Compare totals only
                # within one method generation.
                "level_note": (
                    "round-robin min is ~1.2x the old back-to-back min "
                    "(cross-run warmth removed); not comparable in "
                    "level to BENCH_r10 and earlier. min-of-5 default "
                    "since r12 (min-of-5 <= min-of-3 by construction); "
                    "compare headline totals vs BENCH_r11 via "
                    "total_min_of_3"
                ),
            }
        )
    )
    spark.stop()


def _rev() -> str | None:
    proc = subprocess.run(
        ["git", "-C", REPO_ROOT, "describe", "--always", "--dirty"],
        capture_output=True,
        text=True,
    )
    return proc.stdout.strip() or None


# A --point JVM's heap when SPARK_DRIVER_MEMORY is unset, as a share of
# the host's MemTotal. The rest is for what lives outside the heap: the
# JVM's metaspace, direct buffers and thread stacks, one Python worker
# per core for Arrow and pandas UDFs, and the page cache the parquet
# scans read through. A heap larger than the host lets a 100x query
# grow until the OS kills the JVM instead of spilling.
HEAP_SHARE = 0.5


def _driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``$SPARK_DRIVER_MEMORY`` if set, else ``HEAP_SHARE`` of MemTotal."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    with open(meminfo) as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{int(kib * HEAP_SHARE) // 1024}m"


def point(sf_dir: str, names: list[str]) -> None:
    """``--point``: time ``names`` in this process's (fresh) JVM.

    One process per point because a same-process get_spark() after
    spark.stop() reuses the py4j gateway JVM, so JIT/heap state would
    leak across points. Levels also depend on the co-resident query set
    (r12: one 100x query moved 16.6 -> 39.0 s when its set grew 3 -> 5),
    so rows compared across rounds are one query per point.
    """
    from automated_data_pipeline_python_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")
    os.environ["SPARK_DRIVER_MEMORY"] = _driver_memory()
    cpus, repeats = _cpus(), _repeats()
    spark = _session(cpus)
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    walls, compiles = _time_catalog(spark, sf_dir, names, repeats)
    spark.stop()
    print(
        json.dumps(
            {
                "rev": _rev(),
                "sf_dir": sf_dir,
                "cpus": cpus,
                "repeats": repeats,
                "driver_memory": heap,
                "walls": {n: [round(w, 3) for w in ws] for n, ws in walls.items()},
                "min": {n: round(min(ws), 3) for n, ws in walls.items()},
                "warmup_compiles": {n: cs[0] for n, cs in compiles.items()},
                "compiles": {n: cs[1:] for n, cs in compiles.items()},
            }
        )
    )


def _run_point(tree: str, sf_dir: str, name: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py"), "--point", sf_dir, name],
        stdout=subprocess.PIPE,
        text=True,
        check=True,
        cwd=tree,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def ab(before_tree: str, sf_dir: str, names: list[str]) -> None:
    """``--ab``: adjacent before/after ``--point`` pairs, one per query.

    100x levels are machine-state-bound (the same point measured 46.2
    then 7.1 s minutes apart), so the claim is the ratio of ADJACENT
    runs; alternating which side goes first keeps a drift in machine
    state from favouring one side.
    """
    sides = {"before": os.path.abspath(before_tree), "after": REPO_ROOT}
    sf_dir = os.path.abspath(sf_dir)  # each side runs in its own tree
    for i, name in enumerate(names):
        order = ["before", "after"] if i % 2 == 0 else ["after", "before"]
        rec = {side: _run_point(sides[side], sf_dir, name) for side in order}
        b, a = rec["before"]["min"][name], rec["after"]["min"][name]
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "first": order[0],
                    "before": rec["before"],
                    "after": rec["after"],
                    "ratio": round(b / a, 3),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    args = sys.argv[1:]
    if not args:
        main()
    elif args[0] == "--point" and len(args) >= 3:
        point(args[1], args[2:])
    elif args[0] == "--ab" and len(args) >= 4:
        ab(args[1], args[2], args[3:])
    else:
        sys.exit(
            "usage: bench.py | bench.py --point SF_DIR QUERY... | "
            "bench.py --ab TREE SF_DIR QUERY..."
        )
