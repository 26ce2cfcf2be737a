"""Scaling slope for the dedup/ANN headline path plus one heavy
representative per family (VERDICT r6 task 6, r7 tasks 3 + 7).

Times the blocked/bucketed dedup and ANN queries — and, when the
needed tables exist in the derived corpora, BPE merge training
(documents), item-item CF cosine (orders/lineitem), and closeness
centrality on the co-purchase graph (lineitem/part) — at sf0.1, the
10x density-honest derived corpus (sf1_fresh), and the 100x one
(sf10_fresh; both from gen_benchdata.py --fresh-docs, which rewrites
every replica generation's tokens so cross-generation similarity is
zero — the within-generation dup structure replicates exactly, so work
should scale ~linearly in documents, never quadratically in pairs).
Embeddings replicate as-is (no fresh rewrite exists for vectors), so
the ANN numbers are a SKEW-ADVERSARIAL upper bound: every IVF cell
holds N identical copies of its sf0.1 contents.

Repeat study: each (query, SF) point is the MINIMUM of REPEATS runs
(default 5, env BENCH_SCALING_REPEATS) — single runs on the
skew-adversarial corpora showed multi-second run-to-run noise that
made interior points non-monotone (VERDICT r7 task 3), and the r11
min-of-3 artifact reversed r10's min-of-5 capped-vs-uncapped LSH
ordering at 100x on identical candidate counts, so min-of-5 is the
floor for load-bearing claims (VERDICT r11 task 1).

JVM isolation (VERDICT r11 / ADVICE): each SF point runs in its own
SUBPROCESS (fresh python -> fresh py4j gateway -> fresh JVM). Calling
get_spark() after spark.stop() in one process only refreshes the
SparkContext — JIT code caches and heap state carry over — so the
orchestrating main() shells out to `--point` children instead.

Prints one JSON line with per-SF timings and the 10x/100x slopes;
committed as BENCH_DEDUP_SCALING.json.

Usage: python tools/bench_dedup_scaling.py [sf01] [sf1] [sf10]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from automated_data_pipeline_python_spark.session import get_spark  # noqa: E402

REPEATS = int(os.environ.get("BENCH_SCALING_REPEATS", "5"))

# query -> parquet tables it needs in the corpus dir (skipped with a
# note when a derived corpus lacks one, e.g. a facts-free sf10 dir).
QUERIES_TIMED = {
    "dedup_minhash_lsh": ["documents"],          # capped default (r9)
    "dedup_minhash_lsh_uncapped": ["documents"],  # diagnostic twin
    "dedup_simhash_pairs": ["documents"],
    "ann_ivf_topk": ["embeddings"],
    "bpe_train_merge_rounds": ["documents"],
    "reco_item_item_cosine": ["orders", "lineitem"],
    "graph_closeness_centrality": ["lineitem", "part"],
}


def closeness_decomposition(spark, sf_dir: str) -> dict[str, float]:
    """Stage split for graph_closeness_centrality (VERDICT r8 task 7):
    times the corpus-sized edge-list build separately from the
    vocab-bounded BFS tail, and counts the edges. Measured (r9, min of
    3): n_edges = 600 at sf0.1, 10x AND 100x — the 25-brand co-purchase
    graph is already COMPLETE at sf0.1, so edge growth saturates and
    the tail is flat (0.8 s -> 0.9 s -> 0.5 s); all scaling in the
    headline number is the single linear DISTINCT scan + basket-bounded
    per-order self-join (1.4 s -> 4.6 s -> 23.8 s, 17x time at 100x
    data). At 1000x the same split holds: the tail stays constant
    (complete vocab graph), the edge build distributes linearly across
    executors — there is nothing quadratic to cap."""
    from automated_data_pipeline_python_spark.queries.graph import (
        _CLOSE_TAIL,
        _EDGES_SQL,
    )
    from automated_data_pipeline_python_spark.tables import register_views

    if not all(
        os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("lineitem", "part")
    ):
        return {}
    best_e, best_t, n_edges = float("inf"), float("inf"), 0
    for _ in range(REPEATS):
        register_views(spark, sf_dir, "lineitem", "part")
        t0 = time.perf_counter()
        ck = spark.sql(_EDGES_SQL).localCheckpoint(eager=True)
        t1 = time.perf_counter()
        ck.createOrReplaceTempView("close_edges")
        n_edges = ck.count()
        t2 = time.perf_counter()
        spark.sql(
            "WITH e AS (SELECT * FROM close_edges),\n" + _CLOSE_TAIL.lstrip()
        ).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        best_e = min(best_e, t1 - t0)
        best_t = min(best_t, t3 - t2)
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark.sparkContext._jvm.System.gc()
    return {
        "closeness_edge_build": round(best_e, 3),
        "closeness_bfs_tail": round(best_t, 3),
        "closeness_n_edges": n_edges,
    }


def lsh_candidate_counts(spark, sf_dir: str) -> dict[str, float]:
    """Deterministic scaling evidence for the LSH cap (round 9): count
    the candidate pairs each variant generates, plus the band-bucket
    size distribution. Wall-clock on this VM carries multi-x run-to-run
    jitter; the counts are exact. Measured (r9): on the fresh-docs
    corpora BOTH variants' candidates grow ~linearly (uncapped 10.6k ->
    107k -> 1.10M at 1x/10x/100x; max bucket size stays 19-25) because
    fresh-docs replication grows bucket COUNT, not bucket SIZE. The cap
    trims ~46% of candidates and bounds the ADVERSARIAL case — a
    boilerplate cluster of B docs is B²/2 pairs uncapped (the skew-test
    fixture), and real corpora grow such clusters with scale even
    though this derived corpus family does not."""
    import automated_data_pipeline_python_spark.queries.dedup as D
    from automated_data_pipeline_python_spark.queries.catalog import materialize
    from automated_data_pipeline_python_spark.tables import register_views

    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        return {}
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(D._MINHASH_SETS_SPARK), "mh_sets")

    def cand_count(tail: str) -> int:
        sql = tail[: tail.index("-- verify")].rstrip().rstrip(",")
        return (
            spark.sql(sql + "\nSELECT count(*) AS c FROM cand")
            .collect()[0]
            .c
        )

    bsql = D._MINHASH_TAIL_SPARK[
        : D._MINHASH_TAIL_SPARK.index("cand AS (")
    ].rstrip().rstrip(",")
    b = spark.sql(
        bsql
        + f"""
SELECT CAST(count(*) AS BIGINT) AS nb,
       CAST(max(size(ds)) AS BIGINT) AS mx,
       CAST(sum(CASE WHEN size(ds) > {D._BUCKET_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS over
FROM buckets"""
    ).collect()[0]
    out = {
        "lsh_cand_uncapped": cand_count(D._MINHASH_TAIL_SPARK),
        "lsh_cand_capped": cand_count(D._MINHASH_CAPPED_TAIL_SPARK),
        "lsh_buckets": b.nb,
        "lsh_max_bucket": b.mx,
        "lsh_buckets_over_cap": b.over,
    }
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.sparkContext._jvm.System.gc()
    return out


def time_set(spark, sf_dir: str) -> dict[str, float]:
    from automated_data_pipeline_python_spark.queries import QUERIES

    out: dict[str, float] = {}
    out.update(closeness_decomposition(spark, sf_dir))
    out.update(lsh_candidate_counts(spark, sf_dir))
    runnable = [
        name
        for name, tables in QUERIES_TIMED.items()
        if all(
            os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
            for t in tables
        )
    ]
    best = {name: float("inf") for name in runnable}
    # Round-robin cycles, NOT per-query repeat blocks: position-in-run
    # effects at 100x (cold page cache, heap growth, ContextCleaner
    # backlog) land entirely on whichever query runs first, and with
    # consecutive repeats all three share the penalty, so min-of-3
    # cannot shed it — r8/r9 back-to-back runs measured the SAME LSH
    # plan 3-6x slower whenever it held the first slot. Cycling every
    # query once per repeat makes the cold first cycle symmetric and
    # leaves cycles 2..N warm for everyone.
    #
    # One UNTIMED warm-up cycle first (round 10): even with
    # round-robin, the cold cycle's JIT/codegen/scan penalty is paid by
    # every query in LIST ORDER, and the r9 artifact showed the
    # first-listed query (capped LSH) 1.4x over its template twin at
    # 1x/10x while an alternating same-session A/B measured them equal
    # (1.48 vs 1.50 s) — the "cap overhead" was the first-slot cold
    # penalty surviving min-of-3. Warm cycles only is the honest
    # steady-state comparison.
    for name in runnable:
        QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark.sparkContext._jvm.System.gc()
    # Re-PERMUTE the cycle per repeat (round 10): with a fixed order,
    # each query inherits the same predecessor every cycle, and a
    # predecessor with heavy async cleanup (the closeness query's
    # checkpoint blocks drain via the ContextCleaner while the NEXT
    # query runs) taxes the same victim in all three cycles — measured
    # directly: both LSH variants run ~0.5-1.0 s slower at sf0.1 when
    # preceded by closeness than when preceded by each other, and
    # min-of-3 cannot shed a penalty that recurs at the same position.
    # A cyclic ROTATION does not help (it preserves adjacency), so each
    # cycle uses a deterministic hash-keyed shuffle — every query's min
    # is then taken over three different predecessor patterns.
    import hashlib

    for r in range(REPEATS):
        order = sorted(
            runnable,
            key=lambda n: hashlib.md5(f"{r}:{n}".encode()).hexdigest(),
        )
        for name in order:
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best[name] = min(best[name], time.perf_counter() - t0)
            for t in spark.catalog.listTables():
                if t.isTemporary:
                    spark.catalog.dropTempView(t.name)
            # unpinned localCheckpoint blocks are only reclaimed by the
            # ContextCleaner after a driver GC; back-to-back 100x runs
            # otherwise OOM the single JVM before cleanup catches up
            spark.sparkContext._jvm.System.gc()
    out.update({name: round(v, 3) for name, v in best.items()})
    return out


def run_point(sf_dir: str) -> None:
    """Child mode: time ONE SF point in this (fresh) process's JVM and
    print its timing dict as one JSON line."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(
        app_name="bench-dedup-scaling",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = time_set(spark, sf_dir)
    spark.stop()
    print(json.dumps(out))


def main() -> None:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, ".benchdata", "sf1_fresh"
    )
    sf10 = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        REPO, ".benchdata", "sf10_fresh"
    )
    import subprocess

    timings = []
    for d in (sf01, sf1, sf10):
        # fresh python -> fresh JVM per SF point: a same-process
        # get_spark() after stop() reuses the py4j gateway JVM, so JIT
        # caches and heap state would otherwise carry across points
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--point", d],
            capture_output=True,
            text=True,
            check=True,
            cwd=REPO,
        )
        timings.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    t01, t1, t10 = timings
    ratios_10x = {k: round(t1[k] / t01[k], 2) for k in t1 if k in t01}
    ratios_100x = {k: round(t10[k] / t01[k], 2) for k in t10 if k in t01}
    print(json.dumps({
        "metric": "dedup_ann_scaling",
        "unit": "sec",
        "repeats_per_point_min_of": REPEATS,
        "sf0.1": t01,
        "sf1_fresh_10x": t1,
        "sf10_fresh_100x": t10,
        "ratio_10x_over_1x": ratios_10x,
        "ratio_100x_over_1x": ratios_100x,
        "note": ("fresh-docs derived corpora: zero cross-generation "
                 "similarity, within-generation dup structure exact; "
                 "embeddings replicate verbatim (ANN = skew-adversarial "
                 "upper bound); each SF point runs in its OWN "
                 "SUBPROCESS (fresh python -> fresh JVM, r12 change — "
                 "same-process session recreation reuses the py4j "
                 "gateway JVM and its JIT/heap state); each point = "
                 f"min of {REPEATS} warm runs after one untimed "
                 "warm-up cycle, with the cycle order RE-PERMUTED per "
                 "repeat "
                 "(r10 change: a fixed cyclic order gives each query "
                 "the same predecessor every cycle, so one "
                 "predecessor's async checkpoint-cleanup drain taxed "
                 "the same victim in all repeats and survived "
                 "min-of-3 as a phantom cap overhead — measured "
                 "~0.5-1.0 s predecessor tax on BOTH LSH variants); "
                 "dedup_minhash_lsh is the CAPPED "
                 "default since r9 (uncapped = diagnostic twin); "
                 "closeness_* rows decompose graph_closeness_centrality "
                 "— n_edges saturates at the complete vocab graph, the "
                 "BFS tail is flat, and only the linear edge build "
                 "scales with data (VERDICT r8 task 7)"),
    }))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--point":
        run_point(sys.argv[2])
    else:
        main()
