"""The ``registry_queries`` workload: analyst queries and iterative kernels.

A run is: one check pass (each query's result against DuckDB running
its oracle SQL on the same parquet, with the canonicalisation of
``tests/oracle.py``; this pass is also the warm-up), then timed passes
over the list. A timed query run is the builder call plus a ``noop``
write, one job group per run. The number of timed passes is
``--seconds`` divided by the list's pass budget (at least two), so
every run of a workload attempts the same operations whatever its
speed.

A query whose check fails or which raises is a failed operation in
every pass it is attempted in, so the failed share of a run is the
failing share of its list whatever the number of passes.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from perfbench.tracing import read_eventlog, timed_query, wrap_scale

#: why each query is in its list is in README.md
ANALYST_QUERIES = (
    # reference surface: the alert store's read paths
    "q_state_open", "q_ttl_filter", "q_point_lookup", "q_count_where",
    # TPC-H-style joins and aggregates
    "q_tpch_q3", "q_tpch_q6", "q_join_semi",
    # windows, scalar functions, scans
    "q_win_session", "q_fn_string", "q_scan_events",
)

KERNEL_QUERIES = (
    "q_graph_kcore",  # scale.kcore
    "q_events_rfm",  # scale.ranked_by_range
    "q_skyline_2d",  # scale.running_max_by_range
)

#: seconds of ``--seconds`` per timed pass: 4 passes at 30 s (a pass
#: takes about 7.5 s on 4 cores, 2.5 s of it the analyst list)
PASS_BUDGET_S = 7.5
QUERIES = ANALYST_QUERIES + KERNEL_QUERIES
MIN_PASSES = 2


def _check(spark, specs, names, sf_dir):
    """Check pass: set of names whose result differs from the oracle or
    whose builder raises."""
    from tests.oracle import compare

    bad = set()
    for name in names:
        spark.sparkContext.setJobGroup(f"check:{name}", f"check:{name}")
        try:
            rep = compare(specs[name].builder(spark, sf_dir), specs[name].oracle, sf_dir)
        except Exception as exc:  # counted, reported, never fatal
            print(f"check {name}: raised {exc!r}"[:400])
            bad.add(name)
            continue
        if rep["errors"]:
            print(f"check {name}: {rep['errors']}"[:400])
            bad.add(name)
    return bad


def run(ctx) -> dict:
    from streamclient_spark.plans.registry import load_all

    names = QUERIES
    n_passes = max(MIN_PASSES, round(ctx.seconds / PASS_BUDGET_S))
    spark, sf_dir, trace = ctx.spark, ctx.sf_dir, ctx.trace
    specs = load_all()
    counters: dict[str, float] = defaultdict(float)
    if trace:
        wrap_scale(spark, counters)
    bad = _check(spark, specs, names, sf_dir)
    ctx.mark_setup_done()

    per_query: dict[str, list[float]] = {n: [] for n in names}
    passes: list[float] = []
    layer: list[dict[str, float]] = []
    attempted = failed = 0
    for pass_no in range(n_passes):
        per_pass: dict[str, float] = {}
        scale0 = dict(counters)
        t0 = time.perf_counter()
        for name in names:
            group = f"bench:{pass_no}:{name}"
            attempted += 1
            try:
                b_s, e_s, b_jobs, e_jobs = timed_query(
                    spark, specs[name].builder, sf_dir, group, trace
                )
            except Exception as exc:
                print(f"run {name}: raised {exc!r}"[:400])
                failed += 1
                continue
            if name in bad:
                failed += 1
                continue
            per_query[name].append(b_s + e_s)
            mod = specs[name].builder.__module__.removeprefix("streamclient_spark.")
            for key, val in (
                ("registry.build_s", b_s), ("registry.build_jobs", b_jobs),
                ("action.exec_s", e_s), ("action.jobs", e_jobs),
                (f"{mod}.build_s", b_s), (f"{mod}.exec_s", e_s),
                (f"{mod}.jobs", b_jobs + e_jobs),
            ):
                per_pass[key] = per_pass.get(key, 0.0) + val
        passes.append(time.perf_counter() - t0)
        for k, v in counters.items():
            per_pass[k] = v - scale0.get(k, 0.0)
        layer.append(per_pass)

    medians = [statistics.median(v) for v in per_query.values() if v]
    n_ops = sum(len(v) for v in per_query.values())
    e2e = {
        "round_s": statistics.median(passes),
        "op_latency_s": statistics.geometric_mean(medians) if medians else float("nan"),
        "throughput_per_s": n_ops / sum(passes),
    }
    per_query_median = {n: statistics.median(v) for n, v in per_query.items() if v}
    named = {
        "round_s": e2e["round_s"],
        "query_geomean_s": e2e["op_latency_s"],
        **{
            f"{part}_{stat}": fn([per_query_median[n] for n in lst if n in per_query_median])
            for part, lst in (("analyst", ANALYST_QUERIES), ("kernel", KERNEL_QUERIES))
            for stat, fn in (("geomean_s", statistics.geometric_mean), ("median_sum_s", sum))
        },
        "passes": len(passes),
        "pass_s": passes,
        "queries": len(names),
        "per_query_median_s": per_query_median,
    }
    per_layer = {}
    if trace:
        per_layer = _layer_metrics(ctx, layer)
    return {
        "attempted": attempted, "failed": failed, "correct": True,
        "e2e": e2e, "named": named, "per_layer": per_layer,
    }


def _layer_metrics(ctx, layer) -> dict[str, float]:
    """Median over the timed passes of every per-pass layer metric
    (builders, ``scale`` shims, and Spark execution from the event
    log, attributed to a pass through its job groups). Stops the
    session first: the event log is complete only then."""
    ctx.stop_spark()
    for group, vals in read_eventlog(ctx.eventlog_dir).items():
        if group.startswith("bench:"):
            per_pass = layer[int(group.split(":")[1])]
            for k, v in vals.items():
                per_pass[f"spark.{k}"] = per_pass.get(f"spark.{k}", 0.0) + v
    keys = {k for p in layer for k in p}
    return {k: statistics.median(p.get(k, 0.0) for p in layer) for k in sorted(keys)}
