"""Workload ``analytics_spine``: the 20 frozen spine queries, one driver.

The names are pinned here (they equal ``bench.py``'s ``SPINE``, in the
same order) so the benchmark does not move when ``bench.py`` changes.

Set-up is ``bench.py``'s JVM and Python-pool warm-ups. The timed pass then
builds and collects each query once, in spine order, over seeded tables
at ``SF``; a query's wall time covers building its DataFrame (Catalyst
analysis and any driver-side work) and collecting its result. The pass is
the first use of each plan shape in the process, so it includes
whole-stage codegen compilation: a warm pass would need a second pass of
the same length, which the benchmark's run budget does not allow. After
the pass, untimed, each result is compared with its DuckDB oracle through
``tools/selfcheck.py``'s comparator.
"""

from __future__ import annotations

import importlib.util
import os
import time

from .common import ROOT

SPINE = (
    "q_last_page",
    "q_offset_assign",
    "q_envelope",
    "q_join_broadcast",
    "q_join_asof",
    "q_group_agg",
    "q_running_sum",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q6",
    "q_tpch_q18",
    "q_dedup_lsh_verified",
    "q_dedup_simhash_hamming",
    "q_knn_topk",
    "q_knn_sq",
    "q_text_tokens",
    "q_pipeline_select",
    "q_media_phash",
    "q_audio_fingerprint",
    "q_bpe_tokens",
)
SF = 0.01


def _selfcheck():
    """``tools/selfcheck.py`` of the checkout under test, imported."""
    path = os.path.join(ROOT, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("perfbench_selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _python_pool(batches):  # runs in Spark's Python workers
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    yield from batches


def warm_up(spark, queries, sf_dir: str) -> None:
    """bench.py's JVM and Python-pool warm-ups."""
    queries["q_count"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    width = spark.sparkContext.defaultParallelism
    (
        spark.range(0, 100 * width, 1, width)
        .mapInPandas(_python_pool, "id long")
        .mapInPandas(_python_pool, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def timed_pass(ctx, queries, sf_dir: str, reader=None) -> dict[str, dict]:
    """Build and collect each spine query once; with ``reader`` also
    attribute its stages."""
    from .sparkstats import add_stage_spans, attribute

    spark = ctx.spark
    out = {}
    for name in SPINE:
        fn = queries[name].fn
        group = f"perfbench-spine-{name}"
        if reader is None:
            t = time.time()
            df = fn(spark, sf_dir)
            rows = df.collect()
            end = time.time()
        else:
            spark.sparkContext.setJobGroup(group, name)
            with ctx.tracer.span(f"spine.{name}", trace=group) as sid:
                t = time.time()
                with ctx.tracer.span("spine.build", trace=group):
                    df = fn(spark, sf_dir)
                rows = df.collect()
                end = time.time()
        spark.catalog.clearCache()
        cols = sorted(df.columns)
        rec = {"wall_s": end - t, "cols": cols,
               "rows": [[r[c] for c in cols] for r in rows]}
        if reader is not None:
            jobs = reader.group_jobs(group)
            stages = reader.stages(jobs)
            add_stage_spans(ctx.tracer, stages, sid, group)
            rec.update(attribute(stages, t, end, len(jobs)))
        out[name] = rec
    return out


def check(queries, results: dict[str, dict], sf_dir: str) -> dict[str, str]:
    """Compare each collected result with its DuckDB oracle."""
    sc = _selfcheck()
    con = sc.duck_con(sf_dir)
    errors = {}
    try:
        for name, rec in results.items():
            res = con.sql(queries[name].oracle)
            duck_cols = list(res.columns)
            cols = rec["cols"]
            if sorted(duck_cols) != cols:
                errors[name] = f"columns {cols} vs {sorted(duck_cols)}"
                continue
            idx = [duck_cols.index(c) for c in cols]
            duck_rows = [[r[i] for i in idx] for r in res.fetchall()]
            err = sc.compare(rec["rows"], duck_rows, cols)
            if err is None and not rec["rows"]:
                err = "oracled query returned 0 rows"
            if err:
                errors[name] = err
    finally:
        con.close()
    return errors


def system(ctx) -> dict:
    from vsphere_event_streaming_spark.registry import load_all

    from . import datagen

    spark = ctx.spark
    queries = load_all()
    missing = [n for n in SPINE if n not in queries or queries[n].oracle is None]
    if missing:
        raise RuntimeError(f"spine queries missing or without oracle: {missing}")
    sf_dir = datagen.write(ctx.seed, SF, os.path.join(ctx.work, f"sf{SF}"))
    ctx.mark("datagen")
    t = time.time()
    warm_up(spark, queries, sf_dir)
    ctx.warmup_s = time.time() - t
    ctx.mark("warm_up")

    reader = None
    if ctx.trace:
        from .sparkstats import StageReader

        reader = StageReader(spark)
    results = timed_pass(ctx, queries, sf_dir, reader)
    ctx.mark("timed_pass")
    errors = check(queries, results, sf_dir)
    ctx.mark("oracle_check")
    gate = {"attempted": len(SPINE)}
    if reader is not None:
        gate["stage_budget_violations"] = stage_budget_violations(results, ctx.cores)
        for name in gate["stage_budget_violations"]:
            errors.setdefault(name, "stage run > cores x wall")
    gate.update(failed=len(errors), errors=errors)
    walls = [r["wall_s"] for r in results.values()]
    total = sum(walls)
    result = {
        "gate": gate,
        "setup_unit_s": 0.0,
        "op_latencies": walls,
        # 20 samples leave no percentile with ten beyond it above the
        # median; the tail is the slowest query
        "op_tail_s": max(walls),
        "ops_per_s": len(SPINE) / total,
        "report": {"spine_total_s": total, "sf": SF,
                   "query_s": {n: r["wall_s"] for n, r in results.items()}},
    }
    if reader is not None:
        result["layers"] = _layers(ctx, results)
    return result


def _layers(ctx, results: dict) -> dict:
    layers = {}
    for name in SPINE:
        rec = results[name]
        layers[f"spine.{name}.wall_s"] = rec["wall_s"]
        layers[f"spine.{name}.exec_run_s"] = rec["exec_run_s"]
        layers[f"spine.{name}.outside_stage_s"] = rec["outside_stage_s"]
    recs = results.values()
    wall = sum(r["wall_s"] for r in recs)
    layers.update({
        "spine.total_s": wall,
        "spine.exec_cpu_s": sum(r["exec_cpu_s"] for r in recs),
        "spine.utilization": sum(r["exec_run_s"] for r in recs) / (ctx.cores * wall),
        "spine.tasks": float(sum(r["tasks"] for r in recs)),
        "spine.jobs": float(sum(r["jobs"] for r in recs)),
        "spine.shuffle_write_bytes": float(sum(r["shuffle_write_bytes"] for r in recs)),
    })
    return layers


def stage_budget_violations(results: dict[str, dict], cores: int) -> list[str]:
    """Queries whose Σ stage executorRunTime exceeds cores × wall."""
    return [
        name
        for name, rec in results.items()
        if rec["exec_run_s"] > cores * rec["wall_s"]
    ]
