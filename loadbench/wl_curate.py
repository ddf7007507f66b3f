"""``curate``: the registry's LLM-data operators over generated documents
and embeddings, in the fixture shape at sf0.1 (5,000 docs, 2,000 vectors).

One pass runs ``dedup_exact``, ``dedup_ngram_jaccard``, ``dedup_minhash_lsh``,
``dedup_clusters``, ``sim_cosine_topk`` and ``sim_ann_lsh``, each ending in a
``noop`` write, which Catalyst cannot prune. Set-up is the session, loading
the lake (three times, median) and one untimed pass. Passes then repeat
for about the run's seconds; the median pass wall is reported.
"""

from __future__ import annotations

import time

import gen
from run import median

QUERIES = (
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_clusters", "sim_cosine_topk", "sim_ann_lsh",
)
SETUPS = 3


def generate(bench) -> dict:
    bench.lake = bench.data_dir / f"curate-s{bench.seed}"
    return gen.curate_lake(bench.seed, str(bench.lake))


def _pass(bench, specs, tag: str) -> tuple[float, dict, int]:
    """One pass; returns (wall, {query: DataFrame}, failures)."""
    tr, lake, frames, failed = bench.tracer, str(bench.lake), {}, 0
    t0 = time.perf_counter()
    for q in QUERIES:
        try:
            with tr.span(f"queries.{q}.fn", rid=tag):
                df = specs[q].fn(bench.spark, lake)
            with tr.span(f"queries.{q}.action", rid=tag):
                df.write.format("noop").mode("overwrite").save()
            frames[q] = df
        except Exception as e:  # a failed query is a failed operation
            bench.record.setdefault("errors", []).append(f"{q}: {type(e).__name__}: {e}")
            failed += 1
    return time.perf_counter() - t0, frames, failed


def run(bench) -> dict:
    from move_forecast_ind_spark.operators import dedup
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.sources import load_table

    specs = {q: REGISTRY[q] for q in QUERIES}
    candidates: list[int] = []
    if bench.trace:
        # LSH candidate yield: count the materialized candidate pairs the
        # MinHash cascade verifies, wrapping the engine's helper from here.
        inner = dedup.materialize

        def counting(df, label, *a, **kw):
            out = inner(df, label, *a, **kw)
            if label == "minhash-cand":
                candidates.append(out.count())
            return out

        dedup.materialize = counting

    prepare_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        for t in ("documents", "embeddings"):
            load_table(bench.spark, str(bench.lake), t).count()
        prepare_s.append(time.perf_counter() - t0)
    warm_s, _, warm_failed = _pass(bench, specs, "warmup")

    walls, frames, failed, passes = [], {}, 0, 0
    t_start = time.perf_counter()
    # Another pass starts only if it would end nearer the run's seconds
    # than stopping now does.
    while passes == 0 or 2 * (time.perf_counter() - t_start) + median(walls) < 2 * bench.seconds:
        wall, frames, f = _pass(bench, specs, f"p{passes}")
        walls.append(wall)
        failed += f
        passes += 1
    elapsed = time.perf_counter() - t_start
    peak = bench.sampler.stop()

    checks = _check(bench, specs, frames)
    metrics = {
        "setup_s": bench.get_spark_s + median(prepare_s) + warm_s,
        "peak_rss_mb": peak["pss"],
        "latency_ms": 1000.0 * median(walls),
        "throughput_per_s": (passes * len(QUERIES) - failed) / elapsed,
    }
    bench.record.update({
        "setup": {"get_spark_s": bench.get_spark_s, "prepare_s": prepare_s,
                  "warmup_pass_s": warm_s, "warmup_failed": warm_failed},
        "curate": {"passes": passes, "pass_walls_s": walls, "curate_s": median(walls)},
        "checks": checks,
    })
    if bench.trace:
        metrics.update(_layers(bench, checks, candidates))
        metrics["trace.latency_ms"] = metrics.pop("latency_ms")
        metrics["trace.throughput_per_s"] = metrics.pop("throughput_per_s")
    return {"correct": checks["ok"], "attempted": passes * len(QUERIES),
            "failed": failed, "metrics": metrics}


def _check(bench, specs, frames) -> dict:
    """The last pass's outputs against the registry's oracle SQL in DuckDB,
    compared the way the repository's oracle gate compares them."""
    import duckdb

    from tools.check_oracle import normalize, run_oracle

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{bench.lake}/{t}.parquet')")
    good, rows_out = [], {}
    for q, df in frames.items():
        rows = [tuple(r) for r in df.collect()]
        rows_out[q] = len(rows)
        types = [f.dataType.simpleString() for f in df.schema.fields]
        if normalize(df.columns, types, rows) == normalize(*run_oracle(con, specs[q].oracle)):
            good.append(q)
    con.close()
    return {"ok": len(good) == len(QUERIES), "oracle": f"{len(good)}/{len(QUERIES)}",
            "failed_queries": [q for q in QUERIES if q not in good], "rows": rows_out}


def _layers(bench, checks, candidates) -> dict:
    tr, st = bench.tracer, bench.status
    out: dict[str, float] = {}
    for q in QUERIES:
        per: dict[str, list] = {}
        for fn, act in zip(tr.by_name(f"queries.{q}.fn"), tr.by_name(f"queries.{q}.action")):
            if fn["rid"] == "warmup":
                continue
            g1, g2 = st.group(fn["group"]), st.group(act["group"])
            per.setdefault("fn_ms", []).append(1000.0 * (fn["end"] - fn["start"]))
            per.setdefault("fn_jobs", []).append(g1["jobs"])
            per.setdefault("action_ms", []).append(1000.0 * (act["end"] - act["start"]))
            for k in ("tasks", "single_task_stages", "shuffle_write_mb"):
                per.setdefault(k, []).append(g1[k] + g2[k])
            per.setdefault("task_max_over_median", []).append(
                max(g1["task_max_over_median"], g2["task_max_over_median"]))
        out.update({f"queries.{q}.{k}": median(v) for k, v in per.items()})
    verified = checks["rows"].get("dedup_minhash_lsh")
    if candidates and verified is not None:
        out["operators.dedup.verify_yield"] = verified / median(candidates)
    out["session.get_spark_s"] = bench.get_spark_s
    return out
