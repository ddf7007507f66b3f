"""``serve``: the reference's service over a generated lake.

Set-up is the nightly refresh, then service start, then one warm-up
request per endpoint, sent together. The refresh is ``compute_percentages``
written with ``write_percentages`` and ``train_models`` saved with
``save_registry``; it runs once, cold, as it does every night. Service start
reads both back and caches them with the facts into a ``ServingContext``;
it is done three times and the median counts.

Traffic is a closed loop of two clients in one process, because the
reference's callers wait for each reply. It is sent in blocks: in a block
each client sends its four requests in order (``BLOCK``), the two clients
start together and pair slot by slot, so requests overlap the same way in
every run and every run realises the same mix: 5/8 ``/forecast/`` and 3/8
``/historical_trends/``; of the valid requests 4/7 name a known move type,
2/7 none and 1/7 an unknown one; 1/8 is invalid and must get a 400. Branch,
date and move type are drawn from the seed. Blocks repeat for about
``--seconds``: another starts only if it would end nearer that than
stopping does. With whole blocks, a slow run cannot change the mix it
measured, which a cut-off time window would.

- ``latency_ms``: mean latency of the valid ``/forecast/`` requests (a
  fixed mix of light and heavy requests, so the mean, not a median of
  four, is the steady figure);
- ``throughput_per_s``: requests answered with their expected status per
  second of traffic.

Medians and tails per endpoint, with their sample counts, go to the record.
A request answered with another status than expected is a failed
operation; in the latency figures it counts as its latency plus the whole
traffic wall, slower than every answered request.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import random
import shutil
import threading
import time
from dataclasses import dataclass

import gen
from checks import clamp_window, pct_twin_diff, trends_twin
from run import median, tail

TODAY = dt.date(2025, 1, 1)
MAX_DATE = dt.date(2025, 7, 31)
YEARS = (2019, 2024)
CUTOFF = "2023-12-31"
CLIENTS = 2
SETUPS = 3
WARMUP = ("F:k", "T:k")
CHECK_SAMPLE = 50

# One block of traffic: what each client sends, in order. The two clients
# start a block together and pair slot by slot, so their requests overlap
# the same way in every run. Over a block: 5 of 8 requests go to /forecast/
# and 3 to /historical_trends/; of the 7 valid ones, 4 name a known move
# type, 2 none and 1 an unknown type; 1 in 8 is invalid and must get a 400.
BLOCK = (
    ("F:k", "T:k", "F:n", "f"),
    ("F:k", "T:k", "F:u", "T:n"),
)
MAX_BLOCKS = 50


@dataclass
class Request:
    endpoint: str
    body: dict
    expected: int
    kind: str
    key: tuple | None = None


def generate(bench) -> dict:
    lake = bench.data_dir / f"serve-s{bench.seed}"
    info = gen.serve_lake(bench.seed, str(lake / "lake"))
    bench.lake = lake
    return info


def _requests(rng: random.Random, slots) -> list[Request]:
    """Requests of the given kinds: F/T valid forecast/trends with a
    move-type class (k known, n None, u unknown), f/t invalid."""
    weights = [1.0 / b ** 0.8 for b in range(1, gen.N_BRANCHES + 1)]
    span = (MAX_DATE - TODAY).days + 4
    out = []
    for slot in slots:
        branch = rng.choices(range(1, gen.N_BRANCHES + 1), weights)[0]
        date = str(TODAY + dt.timedelta(days=rng.randrange(span) - 4))
        if slot in ("f", "t"):
            endpoint = "/forecast/" if slot == "f" else "/historical_trends/"
            bad = [{"date": "2025/03/01", "branch": branch}, {"branch": branch},
                   {"date": date, "branch": "b" + str(branch)}]
            if slot == "f":
                bad += [{"date": "2025-09-15", "branch": branch},
                        {"date": date, "branch": 999}]
            out.append(Request(endpoint, rng.choice(bad), 400, slot))
            continue
        cls = slot[2]
        mt = {"k": rng.choice(gen.MOVE_TYPES), "n": None, "u": "Storage"}[cls]
        endpoint = "/forecast/" if slot[0] == "F" else "/historical_trends/"
        window = clamp_window(dt.date.fromisoformat(date), TODAY, MAX_DATE)
        out.append(Request(endpoint, {"date": date, "branch": branch, "move_type": mt},
                           200, slot, (endpoint, branch, mt, window)))
    return out


def _post(port: int, req: Request, rid) -> tuple[int, dict | None]:
    body = dict(req.body, _rid=rid) if rid is not None else req.body
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", req.endpoint, body=json.dumps(body),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, json.loads(data) if data else None
    except (OSError, http.client.HTTPException, ValueError):
        return 0, None
    finally:
        conn.close()


def _send_lanes(lanes, port: int, tracer, trace: bool, done: list, t_start: float) -> None:
    """Each lane is one client's list of (request, request id), sent in
    order on its own thread; the lanes run together. Appends
    (request, status, body, seconds, request id, start offset) to ``done``."""
    lock = threading.Lock()

    def lane(items):
        for r, rid in items:
            rid = rid if trace else None
            with tracer.span("client.request", rid=rid):
                t0 = time.perf_counter()
                status, body = _post(port, r, rid)
                with lock:
                    done.append((r, status, body, time.perf_counter() - t0, rid, t0 - t_start))

    threads = [threading.Thread(target=lane, args=(items,)) for items in lanes]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class _Collects:
    """A DataFrame whose ``collect`` runs inside a span."""

    def __init__(self, df, tracer, name):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, item):
        return getattr(self._df, item)


def _instrument(tracer, server):
    """Wrap the engine's handler functions from here, leaving the engine
    unedited. The handler reads the request id the client put in the body."""
    originals = {k: getattr(server, k) for k in
                 ("forecast_response_dict", "trends_response_dict", "forecast_request", "trends_request")}

    def handler(fn, name):
        def wrapped(ctx, body):
            with tracer.span(name, rid=body.get("_rid")):
                return fn(ctx, body)
        return wrapped

    server.forecast_response_dict = handler(originals["forecast_response_dict"],
                                            "server.forecast_response_dict")
    server.trends_response_dict = handler(originals["trends_response_dict"],
                                          "server.trends_response_dict")
    server.forecast_request = tracer.wrap(
        originals["forecast_request"], "plans.service.forecast_request",
        result=lambda out: tuple(_Collects(df, tracer, "plans.service.forecast.collect") for df in out),
    )
    server.trends_request = tracer.wrap(
        originals["trends_request"], "plans.service.trends_request",
        result=lambda df: _Collects(df, tracer, "plans.service.trends.collect"),
    )


def _refresh(bench):
    """The nightly jobs: percentages and models written where the service
    reads them. Returns the output directory."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.plans.percentages import compute_percentages, write_percentages
    from move_forecast_ind_spark.plans.training import train_models
    from move_forecast_ind_spark.sources.models import save_registry

    spark, tr = bench.spark, bench.tracer
    lake, out = bench.lake / "lake", bench.lake / "out"
    shutil.rmtree(out, ignore_errors=True)
    hist = spark.read.parquet(str(lake / "historical_data.parquet"))
    fc = spark.read.parquet(str(lake / "forecasting_data.parquet"))
    with tr.span("plans.percentages.compute_percentages.call"):
        pct = compute_percentages(hist, "Branch", "MoveType", "Date", "Count")
    with tr.span("plans.percentages.compute_percentages.write"):
        write_percentages(pct, str(out / "pct"))
    daily = fc.groupBy(F.col("Branch").alias("branch"), F.col("Date").alias("ds")).agg(
        F.sum("Count").cast("double").alias("y"))
    with tr.span("plans.training.train_models.call"):
        models = train_models(daily, CUTOFF)
    with tr.span("plans.training.train_models.write"):
        save_registry(models, str(out / "models"))
    return out


def _start_service(bench, out, facts):
    """Service start: the refresh outputs read back and cached, with the
    cached facts, into a ServingContext."""
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.server import ServingContext
    from move_forecast_ind_spark.sources.models import load_registry

    spark = bench.spark
    pct = spark.read.parquet(str(out / "pct")).withColumn(
        "branch", F.col("branch").cast("long")).cache()
    models = load_registry(spark, str(out / "models")).cache()
    pct.count(), models.count()
    return ServingContext(
        spark=spark, models=models, pct=pct, facts=facts, branch_col="Branch",
        date_col="Date", count_col="Count", type_col="MoveType", today=TODAY,
        max_date=MAX_DATE, years=YEARS,
    )


def run(bench) -> dict:
    from move_forecast_ind_spark import server

    tr = bench.tracer
    if bench.trace:
        _instrument(tr, server)
    rng = random.Random(bench.seed)
    warm = _requests(random.Random(rng.random()), WARMUP)
    client_rngs = [random.Random(rng.random()) for _ in BLOCK]
    per_block = [[_requests(client_rngs[c], BLOCK[c]) for c in range(CLIENTS)]
                 for _ in range(MAX_BLOCKS)]

    t0 = time.perf_counter()
    with tr.span("setup.refresh"):
        out_dir = _refresh(bench)
    refresh_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    facts = bench.spark.read.parquet(str(bench.lake / "lake" / "historical_data.parquet")).cache()
    facts.count()
    facts_s = time.perf_counter() - t0
    start_s, ctx = [], None
    for _ in range(SETUPS):
        if ctx is not None:
            ctx.pct.unpersist()
            ctx.models.unpersist()
        t0 = time.perf_counter()
        with tr.span("setup.service_start"):
            ctx = _start_service(bench, out_dir, facts)
        start_s.append(time.perf_counter() - t0)
    httpd = server.serve(ctx)
    port = httpd.server_address[1]
    th = threading.Thread(target=httpd.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True)
    th.start()
    try:
        t0 = time.perf_counter()
        _send_lanes([[(r, f"w{i}")] for i, r in enumerate(warm)], port, tr, bench.trace, [], t0)
        warm_s = time.perf_counter() - t0

        done: list[tuple] = []
        walls: list[float] = []
        t_start = time.perf_counter()
        # Another block starts only if it would end nearer the run's
        # seconds than stopping now does.
        while not walls or (len(walls) < MAX_BLOCKS and 2 * (time.perf_counter() - t_start)
                                                      + median(walls) < 2 * bench.seconds):
            b, tb = len(walls), time.perf_counter()
            lanes = [[(r, f"c{c}.b{b}.{i}") for i, r in enumerate(reqs)]
                     for c, reqs in enumerate(per_block[b])]
            _send_lanes(lanes, port, tr, bench.trace, done, t_start)
            walls.append(time.perf_counter() - tb)
        wall = time.perf_counter() - t_start
        peak = bench.sampler.stop()
        checks = _check(bench, ctx, out_dir, done)
    finally:
        httpd.shutdown()
        httpd.server_close()
        th.join()

    failed = [x for x in done if x[1] != x[0].expected]
    penalty = wall  # a failed request ranks slower than every answered one

    def lat(endpoint):
        return [1000 * (x[3] + (penalty if x[1] != x[0].expected else 0.0))
                for x in done if x[0].endpoint == endpoint and x[0].expected == 200]

    f_lat, t_lat = lat("/forecast/"), lat("/historical_trends/")
    ft, fp, fn = tail(f_lat)
    tt, tp, tn = tail(t_lat)
    keys = [x[0].key for x in done if x[0].key is not None]
    mix: dict[str, int] = {}
    for x in done:
        mix[x[0].kind] = mix.get(x[0].kind, 0) + 1
    answered = len(done) - len(failed)
    metrics = {
        "setup_s": bench.get_spark_s + refresh_s + facts_s + median(start_s) + warm_s,
        "peak_rss_mb": peak["pss"],
        "latency_ms": sum(f_lat) / len(f_lat),
        "throughput_per_s": answered / wall,
    }
    bench.record.update({
        "setup": {"get_spark_s": bench.get_spark_s, "refresh_s": refresh_s,
                  "facts_cache_s": facts_s, "service_start_s": start_s, "warmup_s": warm_s},
        "serve": {
            "clients": CLIENTS, "blocks": len(walls), "block_walls_s": walls,
            "wall_s": wall, "requests": len(done),
            "forecast_mean_ms": sum(f_lat) / len(f_lat), "forecast_p50_ms": median(f_lat),
            "forecast_tail_ms": ft,
            "forecast_tail_pct": fp, "forecast_n": fn,
            "trends_p50_ms": median(t_lat), "trends_tail_ms": tt,
            "trends_tail_pct": tp, "trends_n": tn,
            "serve_rps": answered / wall,
            "mix_realised": mix,
            "repeated_key_share": (len(keys) - len(set(keys))) / len(keys) if keys else 0.0,
            "timeline": [(x[0].kind, x[1], round(x[5], 3), round(1000 * x[3], 1)) for x in done],
            "failed": [{"endpoint": x[0].endpoint, "body": x[0].body, "status": x[1],
                        "detail": (x[2] or {}).get("detail")} for x in failed],
        },
        "checks": checks,
    })
    if bench.trace:
        metrics.update(_layers(bench, done, out_dir))
        metrics["setup.refresh_s"] = refresh_s
        metrics["trace.latency_ms"] = metrics.pop("latency_ms")
        metrics["trace.throughput_per_s"] = metrics.pop("throughput_per_s")
    return {"correct": checks["ok"], "attempted": len(done), "failed": len(failed),
            "metrics": metrics}


def _check(bench, ctx, out_dir, done) -> dict:
    """Every answered body against a reference outside the engine's
    request path: the percentage table and the trends bodies against
    DuckDB twins, the forecast bodies against ``forecast_batch`` rows."""
    import duckdb
    from pyspark.sql import functions as F

    from move_forecast_ind_spark.plans.service import forecast_batch

    hist_path = str(bench.lake / "lake" / "historical_data.parquet")
    con = duckdb.connect()
    n_pct, pct_diff = pct_twin_diff(con, hist_path, str(out_dir / "pct"))

    ok_f = [x for x in done if x[0].endpoint == "/forecast/" and x[1] == 200 == x[0].expected]
    ok_t = [x for x in done if x[0].endpoint == "/historical_trends/" and x[1] == 200 == x[0].expected]
    ok_f, ok_t = ok_f[:CHECK_SAMPLE], ok_t[:CHECK_SAMPLE]

    f_good = 0
    if ok_f:
        reqs = bench.spark.createDataFrame(
            [(x[0].body["branch"], x[0].body["move_type"], dt.date.fromisoformat(x[0].body["date"]))
             for x in ok_f],
            "branch long, move_type string, input_date date",
        ).distinct()
        batch_dir = str(out_dir / "batch")
        tr = bench.tracer
        with tr.span("plans.service.forecast_batch.call"):
            batch = forecast_batch(bench.spark, ctx.models, ctx.pct, reqs, TODAY, MAX_DATE)
        with tr.span("plans.service.forecast_batch.write"):
            batch.select("branch", "move_type", F.col("input_date").cast("string"),
                         F.col("ds").cast("string"), "predicted_moves", "comment") \
                .write.mode("overwrite").parquet(batch_dir)
        # Keyed by the served move type: an unknown type and None are the
        # same request once demoted, so their rows collapse.
        rows: dict[tuple, dict] = {}
        for b, mt, d, ds, pm, cm in con.sql(
                f"SELECT branch, move_type, input_date, ds, predicted_moves, comment "
                f"FROM read_parquet('{batch_dir}/*.parquet')").fetchall():
            rows.setdefault((b, mt, d), {})[ds] = (ds, pm, cm)
        for x in ok_f:
            body, req = x[2], x[0].body
            served = req["move_type"] if req["move_type"] in gen.MOVE_TYPES else None
            exp = [v for _, v in sorted(rows.get((req["branch"], served, req["date"]), {}).items())]
            got = [(p["date"], p["predicted_moves"], p["comment"]) for p in body["predicted_summary"]]
            total = sum(r[1] for r in exp)
            f_good += bool(exp) and (
                got == exp and body["move_type"] == served
                and body["total_predicted_moves"] == total
                and body["average_daily_moves"] == int(total / len(exp) + 0.5)
                and body["forecast_window"] == {"start_date": exp[0][0], "end_date": exp[-1][0]}
            )

    t_good = 0
    for x in ok_t:
        body, req = x[2], x[0].body
        start, end = clamp_window(dt.date.fromisoformat(req["date"]), TODAY, MAX_DATE)
        want = trends_twin(con, hist_path, req["branch"], req["move_type"], start, end, YEARS)
        t_good += (body["historical_trends"] == want
                   and body["window"] == {"start_date": str(start), "end_date": str(end)})
    con.close()
    return {
        "ok": pct_diff == 0 and f_good == len(ok_f) and t_good == len(ok_t),
        "pct_rows": n_pct, "pct_differ": pct_diff,
        "forecast_bodies": f"{f_good}/{len(ok_f)}",
        "trends_bodies": f"{t_good}/{len(ok_t)}",
    }


def _dir_mb(path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20


def _layers(bench, done, out_dir) -> dict:
    """Per-request and per-step medians from the spans and the status store."""
    tr, st = bench.tracer, bench.status
    by_rid: dict[str, dict[str, list]] = {}
    for s in tr.spans:
        if s["rid"] is not None:
            by_rid.setdefault(s["rid"], {}).setdefault(s["name"], []).append(s)
    answered = {x[4]: x for x in done if x[1] == 200 == x[0].expected}

    def ms(s):
        return 1000.0 * (s["end"] - s["start"])

    def jobs(spans):
        return sum(st.group(s["group"])["jobs"] for s in spans)

    out: dict[str, float] = {}
    acc: dict[str, list] = {}
    for rid, spans in by_rid.items():
        if rid not in answered:
            continue
        for ep, handler in (("forecast", "server.forecast_response_dict"),
                            ("trends", "server.trends_response_dict")):
            if handler not in spans:
                continue
            h = spans[handler][0]
            req = spans[f"plans.service.{ep}_request"][0]
            coll = spans.get(f"plans.service.{ep}.collect", [])
            acc.setdefault(f"plans.service.{ep}_request.ms", []).append(ms(req))
            acc.setdefault(f"plans.service.{ep}_request.jobs", []).append(jobs([req]))
            acc.setdefault(f"plans.service.{ep}.collect_ms", []).append(sum(ms(c) for c in coll))
            acc.setdefault(f"plans.service.{ep}.jobs", []).append(jobs(coll))
            acc.setdefault(f"{handler}.self_ms", []).append(tr.self_ms(h))
            acc.setdefault("server.http_ms", []).append(ms(spans["client.request"][0]) - ms(h))
            acc.setdefault(f"server.{ep}.p50_ms", []).append(ms(spans["client.request"][0]))
    out.update({k: median(v) for k, v in acc.items()})

    for step in ("plans.percentages.compute_percentages", "plans.training.train_models",
                 "plans.service.forecast_batch"):
        calls, writes = tr.by_name(f"{step}.call"), tr.by_name(f"{step}.write")
        per: dict[str, list] = {}
        for c, w in zip(calls, writes):
            g1, g2 = st.group(c["group"]), st.group(w["group"])
            per.setdefault("call_ms", []).append(ms(c))
            per.setdefault("write_ms", []).append(ms(w))
            for k in ("jobs", "tasks", "shuffle_write_mb", "spill_mb"):
                per.setdefault(k, []).append(g1[k] + g2[k])
            per.setdefault("task_max_over_median", []).append(
                max(g1["task_max_over_median"], g2["task_max_over_median"]))
        out.update({f"{step}.{k}": median(v) for k, v in per.items()})
    out["sources.bytes_written_mb"] = _dir_mb(out_dir)
    out["session.get_spark_s"] = bench.get_spark_s
    return out
