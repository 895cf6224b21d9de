"""One benchmark run in a fresh process.

    python3 perfbench/worker.py --workload W --seed S --seconds T --trace 0|1 \
        --data DIR --work DIR --out FILE

``run.py`` starts this process with its temporary directories pointed inside
the checkout, waits for it and prints the result.  The worker sets the engine
up exactly as ``get_spark()`` configures it (the traced run adds only the
event log), runs one workload, checks the outputs, and writes one JSON
result to ``--out``.

Every layer is timed from outside the package, around calls to its public
functions: ``plans.REGISTRY[name].fn`` and the frame's ``toPandas()``;
``streaming.pipelines.feedback_age_bins`` through this module's own
``StreamingQueryListener``; ``ml.recommend``; ``serving.make_server`` with
timing proxies for ``RecommenderState`` and ``CountsProvider``;
``session.get_spark``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime

import eventlog
import payloads
import stats
from spans import Tracer, now_ms, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PHASES = ("analysis", "optimization", "planning")
# Order of the micro-batch steps inside one trigger (MicroBatchExecution):
# offsets are logged before the batch runs and committed after it.
TRIGGER_STEPS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
MB = 1024 * 1024

sys.path.insert(0, ROOT)

from datagen import TABLES  # noqa: E402


def sf_path(data: str, sf: float) -> str:
    return os.path.join(data, f"sf{sf:g}")


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def pct_metric(values: list[float], q: float, unit: str) -> dict:
    """A named percentile with its sample count and how many samples lie
    beyond it."""
    return {"unit": unit, "samples": len(values), "beyond": stats.beyond(len(values), q),
            "value": stats.percentile(values, q) if values else None}


# --------------------------------------------------------------------------
# session


def start_session(trace: bool, work: str):
    """Import the engine and build its session; event log only when traced."""
    from modelorecomendacion_analisisspark_streaming_mas_spark import get_spark

    extra = None
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
        }
    return get_spark(app_name="perfbench", extra_conf=extra)


def warm_up(spark, work: str) -> None:
    """Pay the engine's first-use costs (class loading, code generation,
    Python worker start, package shipping, the first streaming query's state
    store and checkpoint set-up) on generated data, so no catalog entry
    carries them for being first.  Uses no catalog entry."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from modelorecomendacion_analisisspark_streaming_mas_spark.shipping import ensure_package_shipped

    a = spark.range(20000).select(
        (F.col("id") % 101).alias("k"), F.col("id").alias("v"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("s"),
    )
    b = spark.range(101).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    agg = a.join(b, "k").groupBy("k", "w").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"), F.max("s").alias("ms")
    )
    ranked = agg.withColumn("rk", F.row_number().over(Window.orderBy(F.desc("sv"), "k")))
    ranked.mapInPandas(lambda it: it, ranked.schema).toPandas()
    ensure_package_shipped(spark)

    src = os.path.join(work, "warmup-src")
    a.write.parquet(src)
    (
        spark.readStream.schema(a.schema).parquet(src).groupBy("k").count()
        .writeStream.format("memory").queryName("warmup").outputMode("complete")
        .option("checkpointLocation", os.path.join(work, "warmup-ckpt"))
        .trigger(availableNow=True).start().awaitTermination()
    )


def progress_listener():
    """The benchmark's StreamingQueryListener: keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.rows: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            ops = p.stateOperators
            self.rows.append({
                "run_id": str(p.runId),
                "batch": p.batchId,
                "start_ms": iso_ms(p.timestamp),
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mem": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "end_offsets": [s.endOffset for s in p.sources],
            })

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return ProgressListener()


def streaming_layer(rows: list[dict], lags: list[float] | None = None) -> dict[str, float]:
    """streaming.* per-layer metrics over the progress events ``rows``."""
    busy = [r for r in rows if r["rows"] > 0]

    def p50(key: str) -> float:
        vals = [r["duration"].get(key, 0) for r in busy]
        return stats.percentile(vals, 50) if vals else 0.0

    out = {
        "streaming.triggers": len(rows),
        "streaming.empty_trigger_ratio": (len(rows) - len(busy)) / len(rows) if rows else 0.0,
        "streaming.trigger_ms": p50("triggerExecution"),
        "streaming.latest_offset_ms": p50("latestOffset"),
        "streaming.get_batch_ms": p50("getBatch"),
        "streaming.query_planning_ms": p50("queryPlanning"),
        "streaming.add_batch_ms": p50("addBatch"),
        "streaming.wal_commit_ms": p50("walCommit"),
        "streaming.commit_offsets_ms": p50("commitOffsets"),
        "streaming.state_rows": max((r["state_rows"] for r in rows), default=0),
        "streaming.state_mem_mb": max((r["state_mem"] for r in rows), default=0) / MB,
        "streaming.state_commit_ms": (
            stats.percentile([r["state_commit_ms"] for r in busy], 50) if busy else 0.0
        ),
        "streaming.input_lag_ms": stats.percentile(lags, 50) if lags else 0.0,
    }
    return out


def trigger_spans(tracer: Tracer, rows: list[dict], parents: list[int] = ()) -> None:
    """One span per trigger, its steps laid end to end inside it.  A trigger
    that starts inside one of the ``parents`` spans becomes its child."""
    for r in rows:
        total = r["duration"].get("triggerExecution", 0)
        parent = next((p for p in parents
                       if tracer.spans[p].start_ms <= r["start_ms"] <= tracer.spans[p].end_ms), None)
        sid = tracer.add("trigger", r["start_ms"], r["start_ms"] + total, parent, batch=r["batch"])
        t = r["start_ms"]
        for step in TRIGGER_STEPS:
            d = r["duration"].get(step, 0)
            if d:
                tracer.add(f"trigger.{step}", t, t + d, sid)
                t += d


# --------------------------------------------------------------------------
# catalog workloads


def canon(df):
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def frames_match(got, want) -> str | None:
    """None when the frames match under the catalog's oracle contract
    (sorted columns, sorted rows, exact values, identical rendering);
    otherwise the reason they differ."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e).splitlines()[0]}"
    if a.to_csv(index=False, float_format="%.6f") != b.to_csv(index=False, float_format="%.6f"):
        return "rendered values differ"
    return None


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in PHASES:
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run_catalog(spark, cfg: dict, args, tracer: Tracer, listener) -> dict:
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY

    todo = list(cfg["entries"])
    random.Random(args.seed).shuffle(todo)
    entries, frames = [], {}
    pass_start = time.perf_counter()
    for item in todo:
        name, sf_dir = item["name"], sf_path(args.data, item["sf"])
        rec = {"name": name, "family": family(name), "sf_dir": sf_dir, "error": None}
        with tracer.span("entry", entry=name) as sid:
            t0, w0 = time.perf_counter(), now_ms()
            try:
                with tracer.span("entry.build", sid) as bid:
                    rec["build_span"] = bid
                    df = REGISTRY[name].fn(spark, sf_dir)
                t1, w1 = time.perf_counter(), now_ms()
                with tracer.span("entry.collect", sid):
                    frames[name] = df.toPandas()
            except Exception as e:  # an entry that raises is a failed operation
                rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                t1, w1, df = time.perf_counter(), now_ms(), None
            t2, w2 = time.perf_counter(), now_ms()
        rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0,
                   build_window=(w0, w1), collect_window=(w1, w2))
        if tracer.enabled and df is not None:
            rec["catalyst_ms"] = catalyst_phases(df)
        entries.append(rec)
    pass_wall = time.perf_counter() - pass_start

    # Correctness, off the clock: every frame against its DuckDB oracle.
    import duckdb

    cons = {}
    for rec in entries:
        if rec["error"]:
            continue
        got, q = frames[rec["name"]], REGISTRY[rec["name"]]
        if q.oracle is not None:
            if rec["sf_dir"] not in cons:
                cons[rec["sf_dir"]] = con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{rec['sf_dir']}/{t}.parquet'")
            rec["error"] = frames_match(got, cons[rec["sf_dir"]].execute(q.oracle).df())
        else:
            cols = cfg["rows_only_columns"][rec["name"]]
            if len(got) == 0 or sorted(got.columns) != sorted(cols):
                rec["error"] = f"rows-only check: {len(got)} rows, columns {sorted(got.columns)}"
    for con in cons.values():
        con.close()

    walls = [r["wall_s"] for r in entries]
    out = {
        "attempted": len(entries),
        "failed": sum(1 for r in entries if r["error"]),
        "contract": {
            # A handful of heterogeneous entries supports no percentile;
            # their geometric mean is the usual summary of a fixed query set.
            "op_ms": stats.geomean(walls) * 1000,
            "result_ms": pass_wall * 1000,
        },
        "e2e": {
            "pass_wall_s": {"unit": "s", "samples": 1, "value": pass_wall},
            "query_p50_s": pct_metric(walls, 50, "s"),
            "query_p75_s": pct_metric(walls, 75, "s"),
        },
        "checks": [{"op": r["name"], "ok": not r["error"], "detail": r["error"]} for r in entries],
        "entries": entries,
    }
    if tracer.enabled:
        out["windows"] = (
            [(f"{r['name']}:build", *r["build_window"]) for r in entries]
            + [(f"{r['name']}:collect", *r["collect_window"]) for r in entries]
        )
        lay = {
            "plans.build_s": sum(r["build_s"] for r in entries),
            "plans.collect_s": sum(r["collect_s"] for r in entries),
        }
        for fam in {r["family"] for r in entries}:
            lay[f"plans.{fam}.wall_s"] = sum(r["wall_s"] for r in entries if r["family"] == fam)
        for ph in PHASES:
            lay[f"catalyst.{ph}_ms"] = sum(r.get("catalyst_ms", {}).get(ph, 0.0) for r in entries)
        lay.update(streaming_layer(listener.rows))
        trigger_spans(tracer, listener.rows, [r["build_span"] for r in entries if "build_span" in r])
        out["per_layer"] = lay
    return out


# --------------------------------------------------------------------------
# live-dashboard


def payload_column(seed: int):
    """The feedback JSON for rate ``value``; mirrors payloads.feedback_fields."""
    from pyspark.sql import functions as F

    k = payloads.seed_key(seed)
    v = F.col("value")

    def pick(values, mul):
        idx = (F.pmod(v * mul + k, len(values)) + 1).cast("int")
        return F.element_at(F.array(*[F.lit(x) for x in values]), idx)

    age = (F.pmod(v * payloads.AGE_MUL + k * payloads.SEED_MUL, payloads.AGE_SPAN) + payloads.AGE_LO)
    rating = F.struct(
        (F.pmod(v, payloads.N_FILMS) + 1).cast("int").alias("filmId"),
        (F.pmod(v * 3, 5) + 1).cast("int").alias("rating"),
    )
    return F.to_json(F.struct(
        pick(payloads.GENDERS, payloads.GENDER_MUL).alias("gender"),
        pick(payloads.OCCUPATIONS, payloads.OCC_MUL).alias("occupation"),
        age.cast("int").alias("age"),
        F.array(rating).alias("ratings"),
    ))


class TimedRecommender:
    """Timing proxy handed to make_server in place of RecommenderState."""

    def __init__(self, inner) -> None:
        self._inner = inner
        self.calls: list[tuple[float, float, tuple]] = []

    def recommend(self, seed_ratings, top_n: int = 5):
        t0 = now_ms()
        out = self._inner.recommend(seed_ratings, top_n=top_n)
        self.calls.append((t0, now_ms(), tuple(seed_ratings)))
        return out


class TimedFetch:
    """Timing proxy for the callable a CountsProvider pulls rows through."""

    def __init__(self, fetch) -> None:
        self._fetch = fetch
        self.calls: list[tuple[float, float]] = []

    def __call__(self):
        t0 = now_ms()
        rows = self._fetch()
        self.calls.append((t0, now_ms()))
        return rows


def wait_for(cond, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def run_live(spark, cfg: dict, args, tracer: Tracer, listener, setup: dict) -> dict:
    import pyarrow.parquet as pq

    from modelorecomendacion_analisisspark_streaming_mas_spark.ml.recommend import (
        fold_in, ratings_from_testdata, train_eval,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.serving.app import (
        CountsProvider, RecommenderState, make_server,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.pipelines import (
        feedback_age_bins,
    )

    sf_dir = sf_path(args.data, cfg["sf"])
    # ---- set-up: ALS factors; build_als defaults are the reference's
    # rank 20, 15 iterations, regParam 0.1
    with tracer.span("ml.ratings"):
        t = time.perf_counter()
        ratings = ratings_from_testdata(spark, sf_dir)
        setup["ml.ratings_s"] = time.perf_counter() - t
    with tracer.span("ml.fit"):
        t = time.perf_counter()
        model, rmse = train_eval(ratings, seed=42)
        setup["ml.fit_s"] = time.perf_counter() - t
    setup["ml.rmse"] = rmse
    part = pq.read_table(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_name"]).to_pydict()
    titles = dict(zip(part["p_partkey"], part["p_name"]))
    with tracer.span("ml.factor_load"):
        t = time.perf_counter()
        state = RecommenderState.from_model(model, titles)
        setup["ml.factor_load_s"] = time.perf_counter() - t

    # ---- set-up: the live aggregate and the server
    rps = cfg["rows_per_second"]
    ckpt = os.path.join(args.work, "live-checkpoint")
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rps)
        .option("numPartitions", 1)
        .load()
    )
    counts_plan = feedback_age_bins(rate.select(payload_column(args.seed).alias("value")), "value")
    counts_plan = counts_plan.groupBy("gender", "age_bin").count()
    query = (
        counts_plan.writeStream.format("memory").queryName("live_counts")
        .outputMode("complete").option("checkpointLocation", ckpt).start()
    )
    fetch = lambda: spark.table("live_counts").collect()  # noqa: E731
    recommender = state
    if tracer.enabled:
        fetch, recommender = TimedFetch(fetch), TimedRecommender(state)
    spool = os.path.join(args.work, "spool.jsonl")
    server = make_server(0, recommender=recommender, counts=CountsProvider(fetch), spool_path=spool)
    port = server.server_address[1]
    server_thread = threading.Thread(target=server.serve_forever, daemon=True)
    server_thread.start()
    # The first triggers carry query start-up (state store, code
    # generation) and the first request of each kind the handlers' first
    # use; they are this workload's warm-up.
    with tracer.span("session.warmup"):
        t = time.perf_counter()
        wait_for(lambda: sum(1 for r in listener.rows if r["rows"] > 0) >= cfg["warm_triggers"],
                 90, "the stream's first triggers")
        base = f"http://127.0.0.1:{port}"
        body = json.dumps({"ratings": [{"filmId": 1, "rating": 5}]}).encode()
        for req in (urllib.request.Request(f"{base}/recommend", data=body), f"{base}/counts"):
            with urllib.request.urlopen(req, timeout=30) as resp:
                resp.read()
        setup["session.warmup_s"] = time.perf_counter() - t

    # ---- measured window: open-loop client in its own process
    setup_done = time.perf_counter()
    start = time.time() + 0.5
    client_out = os.path.join(args.work, "client.json")
    client = subprocess.Popen([
        sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(port),
        "--seed", str(args.seed), "--start", str(start), "--seconds", str(args.seconds),
        "--items", str(len(titles)), "--out", client_out,
    ])
    try:
        client.wait(timeout=args.seconds + 60)
    finally:
        if client.poll() is None:
            client.kill()
            client.wait()
    end = time.time()
    win_lo, win_hi = start * 1000, end * 1000

    query.stop()
    last = query.lastProgress
    if last is not None:
        wait_for(lambda: any(r["batch"] == last["batchId"] for r in listener.rows), 10, "last progress")
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/counts", timeout=30) as resp:
        status, body = resp.status, json.loads(resp.read())
    server.shutdown()
    server.server_close()
    with open(client_out) as f:
        reqs = json.load(f)

    # ---- correctness
    checks = []
    committed = sum(r["rows"] for r in listener.rows)
    table = {(row["gender"], row["age_bin"]): row["count"] for row in body["counts"]}
    n_table = sum(table.values())
    # A stop can land after a batch reached the memory sink and before its
    # commit; the table then holds one batch more than the progress events.
    ok = status == 200 and n_table >= committed and table == payloads.expected_counts(n_table, args.seed)
    checks.append({"op": "final /counts", "ok": ok,
                   "detail": None if ok else f"table rows {n_table}, committed {committed}",
                   "committed_rows": committed, "table_rows": n_table})
    recs = [r for r in reqs["recommend"] if r["status"] == 200]
    for r in random.Random(args.seed).sample(recs, min(20, len(recs))):
        seed_ratings = payloads.recommend_ratings(r["i"], args.seed, len(titles))
        want = [[i, round(s, 4)] for i, s in fold_in(state.item_ids, state.Y, seed_ratings)]
        got = [[x["filmId"], x["score"]] for x in json.loads(r["body"])["recommendations"]]
        checks.append({"op": f"/recommend #{r['i']}", "ok": got == want,
                       "detail": None if got == want else f"{got} vs {want}"})
    acked = {r["i"] for r in reqs["submit"] if r["status"] == 200}
    spooled = []
    if os.path.exists(spool):  # created by the first acknowledged /submit
        with open(spool) as f:
            spooled = [json.loads(line)["id"] for line in f]
    ok = len(spooled) == len(acked) and set(spooled) == acked
    checks.append({"op": "spool", "ok": ok,
                   "detail": None if ok else f"{len(spooled)} lines for {len(acked)} acks"})

    # ---- metrics
    batches = [r for r in listener.rows if win_lo <= r["start_ms"] <= win_hi]
    creation_ms = float(open(os.path.join(ckpt, "sources", "0", "0")).read().split()[1])
    e2r, lags = [], []
    for r in batches:
        if r["rows"] == 0:
            continue
        newest = creation_ms + float(r["end_offsets"][0]) * 1000 - 1000 / rps
        e2r.append(r["start_ms"] + r["duration"]["triggerExecution"] - newest)
        lags.append(r["start_ms"] - newest)
    lat = {k: [x["latency_s"] * 1000 for x in v if x["status"] == 200] for k, v in reqs.items()}
    all_reqs = [x for v in reqs.values() for x in v]
    non_2xx = sum(1 for x in all_reqs if not 200 <= x["status"] < 300)
    wrong = sum(1 for c in checks if not c["ok"])
    pooled = [x["latency_s"] * 1000 for x in all_reqs if x["status"] == 200]
    e2e = {
        "event_to_result_p50_ms": pct_metric(e2r, 50, "ms"),
        "event_to_result_p90_ms": pct_metric(e2r, 90, "ms"),
        "recommend_p50_ms": pct_metric(lat["recommend"], 50, "ms"),
        "recommend_p90_ms": pct_metric(lat["recommend"], 90, "ms"),
        "counts_p50_ms": pct_metric(lat["counts"], 50, "ms"),
        "counts_p90_ms": pct_metric(lat["counts"], 90, "ms"),
        "submit_p90_ms": pct_metric(lat["submit"], 90, "ms"),
    }
    out = {
        "attempted": len(all_reqs) + len(batches) + 2,
        "failed": non_2xx + wrong,
        "contract": {
            "op_ms": stats.percentile(pooled, 90),
            "result_ms": stats.percentile(e2r, 50),
        },
        "e2e": e2e,
        "checks": checks,
        "setup_end": setup_done,
    }
    if tracer.enabled:
        out["windows"] = [("live", win_lo, win_hi)]
        trigger_spans(tracer, batches)
        handler = {"recommend": list(recommender.calls), "counts": list(fetch.calls)}
        by_payload = {c[2]: c for c in handler["recommend"]}
        http_ms = []
        for kind, rs in reqs.items():
            for x in rs:
                sid = tracer.add(f"request.{kind}", x["due"] * 1000, x["done"] * 1000, late_ms=x["late_s"] * 1000)
                call = None
                if kind == "recommend":
                    key = tuple(payloads.recommend_ratings(x["i"], args.seed, len(titles)))
                    call = by_payload.get(tuple((f, float(r)) for f, r in key))
                elif kind == "counts":
                    call = next((c for c in handler["counts"]
                                 if x["sent"] * 1000 <= c[0] and c[1] <= x["done"] * 1000), None)
                if call is not None:
                    tracer.add(f"handler.{kind}", call[0], call[1], sid)
                    http_ms.append((x["done"] - x["sent"]) * 1000 - (call[1] - call[0]))
        lay = {
            "serving.recommend_call_ms": stats.percentile([b - a for a, b, _ in handler["recommend"]], 50)
            if handler["recommend"] else 0.0,
            "serving.counts_fetch_ms": stats.percentile([b - a for a, b in handler["counts"]], 50)
            if handler["counts"] else 0.0,
            "serving.http_ms": stats.percentile(http_ms, 50) if http_ms else 0.0,
            "serving.client_late_ms": stats.percentile([x["late_s"] * 1000 for x in all_reqs], 90),
            "serving.requests": len(all_reqs),
            "serving.non_2xx": non_2xx,
        }
        lay.update(streaming_layer(batches, lags))
        out["per_layer"] = lay
    return out


# --------------------------------------------------------------------------


def main() -> None:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)["workloads"][args.workload]
    tracer = Tracer(bool(args.trace))

    setup: dict[str, float] = {}
    with tracer.span("session.start"):
        spark = start_session(tracer.enabled, args.work)
    setup["session.start_s"] = time.perf_counter() - t_start
    if cfg["kind"] == "catalog":
        with tracer.span("session.warmup"):
            t = time.perf_counter()
            warm_up(spark, args.work)
            setup["session.warmup_s"] = time.perf_counter() - t
    listener = None
    if tracer.enabled or cfg["kind"] == "live":
        listener = progress_listener()
        spark.streams.addListener(listener)

    if cfg["kind"] == "live":
        res = run_live(spark, cfg, args, tracer, listener, setup)
        setup_s = res.pop("setup_end") - t_start
    else:
        setup_s = time.perf_counter() - t_start
        res = run_catalog(spark, cfg, args, tracer, listener)

    py_mb = vm_hwm_mb(os.getpid())
    jvm_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    spark.stop()

    res["contract"]["setup_s"] = setup_s
    res["e2e"]["setup_s"] = {"unit": "s", "samples": 1, "value": setup_s}
    res["e2e"]["peak_rss_mb"] = {"unit": "MB", "samples": 1, "value": py_mb + jvm_mb}
    res["e2e"]["failed_ops_ratio"] = {
        "unit": "ratio", "samples": res["attempted"], "value": res["failed"] / res["attempted"],
    }
    if tracer.enabled:
        # Layers a workload does not exercise are left out and read as 0.
        lay = res["per_layer"]
        lay.update(setup)
        lay["session.jvm_rss_mb"] = jvm_mb
        lay["session.py_rss_mb"] = py_mb
        logdir = os.path.join(args.work, "eventlog")
        logs = [os.path.join(logdir, n) for n in os.listdir(logdir)]
        windows = res.pop("windows")
        agg = eventlog.aggregate(eventlog.read_events(max(logs, key=os.path.getmtime)), windows)
        total = {k: sum(a[k] for a in agg.values()) for k in eventlog.FIELDS}
        lay["plans.build_jobs"] = sum(a["jobs"] for w, a in agg.items() if w.endswith(":build"))
        lay["plans.collect_jobs"] = sum(a["jobs"] for w, a in agg.items() if w.endswith(":collect"))
        for k in ("tasks", "task_s", "task_cpu_s", "gc_s", "sched_delay_s", "input_mb",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            lay[f"exec.{k}"] = total[k]
        lay["arrow.python_s"] = total["python_s"]
        lay["arrow.rows"] = total["python_rows"]
        res["exec_windows"] = agg
        res["spans"] = tracer.to_json()
        res["self_times"] = self_times(tracer.spans)
    res["correct"] = res["failed"] == 0
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
