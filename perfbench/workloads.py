"""The three workloads. Each returns a :class:`Result`.

``backlog_drain``  catch-up: drain a seeded, compacted backlog through
                   ``readStream.format("eventhubs")`` with
                   ``maxEventsPerTrigger``; reading is the connector's
                   only work (not declared in BENCHMARK.json, for time).
``live_stateful``  live tail: a separate open-loop producer process
                   commits appends while ``running_counters`` consumes
                   them; commits, state and per-trigger planning over a
                   growing file count dominate.
``catalog_slice``  batch operators: nine catalog entries, one per operator
                   module but graph, plus the hub-log query, each checked
                   against its DuckDB oracle.

See README.md for why each was chosen and what each metric should move.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

import connector
import gen
from spans import Tracer, pct

HERE = os.path.dirname(os.path.abspath(__file__))
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
SETUP_REPS = 3

# Frozen sizes (full run, smoke run). Changing any of them changes the
# benchmark and needs a new baseline.
SIZES = {
    "backlog_events": (80_000, 4_000),
    "backlog_users": (8_000, 400),
    "backlog_per_trigger": (8_000, 500),
    "live_init_events": (5_000, 500),
    "live_users": (2_000, 100),
    "live_appends_per_s": (10, 10),
    "live_events_per_append": (200, 10),
    "live_warmup_s": (1.0, 1.0),
    "catalog_sf": (0.005, 0.001),
    "commit_pass_appends": (20, 5),
    "capacity_appends": (40, 5),
}

# One entry per operator module except operators.graph, plus the
# connector-log query. graph_copurchase_pagerank is left out for time:
# its first call (~6.5 s) and two timed calls (~2.4 s each) would add
# ~11 s to every run of a workload that already takes ~60 s.
CATALOG = {
    "pipeline_clean_corpus": "operators.pipeline",
    "corpus_dsir_weights": "operators.corpus",
    "dedup_substring_spans": "operators.dedup",
    "search_hybrid_rrf": "operators.search",
    "search_recall_at_k": "operators.similarity",
    "embed_semdedup": "operators.clustering",
    "text_bigram_lm": "operators.text",
    "multimodal_wav_stats": "operators.multimodal",
    "hub_log_window_agg": "queries",
}


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    smoke: bool

    def size(self, key: str):
        return SIZES[key][1 if self.smoke else 0]

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def mark(self, stage: str) -> None:
        print(f"[perfbench] {time.perf_counter():8.1f} s  {stage}", file=sys.stderr, flush=True)


@dataclass
class Result:
    e2e: dict
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# shared steps
# ---------------------------------------------------------------------------

def _setup_hub(ctx: Ctx, events_path: str, name: str) -> tuple[str, float]:
    """Materialize the events file as a hub log SETUP_REPS times; return
    the last hub and the median set-up time."""
    from spark_eventhubs_spark.sources.datasource import materialize_hub

    times, hub = [], None
    for i in range(SETUP_REPS):
        if hub:
            shutil.rmtree(hub)
        hub = ctx.path(f"{name}-{i}")
        with ctx.tracer.span("setup", "materialize_hub"):
            t0 = time.perf_counter()
            materialize_hub(ctx.spark, events_path, hub)
            times.append(time.perf_counter() - t0)
    return hub, pct(times, 50)


def _progress(query) -> list[dict]:
    return [json.loads(p.json()) for p in query._jsq.recentProgress()]


def _wall(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _wait(cond, timeout: float, what: str, query=None) -> None:
    t_end = time.time() + timeout
    while not cond():
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"{what}: query failed: {query.exception()}")
        if time.time() > t_end:
            raise TimeoutError(f"{what}: not done after {timeout:.0f} s")
        time.sleep(0.01)


def _trigger_layers(ctx: Ctx, progress: list[dict], stateful: bool) -> dict:
    """Spark's per-trigger phase split, read from StreamingQueryProgress,
    plus trigger spans with one child span per phase."""
    out = {}
    shift = time.perf_counter() - time.time()
    cover = []
    for p in progress:
        d = p["durationMs"]
        t = _wall(p["timestamp"]) + shift
        tid = ctx.tracer.add("spark.trigger", f"batch{p['batchId']}", t,
                             t + d["triggerExecution"] / 1000.0)
        for ph in PHASES:
            ms = d.get(ph, 0)
            ctx.tracer.add(f"spark.trigger.{ph}", ph, t, t + ms / 1000.0, parent=tid)
            t += ms / 1000.0
        cover.append(sum(d.get(ph, 0) for ph in PHASES) / max(d["triggerExecution"], 1))
    for ph in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
        out[f"spark.trigger.{ph}_ms_p50"] = pct([p["durationMs"].get(ph, 0) for p in progress], 50)
    out["spark.trigger.triggerExecution_ms_p50"] = pct(
        [p["durationMs"]["triggerExecution"] for p in progress], 50)
    out["spark.trigger.phase_share_p50"] = pct(cover, 50)
    if stateful:
        ops = [p["stateOperators"][0] for p in progress]
        out["streaming.stateful.update_ms_p50"] = pct([o["allUpdatesTimeMs"] for o in ops], 50)
        out["streaming.stateful.commit_ms_p50"] = pct([o["commitTimeMs"] for o in ops], 50)
        out["streaming.stateful.state_rows_end"] = ops[-1]["numRowsTotal"]
        out["streaming.stateful.state_memory_bytes_end"] = ops[-1]["memoryUsedBytes"]
    return out


def _commit_pass(ctx: Ctx, hub: str, users: int) -> list[dict]:
    """In-process open-loop commits onto ``hub`` (traced runs of the
    workloads that have no producer of their own)."""
    from producer import run_schedule

    tables = gen.append_batches(ctx.seed + 7, ctx.size("commit_pass_appends"),
                                ctx.size("live_events_per_append"), users, 10**9)
    return run_schedule(hub, tables, ctx.size("live_appends_per_s"), time.time() + 0.05, "cp")


def _connector_layers(ctx: Ctx, hub: str, ranges, commits: list[dict],
                      max_per_trigger: int | None = None) -> dict:
    out = connector.replay(ctx.tracer, connector.reader_options(hub, "perfbench-direct",
                                                                max_per_trigger), ranges)
    out.update(connector.commit_metrics(commits))
    connector.add_commit_spans(ctx.tracer, commits, time.time(), time.perf_counter())
    out["hub.files_end"] = connector.hub_files(hub)
    return out


# ---------------------------------------------------------------------------
# backlog_drain
# ---------------------------------------------------------------------------

def _drain_sink(batches: list):
    from pyspark.sql import functions as F

    def sink(df, batch_id):
        rows = df.groupBy("partition").agg(
            F.count("*").alias("n"),
            F.sum("sequenceNumber").alias("seq_sum"),
            F.min("sequenceNumber").alias("lo"),
            F.max("sequenceNumber").alias("hi"),
            F.sum(F.length("body")).alias("body_bytes"),
        ).collect()
        batches.append((time.time(), [r.asDict() for r in rows]))

    return sink


def _check_drain(batches: list, expect: dict) -> int:
    """Exactly-once check of the drained prefix: per partition the
    batches tile ``[0, k)`` with dense, duplicate-free ranges and carry
    exactly the bodies of the first ``k`` events. Returns the number of
    failed micro-batches (a wrong prefix fails every batch)."""
    bad = set()
    for pid, body_cum in expect["body_cum"].items():
        rows = sorted(
            ((i, r) for i, (_, b) in enumerate(batches) for r in b if int(r["partition"]) == pid),
            key=lambda x: x[1]["lo"],
        )
        nxt, body = 0, 0
        for i, r in rows:
            dense = r["n"] == r["hi"] - r["lo"] + 1
            no_dup = r["seq_sum"] == (r["lo"] + r["hi"]) * r["n"] // 2
            if not (dense and no_dup and r["lo"] == nxt):
                bad.add(i)
            nxt = r["hi"] + 1
            body += r["body_bytes"]
        if nxt > expect["per_partition"][pid] or body != (int(body_cum[nxt - 1]) if nxt else 0):
            bad.update(range(len(batches)))
    return len(bad)


def backlog_drain(ctx: Ctx) -> Result:
    n = ctx.size("backlog_events")
    per_trigger = ctx.size("backlog_per_trigger")
    events = gen.events_table(ctx.seed, n, ctx.size("backlog_users"))
    expect = gen.hub_expectations(events)
    src = gen.write_events(ctx.path("in", "events.parquet"), events)
    ctx.mark("generated")
    hub, setup_s = _setup_hub(ctx, src, "hub")
    ctx.mark("set up")

    batches: list = []  # (sink completion wall time, per-partition rows)
    drained = lambda: sum(r["n"] for _, b in batches for r in b)  # noqa: E731
    sdf = (ctx.spark.readStream.format("eventhubs").option("path", hub)
           .option("maxEventsPerTrigger", str(per_trigger))
           .option("eventhubs.consumerGroup", "drain").load())
    with ctx.tracer.span("drain", "query"):
        q = (sdf.writeStream.foreachBatch(_drain_sink(batches))
             .option("checkpointLocation", ctx.path("ckpt", "drain"))
             .trigger(processingTime="0 seconds").start())
        try:
            # the first trigger also pays query start-up: it is the warm-up
            _wait(lambda: len(batches) >= 1, 120, "backlog first trigger", q)
            ctx.mark("first trigger")
            deadline = batches[0][0] + ctx.seconds
            _wait(lambda: time.time() >= deadline or drained() >= n, 150, "backlog drain", q)
            # stop on a trigger boundary, after the batch in flight lands
            k = len(batches)
            _wait(lambda: len(batches) > k or drained() >= n, 60, "backlog last trigger", q)
        finally:
            ctx.mark("measured")
            q.stop()
            ctx.mark("stopped")
    progress = [p for p in _progress(q) if p["numInputRows"] and p["batchId"] > 0]
    trig_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    timed = batches[1:]
    timed_events = sum(r["n"] for _, b in timed for r in b)

    res = Result(
        e2e={
            "setup_s": setup_s,
            "latency_ms_p50": pct(trig_ms, 50),
            "latency_ms_p90": pct(trig_ms, 90),
            "throughput_per_s": timed_events / (timed[-1][0] - batches[0][0]),
        },
        attempted=len(batches),
        failed=_check_drain(batches, expect),
        notes=[f"drained {drained()} of {n} events; {len(timed)} timed triggers"],
    )
    if ctx.tracer.enabled:
        res.layers = _trigger_layers(ctx, progress, False)
        commits = _commit_pass(ctx, hub, ctx.size("backlog_users"))
        res.layers.update(_connector_layers(
            ctx, hub, connector.progress_ranges(_progress(q)), commits, per_trigger))
    return res


# ---------------------------------------------------------------------------
# live_stateful
# ---------------------------------------------------------------------------

def live_stateful(ctx: Ctx) -> Result:
    from spark_eventhubs_spark.streaming.stateful import running_counters

    rate = ctx.size("live_appends_per_s")
    per_append = ctx.size("live_events_per_append")
    users = ctx.size("live_users")
    warm = ctx.size("live_warmup_s")
    n_init = ctx.size("live_init_events")
    init = gen.events_table(ctx.seed, n_init, users)
    init_counts = gen.hub_expectations(init)["per_user"]
    expect = dict(init_counts)
    src = gen.write_events(ctx.path("in", "events.parquet"), init)
    hub, setup_s = _setup_hub(ctx, src, "hub")
    ctx.mark("set up")

    # the producer's appends, staged as files it loads before its clock starts
    n_appends = int(round(rate * (warm + ctx.seconds)))
    tables = gen.append_batches(ctx.seed + 1, n_appends, per_append, users, n_init)
    adir = ctx.path("appends")
    os.makedirs(adir)
    dues_by_user: dict[str, list[int]] = {}
    for j, t in enumerate(tables):
        pq.write_table(t, os.path.join(adir, f"a{j:06d}.parquet"))
        for u in t.column("partitionKey").to_pylist():
            dues_by_user.setdefault(u, []).append(j)
            expect[u] = expect.get(u, 0) + 1

    emitted: list = []  # (emit wall time, {user: running count})

    def sink(df, batch_id):
        rows = df.select("user_id", "n_events").collect()
        emitted.append((time.time(), {r["user_id"]: r["n_events"] for r in rows}))

    sdf = (ctx.spark.readStream.format("eventhubs").option("path", hub)
           .option("eventhubs.consumerGroup", "live").load())
    q = (running_counters(sdf).writeStream.outputMode("update").foreachBatch(sink)
         .option("checkpointLocation", ctx.path("ckpt", "live"))
         .trigger(processingTime="0 seconds").start())
    proc = None
    try:
        # warm-up 1: the first trigger drains the materialized backlog
        _wait(lambda: len(emitted) >= 1, 120, "live first trigger", q)
        ctx.mark("first trigger")
        t_start = time.time() + 0.5
        spec = {"hub_dir": hub, "appends_dir": adir, "rate": rate, "t_start": t_start,
                "tag": "live", "partition_count": 4}
        with open(ctx.path("producer.json"), "w") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "producer.py"), ctx.path("producer.json"),
             ctx.path("producer-records.json")])
        t_end = t_start + warm + ctx.seconds
        # source lag as the measured window closes
        time.sleep(max(0.0, t_end - time.time()))
        lag_end = _source_lag(hub, q)
        if proc.wait(timeout=60) != 0:
            raise RuntimeError(f"producer exited with {proc.returncode}")

        def caught_up():
            last = {}
            for _, rows in emitted:
                last.update(rows)
            return all(last.get(u) == c for u, c in expect.items())

        ctx.mark("producer done")
        try:
            _wait(caught_up, 60, "live catch-up", q)
        except TimeoutError:
            pass  # counted below as missing or extra events
        ctx.mark("caught up")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        q.stop()
    progress = _progress(q)
    # append-path capacity, closed loop with the query stopped: under the
    # consumer's load the same appends vary by a third between runs
    from producer import run_schedule

    cap = run_schedule(hub, gen.append_batches(ctx.seed + 2, ctx.size("capacity_appends"),
                                               per_append, users, 10**9),
                       float("inf"), time.time(), "cap")
    cap_rate = pct([r["n"] / (r["end"] - r["start"]) for r in cap], 50)

    with open(ctx.path("producer-records.json")) as fh:
        records = json.load(fh)
    lo, hi = t_start + warm, t_start + warm + ctx.seconds
    measured = [r for r in records if lo <= r["due"] < hi]

    # per-event emission latency, from the due time of the event's append
    seen = dict(init_counts)
    lat = []
    for t_emit, rows in emitted[1:]:
        for u, n_now in rows.items():
            k0, k1 = seen.get(u, 0) - init_counts.get(u, 0), n_now - init_counts.get(u, 0)
            for j in dues_by_user.get(u, [])[max(k0, 0):k1]:
                due = t_start + j / rate
                if lo <= due < hi:
                    lat.append((t_emit - due) * 1000.0)
            seen[u] = max(seen.get(u, 0), n_now)

    last = {}
    for _, rows in emitted:
        last.update(rows)
    failed = sum(abs(last.get(u, 0) - c) for u, c in expect.items())
    attempted = sum(expect.values())
    append_ms = [(r["end"] - r["due"]) * 1000.0 for r in measured]
    res = Result(
        e2e={
            "setup_s": setup_s,
            "latency_ms_p50": pct(lat, 50),
            "latency_ms_p90": pct(lat, 90),
            "throughput_per_s": cap_rate,
        },
        attempted=attempted,
        failed=min(failed, attempted),
        notes=[f"{len(measured)} appends and {len(lat)} events measured, "
               f"append_ms p50 {pct(append_ms, 50):.1f} p95 {pct(append_ms, 95):.1f}"],
    )
    if ctx.tracer.enabled:
        # live triggers after the warm-up, catch-up included
        window = [p for p in progress if p["numInputRows"] and _wall(p["timestamp"]) >= lo]
        res.layers = _trigger_layers(ctx, window, True)
        res.layers["source.lag_events_end"] = lag_end
        res.layers["live.append_ms_p50"] = pct(append_ms, 50)
        res.layers["live.append_ms_p95"] = pct(append_ms, 95)
        res.layers.update(_connector_layers(
            ctx, hub, connector.progress_ranges(progress)[1:], measured))
    return res


def _source_lag(hub: str, q) -> int:
    from spark_eventhubs_spark.sources.datasource import hub_bounds

    latest = sum(hi for _, hi in hub_bounds(hub, 4).values())
    prog = _progress(q)
    if not prog:
        return latest
    end = connector.offset_dict(prog[-1]["sources"][0]["endOffset"])
    return latest - sum(int(v) for inner in end.values() for v in inner.values())


# ---------------------------------------------------------------------------
# catalog_slice
# ---------------------------------------------------------------------------

def catalog_slice(ctx: Ctx) -> Result:
    import duckdb

    import __spark_entry__ as entry
    from check_oracle import TABLES, frame_hash
    from spark_eventhubs_spark.plans.hubview import clear_cached_plans

    sf_dir = gen.write_catalog(ctx.path("sf"), ctx.seed, ctx.size("catalog_sf"))
    qs, oracles = entry.queries(), entry.oracle_sql()
    spark = ctx.spark
    attempted, failed = 0, 0
    last: dict = {}

    def one_pass(label: str) -> dict:
        nonlocal attempted, failed
        times = {}
        for name, module in CATALOG.items():
            # a fresh plan per call, and no collection of the previous
            # entry's garbage inside this entry's timing (as bench.py)
            clear_cached_plans(spark, "query")
            spark.sparkContext._jvm.System.gc()
            attempted += 1
            with ctx.tracer.span(module, name):
                t0 = time.perf_counter()
                try:
                    last[name] = qs[name](spark, sf_dir).toPandas()
                except Exception as e:  # one failing entry must not hide the rest
                    print(f"[perfbench] {label} {name} failed: {e}", file=sys.stderr)
                    failed += 1
                    last.pop(name, None)
                    continue
                times[name] = time.perf_counter() - t0
        return times

    # set-up: the first call of every entry builds its session-scoped
    # ingest artifacts and warms the JVM and Python workers
    with ctx.tracer.span("setup", "catalog_first_pass"):
        t0 = time.perf_counter()
        one_pass("setup")
        setup_s = time.perf_counter() - t0
    ctx.mark("catalog set up")

    samples: dict[str, list[float]] = {n: [] for n in CATALOG}
    deadline = time.time() + ctx.seconds
    passes = 0
    while True:
        with ctx.tracer.span("catalog.pass", f"pass{passes}"):
            for name, dt in one_pass(f"pass{passes}").items():
                samples[name].append(dt)
        passes += 1
        if time.time() >= deadline:
            break

    ctx.mark("catalog measured")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in CATALOG:
        sdf = last.get(name)
        if sdf is None:
            continue
        odf = con.sql(oracles[name]).df()
        if (len(sdf) != len(odf) or sorted(sdf.columns) != sorted(odf.columns)
                or frame_hash(sdf) != frame_hash(odf)):
            print(f"[perfbench] {name}: result differs from its DuckDB oracle", file=sys.stderr)
            failed += 1
    con.close()

    med = {n: float(np.median(v)) for n, v in samples.items() if v}
    slice_s = sum(med.values())
    res = Result(
        e2e={
            "setup_s": setup_s,
            "latency_ms_p50": pct([v * 1000.0 for v in med.values()], 50),
            "latency_ms_p90": pct([v * 1000.0 for v in med.values()], 90),
            "throughput_per_s": len(med) / slice_s,
        },
        attempted=attempted,
        failed=failed,
        notes=[f"{passes} timed passes, catalog_slice_s {slice_s:.3f}"],
    )
    if ctx.tracer.enabled:
        res.layers = {f"catalog.{n}_s": v for n, v in med.items()}
        res.layers["catalog_slice_s"] = slice_s
        from spark_eventhubs_spark.sources.datasource import hub_bounds, materialize_hub

        hub = materialize_hub(spark, os.path.join(sf_dir, "events.parquet"), ctx.path("hub"))
        ranges = connector.split_ranges(hub_bounds(hub, 4), 8, "hub")
        commits = _commit_pass(ctx, hub, 1000)
        res.layers.update(_connector_layers(ctx, hub, ranges, commits))
    return res


WORKLOADS = {
    "backlog_drain": backlog_drain,
    "live_stateful": live_stateful,
    "catalog_slice": catalog_slice,
}
