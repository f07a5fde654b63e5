"""Direct, single-process pass over the connector's layers (no Spark).

The benchmark calls the public functions of ``sources.datasource``
itself, around spans:

- plan: ``EventHubsStreamReader.latestOffset``, ``.partitions`` and
  ``hub_bounds``;
- read: ``EventHubsStreamReader.read`` on each ``RangeInputPartition``;
- commit: ``commit_staged_paths``, driven by the open-loop producer.

Replaying the exact per-trigger offset ranges a Spark query planned
gives the single-process baseline for the read and plan layers.
"""

from __future__ import annotations

import json
import os

from spans import Tracer, pct


def progress_ranges(progress: list[dict]) -> list[tuple[dict, dict]]:
    """(start, end) offsets of every non-empty trigger, from Spark's
    ``StreamingQueryProgress`` records."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        end = offset_dict(src["endOffset"])
        start = offset_dict(src.get("startOffset")) or {name: {} for name in end}
        out.append((start, end))
    return out


def offset_dict(offset) -> dict:
    """A progress record's source offset, which Spark reports either as
    JSON text or already parsed (``None`` before the first batch)."""
    return json.loads(offset) if isinstance(offset, str) else (offset or {})


def split_ranges(bounds: dict, n_triggers: int, name: str) -> list[tuple[dict, dict]]:
    """Cut each partition's [earliest, latest) into ``n_triggers`` equal
    consecutive slices, one slice per partition per synthetic trigger."""
    out = []
    for i in range(n_triggers):
        start = {name: {str(p): lo + (hi - lo) * i // n_triggers
                        for p, (lo, hi) in bounds.items()}}
        end = {name: {str(p): lo + (hi - lo) * (i + 1) // n_triggers
                      for p, (lo, hi) in bounds.items()}}
        out.append((start, end))
    return out


def reader_options(hub_dir: str, group: str, max_per_trigger: int | None = None) -> dict:
    opts = {"path": hub_dir, "eventhubs.consumerGroup": group,
            "eventhubs.partitionCount": "4"}
    if max_per_trigger:
        opts["maxEventsPerTrigger"] = str(max_per_trigger)
    return opts


def replay(tracer: Tracer, options: dict, ranges: list[tuple[dict, dict]]) -> dict:
    """Plan and read every range with a fresh ``EventHubsStreamReader``.

    Returns the read/plan layer metrics. ``tracer`` must be enabled."""
    from spark_eventhubs_spark.sources.datasource import EventHubsStreamReader, hub_bounds

    reader = EventHubsStreamReader(options)
    skews, events, read_ms = [], 0, 0.0
    for start, end in ranges:
        with tracer.span("connector.trigger", "replay"):
            with tracer.span("sources.datasource.plan", "latestOffset"):
                reader.latestOffset()
            with tracer.span("sources.datasource.plan", "hub_bounds"):
                hub_bounds(reader.hub_dir, 4)
            with tracer.span("sources.datasource.plan", "partitions"):
                parts = reader.partitions(start, end)
            durs = []
            for p in parts:
                with tracer.span("sources.datasource.read", "range") as sp:
                    n = sum(b.num_rows for b in reader.read(p))
                if n != p.until_seq_no - p.from_seq_no:
                    raise RuntimeError(f"direct read returned {n} rows for {p}")
                durs.append((sp["end"] - sp["start"]) * 1000.0)
                events += n
            if durs:
                read_ms += sum(durs)
                skews.append(max(durs) / pct(durs, 50))
    ranges_ms = tracer.durations_ms("sources.datasource.read", "range")
    return {
        "sources.datasource.plan.latestOffset_ms_p50":
            pct(tracer.durations_ms("sources.datasource.plan", "latestOffset"), 50),
        "sources.datasource.plan.partitions_ms_p50":
            pct(tracer.durations_ms("sources.datasource.plan", "partitions"), 50),
        "sources.datasource.plan.hub_bounds_ms_p50":
            pct(tracer.durations_ms("sources.datasource.plan", "hub_bounds"), 50),
        "sources.datasource.read.range_ms_p50": pct(ranges_ms, 50),
        "sources.datasource.read.range_ms_p90": pct(ranges_ms, 90),
        "sources.datasource.read.us_per_event": read_ms * 1000.0 / max(events, 1),
        "sources.datasource.read.range_skew": pct(skews, 50),
    }


def commit_metrics(records: list[dict]) -> dict:
    """Commit-layer and generator metrics from producer records."""
    commit_ms = [(r["end"] - r["staged"]) * 1000.0 for r in records]
    return {
        "sources.datasource.commit.ms_p50": pct(commit_ms, 50),
        "sources.datasource.commit.events_per_s":
            sum(r["n"] for r in records) / (sum(commit_ms) / 1000.0),
        "generator.late_ms_p95": pct([(r["start"] - r["due"]) * 1000.0 for r in records], 95),
    }


def add_commit_spans(tracer: Tracer, records: list[dict], t_wall0: float, t_perf0: float) -> None:
    """Producer records use wall-clock time; map them onto the tracer's
    perf_counter axis and record append > commit spans."""
    shift = t_perf0 - t_wall0
    for r in records:
        sid = tracer.add("generator.append", "append", r["start"] + shift, r["end"] + shift)
        tracer.add("sources.datasource.commit", "commit_staged_paths",
                   r["staged"] + shift, r["end"] + shift, parent=sid)


def hub_files(hub_dir: str) -> int:
    return sum(
        1
        for name in os.listdir(hub_dir) if name.startswith("partition=")
        for f in os.listdir(os.path.join(hub_dir, name))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
