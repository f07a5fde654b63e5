"""Open-loop hub producer.

Append ``j`` is due at ``t_start + j / rate`` whatever the hub's speed:
the producer sleeps until each due time, stages the append as a parquet
file and commits it with ``commit_staged_paths``. A slow commit makes
later appends start late; their latency still counts from the due time,
and the lateness itself is recorded.

Run as a script it is the separate, single-threaded producer process of
the ``live_stateful`` workload:

    python3 producer.py <spec.json> <records.json>
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow.parquet as pq


def run_schedule(hub_dir: str, tables: list, rate: float, t_start: float,
                 tag: str, partition_count: int = 4) -> list[dict]:
    """Commit ``tables`` on the schedule; one record per append with
    wall-clock ``due``, ``start``, ``staged`` and ``end`` times. With
    ``rate=inf`` every append is due at once: a closed loop."""
    from spark_eventhubs_spark.sources.datasource import commit_staged_paths

    staging = os.path.join(hub_dir, "_staging")
    os.makedirs(staging, exist_ok=True)
    records = []
    for j, tbl in enumerate(tables):
        due = t_start + j / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        start = time.time()
        path = os.path.join(staging, f"{tag}-{j:06d}.parquet")
        pq.write_table(tbl, path)
        staged = time.time()
        n = commit_staged_paths(hub_dir, [path], f"{tag}{j:06d}", partition_count)
        records.append({"due": due, "start": start, "staged": staged,
                        "end": time.time(), "n": n})
    return records


def main(spec_path: str, out_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    d = spec["appends_dir"]
    tables = [pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))]
    recs = run_schedule(spec["hub_dir"], tables, spec["rate"], spec["t_start"],
                        spec["tag"], spec["partition_count"])
    with open(out_path, "w") as fh:
        json.dump(recs, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
