"""Streaming tier tests — modeled on EventHubsSourceSuite (SURVEY §5
tier 3): proportional rate limiting with the reference's exact
rounding, slow-partition tracker math, and the native micro-batch
source (``EventHubsStreamReader``) driven in-process the way Spark's
engine drives it: progression, the maxRatePerPartition clamp,
slow-partition throttling, restart from the offset log, replay of a
planned-but-uncommitted batch and partitions added mid-stream."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from spark_eventhubs_spark.conf import EventHubsConf
from spark_eventhubs_spark.offsets import NameAndPartition, OffsetRange
from spark_eventhubs_spark.sources.datasource import (
    EventHubsStreamReader,
    RangeInputPartition,
    commit_staged_paths,
    register_eventhubs,
)
from spark_eventhubs_spark.sources.hub import SimulatedEventHubs
from spark_eventhubs_spark.sources.writer import write_eventhubs
from spark_eventhubs_spark.streaming.ratelimit import rate_limit
from spark_eventhubs_spark.streaming.tracker import PartitionsStatusTracker


# ---- rate limit math (ref EventHubsSource.scala:263-319, fixture from
#      EventHubsSourceSuite.scala:331-393: 101/11/1/0 skew) ----

def test_rate_limit_proportional_skewed():
    from_ = {0: 0, 1: 0, 2: 0, 3: 0}
    until = {0: 101, 1: 11, 2: 1, 3: 0}
    got = rate_limit(10, from_, until, from_)
    # p0: 10*101/113 = 8.93 -> floor 8; p1: 0.973 -> ceil 1; p2: 0.088 -> ceil 1
    assert got == {0: 8, 1: 1, 2: 1, 3: 0}


def test_rate_limit_passthrough_when_no_backlog():
    until = {0: 5, 1: 7}
    assert rate_limit(100, {0: 5, 1: 7}, until, {}) == until


def test_rate_limit_never_past_end():
    got = rate_limit(1000, {0: 0, 1: 0}, {0: 3, 1: 2}, {})
    assert got == {0: 3, 1: 2}


def test_rate_limit_new_partition_uses_from_new():
    got = rate_limit(10, {0: 0}, {0: 50, 1: 50}, {0: 0, 1: 0})
    assert got == {0: 5, 1: 5}


def test_rate_limit_performance_factor_throttles():
    # factor 0.5 on p0 halves its quota
    got = rate_limit(10, {0: 0, 1: 0}, {0: 100, 1: 100}, {}, {0: 0.5, 1: 1.0})
    assert got == {0: 2, 1: 5}  # 10*0.5*0.5=2.5 -> floor 2


# ---- tracker (ref PartitionsStatusTracker.scala) ----

def _ranges(sizes, name="eh", start=0):
    return [
        OffsetRange(NameAndPartition(name, pid), start, start + n)
        for pid, n in sizes.items()
    ]


def test_tracker_quorum_and_outlier_math():
    tr = PartitionsStatusTracker(partition_count=4, acceptable_batch_receive_time_ms=1000)
    tr.add_batch(0, _ranges({0: 100, 1: 100, 2: 100, 3: 100}))
    # only 2 of 4 updated -> below quorum (3) -> None
    tr.update_partition_performance(0, 0, 100, 10_000)
    tr.update_partition_performance(1, 0, 100, 1_000)
    assert tr.partitions_performance_percentage() is None
    # third update reaches quorum
    tr.update_partition_performance(2, 0, 100, 1_000)
    ppp = tr.partitions_performance_percentage()
    # per-event: p0=100, p1=10, p2=10 -> avg=40, std=sqrt(((60)^2+2*(30)^2)/3)=sqrt(1800)=42.43
    # p0: 100 > 82.43 -> 40/100 = 0.4 ; p1,p2: 1.0 ; p3 (no update): 1.0
    assert ppp is not None
    assert abs(ppp[0] - 0.4) < 1e-9
    assert ppp[1] == 1.0 and ppp[2] == 1.0 and ppp[3] == 1.0


def test_tracker_all_fast_returns_defaults():
    tr = PartitionsStatusTracker(partition_count=2, acceptable_batch_receive_time_ms=30_000)
    tr.add_batch(0, _ranges({0: 10, 1: 10}))
    tr.update_partition_performance(0, 0, 10, 100)
    tr.update_partition_performance(1, 0, 10, 900)
    # nobody exceeded acceptable time -> all 1.0 even though p1 is 9x slower
    assert tr.partitions_performance_percentage() == {0: 1.0, 1: 1.0}


def test_tracker_zero_size_partitions_count_as_updated():
    tr = PartitionsStatusTracker(partition_count=4, acceptable_batch_receive_time_ms=100)
    # p2, p3 have empty batches -> pre-updated; quorum (3) reached after 1 real update
    tr.add_batch(0, _ranges({0: 10, 1: 10}) + _ranges({2: 0, 3: 0}))
    tr.update_partition_performance(0, 0, 10, 2000)
    ppp = tr.partitions_performance_percentage()
    # per-event list = [200.0] (only p0; empties excluded) -> avg=200, std=0
    # p0: 200 > 200 is false -> 1.0 everywhere
    assert ppp == {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_tracker_window_eviction_and_stale_metrics():
    tr = PartitionsStatusTracker(partition_count=1, acceptable_batch_receive_time_ms=10)
    for b in range(4):
        tr.add_batch(b, _ranges({0: 5}, start=b * 5))
    assert tr.batch_ids_in_tracker == {1, 2, 3}  # batch 0 evicted (window=3)
    # stale metric for evicted batch 0 (requestSeqNo 0) is ignored
    tr.update_partition_performance(0, 0, 5, 99999)
    assert tr.partitions_performance_percentage() is None
    # metric for live batch 3 (requestSeqNo 15) lands
    tr.update_partition_performance(0, 15, 5, 50)
    assert tr.partitions_performance_percentage() == {0: 1.0}


def test_tracker_duplicate_batch_logged_not_fatal():
    tr = PartitionsStatusTracker(partition_count=1)
    tr.add_batch(0, _ranges({0: 5}))
    tr.add_batch(0, _ranges({0: 5}))  # logged error, no raise
    assert tr.batch_ids_in_tracker == {0}


# ---- native micro-batch source over a hub log ----

def _send(hub_dir, bodies, partition_id):
    """Append events pinned to one partition through the sink's commit."""
    staging = os.path.join(hub_dir, "_staging")
    os.makedirs(staging, exist_ok=True)
    path = os.path.join(staging, "send.parquet")
    n = len(bodies)
    papq.write_table(pa.table({
        "body": pa.array(bodies, pa.binary()),
        "partition": pa.array([str(partition_id)] * n, pa.string()),
        "partitionKey": pa.array([None] * n, pa.string()),
        "properties": pa.array([[]] * n, pa.map_(pa.string(), pa.string())),
    }), path)
    commit_staged_paths(hub_dir, [path], uuid.uuid4().hex, 4)


@pytest.fixture()
def stream_hub(tmp_path):
    hub = str(tmp_path / "hub")
    for pid in range(4):
        _send(hub, [str(pid * 100 + i).encode() for i in range(20)], pid)
    return hub


def _reader(hub, max_events=None):
    # EventHubsConf is a case-insensitive map, like the options Spark passes
    conf = EventHubsConf().set("path", hub)
    if max_events is not None:
        conf.set_max_events_per_trigger(max_events)
    return EventHubsStreamReader(conf)


def _run_batch(reader, start, end):
    """Plan and read one micro-batch: {partition: [seqNo, ...]}."""
    rows = {}
    for p in reader.partitions(start, end):
        for b in reader.read(p):
            rows.setdefault(p.partition_id, []).extend(
                b.column("sequenceNumber").to_pylist())
    return rows


def _drain(reader, start=None, max_batches=None):
    """Trigger until latestOffset admits nothing new, committing each
    batch as the engine does. Returns (last end offset, batches)."""
    start = start if start is not None else reader.initialOffset()
    batches = []
    while max_batches is None or len(batches) < max_batches:
        end = reader.latestOffset()
        if end == start:
            break
        batches.append(_run_batch(reader, start, end))
        reader.commit(end)
        start = end
    return start, batches


def _sizes(batches):
    return [{p: len(v) for p, v in b.items()} for b in batches]


def test_microbatch_progression_rate_limited(stream_hub):
    # 80 events, 40 per trigger -> 2 batches of 40 (10 per partition)
    _, batches = _drain(_reader(stream_hub, 40))
    assert _sizes(batches) == [{p: 10 for p in range(4)}] * 2


def test_microbatch_no_limit_single_batch(stream_hub):
    _, batches = _drain(_reader(stream_hub))
    assert _sizes(batches) == [{p: 20 for p in range(4)}]


def test_checkpoint_recovery_no_duplicates(stream_hub):
    """Stop after 1 batch, restart a fresh reader from the offset log's
    last end: every event is read exactly once
    (ref EventHubsSourceSuite recovery-after-restart behaviors)."""
    end, first = _drain(_reader(stream_hub, 24), max_batches=1)
    _, rest = _drain(_reader(stream_hub, 24), start=end)
    got = [(p, s) for b in first + rest for p, seqs in b.items() for s in seqs]
    assert sorted(got) == [(p, s) for p in range(4) for s in range(20)]


def test_uncommitted_batch_replayed(stream_hub):
    """A crash between planning and commit: the engine replays the
    logged (start, end) on a fresh reader, which plans the identical
    ranges and admits nothing beyond them."""
    r1 = _reader(stream_hub, 40)
    start0 = r1.initialOffset()
    end0 = r1.latestOffset()
    _run_batch(r1, start0, end0)
    r1.commit(end0)
    end1 = r1.latestOffset()
    planned = r1.partitions(end0, end1)
    before = _run_batch(r1, end0, end1)  # crash: no commit
    r2 = _reader(stream_hub, 40)
    assert r2.partitions(end0, end1) == planned
    assert _run_batch(r2, end0, end1) == before
    r2.commit(end1)
    assert r2.latestOffset() == end1


def test_stream_growing_hub_picks_up_new_events(stream_hub):
    reader = _reader(stream_hub)
    end, batches = _drain(reader)
    assert _sizes(batches) == [{p: 20 for p in range(4)}]
    _send(stream_hub, [b"new-1", b"new-2"], 0)
    _, batches = _drain(reader, start=end)
    assert batches == [{0: [20, 21]}]


def test_stream_to_hub_roundtrip_with_batchid_dedup(spark, stream_hub, tmp_path):
    """stream-in -> transform -> stream-out (ref EventHubsSinkSuite
    round-trip) on readStream.format("eventhubs"): micro-batches append
    to an output hub; re-running a batch with the same batchId is a
    no-op."""
    register_eventhubs(spark)
    out_hub = SimulatedEventHubs(spark, hub_dir=str(tmp_path / "out"), partition_count=4)

    def process(df, bid):
        body_str = df.select(F.col("body").cast("string").alias("body"))
        write_eventhubs(body_str, out_hub, batch_id=bid)
        write_eventhubs(body_str, out_hub, batch_id=bid)  # redelivery -> skipped

    q = (
        spark.readStream.format("eventhubs").option("path", stream_hub)
        .option("maxEventsPerTrigger", "40").load()
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="5 milliseconds").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = out_hub.dataframe()
    assert back.count() == 80
    vals = sorted(int(r["body"].decode()) for r in back.select("body").collect())
    assert vals == sorted(p * 100 + i for p in range(4) for i in range(20))


def test_slow_partition_adjustment_moduates_next_batch(stream_hub):
    """Scripted receive records throttle a slow partition's next quota
    (ref EventHubsSourceSuite.scala:780-1051 uses scripted updates via
    SimulatedPartitionStatusTracker the same way)."""
    conf = EventHubsConf().set("path", stream_hub).set_max_events_per_trigger(40)
    conf.set_slow_partition_adjustment(True)
    conf.set_max_acceptable_batch_receive_time_ms(100)
    reader = EventHubsStreamReader(conf)
    end, batches = _drain(reader, max_batches=1)
    assert _sizes(batches) == [{p: 10 for p in range(4)}]
    # read() left one receive record per range of batch 0
    receive_dir = os.path.join(stream_hub, "_cursors", "_Default.receive")
    assert sorted(os.listdir(receive_dir)) == [f"{p}-0.json" for p in range(4)]
    # script: partition 0 was pathologically slow in batch 0
    reader.record_receive(RangeInputPartition(stream_hub, 0, 0, 10), 10_000)  # 1000 ms/event
    for pid in (1, 2, 3):
        reader.record_receive(RangeInputPartition(stream_hub, pid, 0, 10), 100)  # 10 ms/event
    # avg=257.5, std=sqrt((742.5^2+3*157.5^2)/4)=sqrt(156431.25)=395.5
    # p0: 1000 > 653 -> factor 0.2575; quota 10*0.2575=2.575 -> floor 2
    _, batches = _drain(reader, start=end, max_batches=1)
    assert _sizes(batches) == [{0: 2, 1: 10, 2: 10, 3: 10}]
    # a fresh query on the same consumer group starts with no history
    EventHubsStreamReader(conf).initialOffset()
    assert os.listdir(os.path.join(stream_hub, "_cursors")) == ["_Default.json"]


def test_dynamic_partition_growth_mid_stream(stream_hub):
    """A partition that appears between micro-batches is planned from
    its default start position (ref EventHubsSourceSuite.scala:257-329;
    EventHubsSource.scala:183-192, 350-366)."""
    reader = _reader(stream_hub)
    end1, batches = _drain(reader)
    assert _sizes(batches) == [{p: 20 for p in range(4)}]  # the 4 original partitions

    # partition 4 appears with 7 events
    _send(stream_hub, [f"new-{i}".encode() for i in range(7)], 4)
    end2 = reader.latestOffset()
    parts = reader.partitions(end1, end2)
    assert [(p.partition_id, p.from_seq_no, p.until_seq_no) for p in parts] == [(4, 0, 7)]
    assert [r for b in reader.read(parts[0]) for r in b.column("partition").to_pylist()] == ["4"] * 7


def test_max_rate_per_partition_clamp(stream_hub):
    """The DStream-era maxRatePerPartition clamp on the native source:
    each micro-batch admits at most min(from + maxRate_p, latest) per
    partition (EventHubsDirectDStream.scala:97-105), per-partition
    overrides beating the global scalar (EventHubsConf.scala:344-346)."""
    conf = EventHubsConf().set("path", stream_hub).set_max_rate_per_partition(6)
    conf.set_max_rates_per_partition({0: 3})  # partition 0 tighter
    _, batches = _drain(EventHubsStreamReader(conf))
    # 20 events/partition: p0 at 3/batch -> 7 batches drain it; others
    # at 6/batch finish in 4
    sizes = _sizes(batches)
    assert len(sizes) == 7
    for batch in sizes:
        assert batch.get(0, 0) <= 3
        assert all(v <= 6 for v in batch.values())
    total = {}
    for batch in sizes:
        for p, v in batch.items():
            total[p] = total.get(p, 0) + v
    assert total == {p: 20 for p in range(4)}


def test_max_rate_unset_means_no_clamp(stream_hub):
    """Without the explicit knob, the source keeps SQL-source
    semantics: no per-partition cap, one batch drains everything. With
    slowPartitionAdjustment off, no tracker file is written."""
    _, batches = _drain(_reader(stream_hub))
    assert len(batches) == 1
    assert os.listdir(os.path.join(stream_hub, "_cursors")) == ["_Default.json"]
