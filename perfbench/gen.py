"""Seeded input generators.

Every workload's input comes from here and depends only on the seed and
the size arguments, so the same seed gives byte-identical parquet files.
The program under test receives only the written files; the expected
answers the checks use are returned beside them and never shown to it.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITIONS = 4
EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
_T0_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
_MONTH_US = 30 * 86_400 * 1_000_000


def zipf_users(rng: np.random.Generator, n: int, n_users: int, a: float = 1.2) -> np.ndarray:
    """``n`` user ids in [0, n_users) with a Zipf(a) head.

    Ranks are shuffled onto ids, so the hottest users land on arbitrary
    hub partitions (``user_id % 4``) and the partitions come out skewed.
    """
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks ** -a
    p /= p.sum()
    ids = rng.permutation(n_users)
    return ids[rng.choice(n_users, size=n, p=p)].astype(np.int64)


def events_table(seed: int, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """The raw ``events`` schema (event_id, ts, user_id, event_type,
    value, props) that ``materialize_hub`` ingests: Zipf user keys,
    uniform event types, ``props = {"k": 0..99}``, and distinct
    microsecond timestamps spread over one month."""
    rng = np.random.default_rng(seed)
    ts = _T0_US + np.sort(rng.choice(_MONTH_US, size=n, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(zipf_users(rng, n, n_users)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(40.0, n) + 0.01, 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def hub_expectations(events: pa.Table) -> dict:
    """What the hub must hold after ``materialize_hub`` (partition =
    ``user_id % 4``): per-partition and per-user counts, and per-partition
    running body sizes in sequence-number order."""
    users = events.column("user_id").to_numpy()
    parts = users % PARTITIONS
    ids = events.column("event_id").to_numpy()
    # sequence order inside a partition is (ts, event_id); ts is distinct
    order = np.argsort(events.column("ts").to_numpy(), kind="stable")
    body_len = np.char.str_len(ids.astype(str))
    uniq, cnt = np.unique(users, return_counts=True)
    return {
        "per_partition": {p: int((parts == p).sum()) for p in range(PARTITIONS)},
        # body bytes of the first k events of partition p: body_cum[p][k - 1]
        "body_cum": {p: np.cumsum(body_len[order][parts[order] == p])
                     for p in range(PARTITIONS)},
        "per_user": {str(u): int(c) for u, c in zip(uniq, cnt)},
    }


def write_events(path: str, events: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(events, path)
    return path


def append_batches(seed: int, n_appends: int, per_append: int, n_users: int,
                   first_id: int) -> list[pa.Table]:
    """The live producer's appends, in the staging schema the hub writer
    commits (body, partition, partitionKey, properties). ``partition`` is
    null so the commit routes each event by its ``partitionKey`` hash."""
    rng = np.random.default_rng(seed)
    out = []
    eid = first_id
    for _ in range(n_appends):
        users = zipf_users(rng, per_append, n_users)
        types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), per_append)]
        ks = rng.integers(0, 100, per_append)
        ids = range(eid, eid + per_append)
        eid += per_append
        out.append(
            pa.table(
                {
                    "body": pa.array([str(i).encode() for i in ids], pa.binary()),
                    "partition": pa.array([None] * per_append, pa.string()),
                    "partitionKey": pa.array([str(u) for u in users], pa.string()),
                    "properties": pa.array(
                        [
                            [("event_type", str(t)), ("user_id", str(u)), ("k", str(k))]
                            for t, u, k in zip(types, users, ks)
                        ],
                        pa.map_(pa.string(), pa.string()),
                    ),
                }
            )
        )
    return out


# ---------------------------------------------------------------------------
# catalog tables: the TPC-H-like star schema plus events, documents and
# embeddings, in the column types the catalog entries and their DuckDB
# oracles read
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
_P_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector index shard cache plan node edge graph rank token"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
_D0_US = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
_DAY_US = 86_400 * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, days):
    return pa.array(_D0_US + rng.integers(0, days, n) * _DAY_US, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.08:
            # near-duplicate of an earlier document: the dedup entries
            # need overlapping text to have work to do
            words = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 90)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] * 0.6 + rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_e = int(1_500_000 * sf), int(1_000_000 * sf)
    n_l, n_d = 4 * n_o, int(50_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(range(n_c)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": i32(rng.integers(0, 25, n_c)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_c)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(n_s)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": i32(rng.integers(0, 25, n_s)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": i64(range(n_p)),
            "p_name": pa.array(
                [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_p, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": pa.array(np.array(_P_TYPES)[rng.integers(0, 6, n_p)]),
            "p_size": i32(rng.integers(1, 51, n_p)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) / 10, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(range(n_o)),
            "o_custkey": i64(rng.integers(0, n_c, n_o)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_o)),
            "o_orderdate": _dates(rng, n_o, 2404),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_o)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_o, n_l)),
            "l_partkey": i64(rng.integers(0, n_p, n_l)),
            "l_suppkey": i64(rng.integers(0, n_s, n_l)),
            "l_linenumber": i32(rng.integers(1, 8, n_l)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
            "l_shipdate": _dates(rng, n_l, 2500),
        }
    )
    t["events"] = events_table(int(rng.integers(1 << 31)), n_e, max(15, int(15_000 * sf)))
    t["documents"] = _documents(rng, n_d)
    t["embeddings"] = _embeddings(rng, max(50, int(20_000 * sf)))
    return t


def write_catalog(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in catalog_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
