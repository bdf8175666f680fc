"""Seeded inputs for the benchmark.

`write_tables` writes the ten engine tables (the TPC-H-like star schema plus
`events`, `documents` and `embeddings`) as single-row-group parquet files whose
schemas and value domains follow the repository's test fixture.  `CdcStream`
generates the `cdc_ingest` change epochs and keeps the benchmark's own model of
the keyed table they produce; `duckdb_merge` is the independent one-shot
versioned merge the final table state is checked against.

Everything is a pure function of the seed: the same seed gives the same bytes.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the scale-0.01 shapes of the test fixture, a tenth of the
# scale-0.1 fixture the repository's own bench reads (see README.md for why).
# `cdc_ingest` raises `events` to the 100k rows its table starts from.  Every
# table fits in memory many times.
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def make_tables(seed: int, sizes: dict[str, int] = SIZES) -> dict[str, pa.Table]:
    """Build every table in memory from `seed`."""
    rng = np.random.default_rng(seed)
    n = sizes
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    partkey = np.arange(n["part"], dtype="int64")
    retail = np.round(900 + (partkey % 1000) / 10, 1)
    t["part"] = pa.table(
        {
            "p_partkey": partkey,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": _choice(rng, PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
            "p_retailprice": retail,
        }
    )
    orderdate = _EPOCH_1995_US + rng.integers(0, 2404, n["orders"]) * _DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n["orders"]), 2),
            "o_orderdate": _ts(orderdate),
            "o_orderpriority": _choice(rng, PRIORITIES, n["orders"]),
        }
    )
    li_order = rng.integers(0, n["orders"], n["lineitem"])
    li_part = rng.integers(0, n["part"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": li_part,
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[li_part], 2),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _choice(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _ts(
                orderdate[li_order] + rng.integers(1, 122, n["lineitem"]) * _DAY_US
            ),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n["events"])) + _EPOCH_2024_US
    t["events"] = pa.table(
        {
            "event_id": np.arange(n["events"], dtype="int64"),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, 1500, n["events"]),
            "event_type": _choice(rng, EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(100.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    emb = rng.standard_normal((n["embeddings"], 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n["embeddings"], dtype="int64"),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n["embeddings"]).astype("int32"),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ~5% are near-duplicates of an earlier
    document (a copy with a trailing marker word) and ~1% exact copies, so
    the dedup operators have clusters to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.choice(VOCAB, rng.integers(10, 101))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": _choice(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def write_tables(seed: int, out_dir: str, sizes: dict[str, int] = SIZES) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; returns bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name, table in make_tables(seed, sizes).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)
        written[name] = os.path.getsize(path)
    return written


# ---------------------------------------------------------------------------
# CDC change stream and the benchmark's key model
# ---------------------------------------------------------------------------

CDC_COLUMNS = ("event_id", "user_id", "event_type", "value")
CDC_BASE_ROWS = 100_000  # rows of `events` the CDC table starts from


def row_crc(key: int, user_id: int, event_type: str, value: float, version: int) -> int:
    """Per-row checksum term; `head_checksum_sql` computes the same value in
    Spark SQL (value is compared in cents, as an integer)."""
    s = f"{key}|{user_id}|{event_type}|{round(value * 100)}|{version}"
    return zlib.crc32(s.encode())


# Spark SQL twin of `row_crc`, summed over a frame with the CDC columns.
HEAD_CHECKSUM_SQL = (
    "coalesce(sum(crc32(concat_ws('|', event_id, user_id, event_type, "
    "CAST(round(value * 100) AS BIGINT), version))), 0)"
)


@dataclass
class Epoch:
    """One change file: `rows` are JSON-ready dicts; `expect` holds the
    change-feed counts its commit must produce."""

    rows: list[dict]
    expect: dict[str, int] = field(default_factory=dict)


# The change mix.  No CDC traffic has been measured for this repository, so
# each rate is either taken from a shape the repository already defines or
# marked as chosen.
NEW_KEY_SHARE = 0.8  # chosen; the paper's stream is insert-only (see below)
UPDATE_SHARE = 2 / 3  # of the corrections; from the stream_cdc_upsert waves
HOT_SHARE = 0.7  # chosen: corrections that hit the newest tenth of the keys
RESEND_SHARE = 0.1  # from stream_dedup_replay: 10% of events delivered twice


class CdcStream:
    """Seeded change epochs over the `events` base table plus the model of
    the keyed table they produce.

    Each epoch carries `changes` rows with distinct keys:

    - new keys above every key so far (`NEW_KEY_SHARE`).  The paper's stream
      is new trip messages: its producer iterates the trip CSV and sends
      each row, one new trip, once.  That insert-only shape is the only one
      on record; the 20% of corrections below is chosen, so that the update
      and delete paths are exercised;
    - corrections of existing keys, updates and deletes 2 : 1
      (`UPDATE_SHARE`), the ratio of the registered `stream_cdc_upsert` /
      `stream_mor_cdc` waves (upserts of doc_id % 3 and % 6 against deletes
      of doc_id % 4: 1/2 of the keys against 1/4).  `HOT_SHARE` of them hit
      the newest tenth of the key space, where recent trips are; this skew
      is chosen, not measured.

    A key's change version is the epoch number, so versions increase per
    key.  An epoch built with `resend=True` also re-sends `RESEND_SHARE` as
    many rows again, verbatim, from an earlier epoch: the at-least-once
    redelivery of the reference producer (acks=all with retries), at the
    rate of the registered `stream_dedup_replay` query.  A stale re-send
    must change nothing.
    """

    def __init__(self, seed: int, base: pa.Table, changes: int = 2_000):
        self.rng = np.random.default_rng(seed + 1)
        self.changes = changes
        self.n_base = base.num_rows
        self.next_new_key = self.n_base  # one above the highest key so far
        cols = base.select(list(CDC_COLUMNS)).to_pydict()
        # key -> (version, user_id, event_type, value, deleted)
        self.state: dict[int, tuple] = {
            k: (0, u, e, v, False)
            for k, u, e, v in zip(
                cols["event_id"], cols["user_id"], cols["event_type"], cols["value"]
            )
        }
        self.live_rows = self.n_base
        self.checksum = sum(
            row_crc(k, s[1], s[2], s[3], 0) for k, s in self.state.items()
        )
        self.history: list[list[dict]] = []

    def next_epoch(self, resend: bool = False) -> Epoch:
        rows = self._fresh_rows(version=len(self.history) + 1)
        stale = []
        if resend and self.history:
            old = self.history[self.rng.integers(0, len(self.history))]
            n = min(round(self.changes * RESEND_SHARE), len(old))
            stale = [old[i] for i in self.rng.choice(len(old), n, replace=False)]
        self.history.append(rows)
        epoch = Epoch(rows=rows + stale)
        epoch.expect = self.apply(epoch.rows)
        return epoch

    def _fresh_rows(self, version: int) -> list[dict]:
        rng = self.rng
        top = self.next_new_key
        n_new = round(self.changes * NEW_KEY_SHARE)
        n_fix = self.changes - n_new
        n_hot = round(n_fix * HOT_SHARE)
        hot_lo = top - self.n_base // 10
        hot = hot_lo + rng.choice(top - hot_lo, n_hot, replace=False)
        cold = rng.choice(top, n_fix - n_hot, replace=False)
        fixes = list(dict.fromkeys(int(k) for k in np.concatenate([hot, cold])))
        is_delete = rng.random(len(fixes)) >= UPDATE_SHARE
        self.next_new_key += n_new
        changes = list(zip(fixes, is_delete)) + [(k, False) for k in range(top, top + n_new)]
        rows = []
        for k, is_delete in changes:
            rows.append(
                {
                    "event_id": k,
                    "user_id": int(rng.integers(0, 1500)),
                    "event_type": EVENT_TYPES[rng.integers(0, 5)],
                    "value": round(float(rng.exponential(100.0)), 2),
                    "version": version,
                    "op": "d" if is_delete else "u",
                }
            )
        return rows

    def apply(self, rows: list[dict]) -> dict[str, int]:
        """Fold `rows` into the model (highest version wins; a tie is the
        same change re-sent); returns the expected change-feed counts."""
        counts = {"insert": 0, "update": 0, "delete": 0}
        for r in rows:
            k = r["event_id"]
            old = self.state.get(k)
            if old is not None and old[0] >= r["version"]:
                continue
            was_live = old is not None and not old[4]
            if was_live:
                self.checksum -= row_crc(k, old[1], old[2], old[3], old[0])
                self.live_rows -= 1
            if r["op"] == "d":
                self.state[k] = (r["version"], None, None, None, True)
                if was_live:
                    counts["delete"] += 1
                continue
            self.state[k] = (r["version"], r["user_id"], r["event_type"], r["value"], False)
            self.checksum += row_crc(k, r["user_id"], r["event_type"], r["value"], r["version"])
            self.live_rows += 1
            counts["update" if was_live else "insert"] += 1
        return counts

    def live(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int]:
        """(row count, checksum) of the live rows, optionally for keys in
        [lo, hi]."""
        if lo is None:
            return self.live_rows, self.checksum
        n = s = 0
        for k, st in self.state.items():
            if lo <= k <= hi and not st[4]:
                n += 1
                s += row_crc(k, st[1], st[2], st[3], st[0])
        return n, s

    def snapshot(self) -> dict[int, tuple]:
        return {
            k: (st[1], st[2], st[3], st[0]) for k, st in self.state.items() if not st[4]
        }


def write_epoch(rows: list[dict], path: str) -> int:
    """Write one epoch as JSON lines; returns its size in bytes."""
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return os.path.getsize(path)


def duckdb_merge(base_parquet: str, change_glob: str) -> dict[int, tuple]:
    """One-shot versioned merge of the base table and every change file:
    the highest version per key wins, deletes drop the key."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH allrows AS (
                SELECT event_id, user_id, event_type, value,
                       0 AS version, 'u' AS op
                FROM read_parquet('{base_parquet}')
                UNION ALL
                SELECT event_id, user_id, event_type, value, version, op
                FROM read_json('{change_glob}', format='newline_delimited',
                    columns={{event_id: 'BIGINT', user_id: 'BIGINT',
                              event_type: 'VARCHAR', value: 'DOUBLE',
                              version: 'INTEGER', op: 'VARCHAR'}})
            )
            SELECT event_id, user_id, event_type, value, version, op
            FROM allrows
            QUALIFY row_number() OVER (
                PARTITION BY event_id ORDER BY version DESC) = 1
            """
        ).fetchall()
    finally:
        con.close()
    return {k: (u, e, v, ver) for k, u, e, v, ver, op in rows if op != "d"}
