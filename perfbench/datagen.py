"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (and a size), so the same
seed always yields byte-identical inputs. Nothing here touches Spark: the
program under test only ever sees the files these functions write.

- ``write_tables``: the ten tables of ``proteus_spark.TABLES`` (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the column types of
  ``proteus_spark.schema.TESTDATA_SCHEMAS`` and value domains that mirror
  the fixture tables the registry's oracles were written against (prices
  with two decimals, discounts 0.00-0.10, dates at midnight, ...).
- ``VoteFeed``: the Lobsters-shaped vote stream for ``view_serving`` — an
  initial snapshot file plus one delta file per cycle, written with an
  atomic rename, with the generator's own running sums kept as the
  expected answer.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (the size of the sf0.01 fixture tables).
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "red", "small", "big", "green", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _days(start: dt.date, n: int, rng: np.random.Generator, span: int) -> pa.Array:
    """``n`` midnight timestamps in ``[start, start + span days)``."""
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts (the fixture tables never carry more digits)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten contract tables under ``out_dir`` as
    ``<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in BASE_ROWS.items()}
    rows: dict[str, int] = {}

    def emit(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(os.path.join(out_dir, f"{name}.parquet"), t)
        rows[name] = t.num_rows

    emit("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    emit("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    emit("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    emit("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    emit("part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    emit("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(dt.date(1995, 1, 1), no, rng, 2404),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    emit("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(dt.date(1995, 1, 2), nl, rng, 2498),
    })
    ne = n["events"]
    gaps = rng.integers(1, 2 * 259_000_000, ne)  # ~30 days over 10k events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    emit("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup operators need
            # real candidate pairs, as the fixture corpus has)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    emit("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emit("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows


VOTE_SCHEMA = pa.schema([("story_id", pa.int64()), ("vote", pa.int64())])
# Story popularity skew and up-vote share of the vote feed. Both are
# assumptions, not measured Lobsters traffic (see NOTES.md).
ZIPF_A = 1.2
UP_SHARE = 0.85


class VoteFeed:
    """Zipf-skewed story votes published as parquet files.

    ``publish`` writes into a staging dir and renames into ``src_dir``, so
    the file source never sees a partial file. ``sums`` is the generator's
    own running ``story_id -> SUM(vote)``; it is the expected answer for
    every read."""

    def __init__(self, src_dir: str, stage_dir: str, seed: int, stories: int):
        self.src_dir = src_dir
        self.stage_dir = stage_dir
        self.stories = stories
        self.rng = np.random.default_rng(seed)
        self.sums = np.zeros(stories, dtype=np.int64)
        self.files = 0
        self.bytes = 0
        os.makedirs(src_dir, exist_ok=True)
        os.makedirs(stage_dir, exist_ok=True)

    def _votes(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        ids = (self.rng.zipf(ZIPF_A, n) - 1) % self.stories
        # story ids are scattered, so the hot stories are not the low ids
        ids = (ids * 7919) % self.stories
        votes = np.where(self.rng.random(n) < UP_SHARE, 1, -1)
        return ids.astype(np.int64), votes.astype(np.int64)

    def snapshot(self, n: int) -> None:
        """Initial state: one vote for every story (so every story id is a
        valid point-lookup key) plus ``n`` skewed votes."""
        ids, votes = self._votes(n)
        ids = np.concatenate([np.arange(self.stories, dtype=np.int64), ids])
        votes = np.concatenate([np.ones(self.stories, dtype=np.int64), votes])
        self._publish(ids, votes)

    def delta(self, n: int) -> int:
        """One delta file of ``n`` votes; returns the rows written."""
        ids, votes = self._votes(n)
        self._publish(ids, votes)
        return n

    def _publish(self, ids: np.ndarray, votes: np.ndarray) -> None:
        np.add.at(self.sums, ids, votes)
        name = f"votes_{self.files:06d}.parquet"
        tmp = os.path.join(self.stage_dir, name)
        pq.write_table(pa.table({"story_id": ids, "vote": votes}, schema=VOTE_SCHEMA), tmp)
        self.bytes += os.path.getsize(tmp)
        os.replace(tmp, os.path.join(self.src_dir, name))
        self.files += 1

    def top(self, k: int) -> list[int]:
        """The k largest vote sums, descending (ties make the story ids
        ambiguous, so reads are checked on sums plus per-row membership)."""
        return sorted(self.sums.tolist(), reverse=True)[:k]

    def point_keys(self, n: int) -> np.ndarray:
        """Skewed point-lookup keys (readers favour hot stories too)."""
        return self._votes(n)[0]
