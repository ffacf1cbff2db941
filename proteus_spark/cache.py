"""Result cache with LRU eviction + version-based invalidation.

Reference parity (SURVEY §2.8): the CacheQPU memoizes ``QueryResp`` keyed
on the raw SQL string (internal/qpu_classes/cache/cache.go:81-153, LRU at
cache/lruCache/lruCache.go:16-155). On a miss it forwards to the adjacent
QPU, stores the result, and opens a QuerySubscribe stream whose FIRST
update notification invalidates the entry (lruCache.go:69-103,128-138) —
i.e. correctness is subscription-driven eviction.

Spark re-expression, strictly stronger:

- the cache key is ``(normalized SQL, (table, version), ...)`` — the
  version vector of every referenced source table is part of the key, so a
  stale hit is *impossible by construction* rather than prevented by a
  race-prone notification stream;
- ``bump(table)`` is the notification: it advances the table's version,
  which orphans every cached entry referencing it (subsequent lookups miss
  and recompute; orphans age out of the LRU). Streaming views plug their
  ``subscribe`` callback straight into ``bump`` — same wiring as the
  reference's cache→child QuerySubscribe, without the invalidation race;
- entries store the *materialized* result (schema + collected rows), like
  the reference's cached QueryResp — a lazy DataFrame would re-run the
  query on every access and cache nothing.

Scale note: this is a DRIVER-side memo for point/top-k results (the
reference caps cached responses the same way — its index lookups truncate
to 20 records, inMemIndex.go:245-247). ``max_rows`` refuses to cache large
results so the driver heap is never the bottleneck; big intermediate
results belong in ``spark.catalog.cacheTable`` / materialized views, not
here.
"""

from __future__ import annotations

import re
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def normalize_sql(sql: str) -> str:
    """Whitespace/case-normalized cache key. The reference keys on the raw
    string and separately caches parsed ASTs keyed on the query prefix
    (apiprocessor.go:335-390); one normalization pass subsumes both."""
    return " ".join(sql.split()).rstrip("; ").lower()


def referenced_tables(sql: str, known_tables: set[str]) -> tuple[str, ...]:
    """Tables out of ``known_tables`` mentioned in ``sql`` (token match).

    Deliberately conservative: a false positive only widens invalidation
    (extra recompute), never staleness. The reference does not track
    provenance at all — it invalidates on any child update.
    """
    toks = set(_IDENT.findall(normalize_sql(sql)))
    return tuple(sorted(toks & known_tables))


@dataclass
class CacheStats:
    hits: int = 0
    misses: int = 0
    evictions: int = 0
    uncacheable: int = 0
    invalidations: int = 0


@dataclass
class _Entry:
    schema: Any  # StructType of the cached result
    rows: list  # collected Rows
    tables: tuple[str, ...]


class ResultCache:
    """LRU of materialized query results, invalidated by table versions."""

    def __init__(self, capacity: int = 128, max_rows: int = 10_000):
        self.capacity = capacity
        self.max_rows = max_rows
        self.stats = CacheStats()
        self._lru: OrderedDict[tuple, _Entry] = OrderedDict()
        self._versions: dict[str, int] = {}

    # -- version plane (the notification stream) --------------------------
    def version(self, table: str) -> int:
        return self._versions.get(table, 0)

    def bump(self, table: str) -> None:
        """A source update happened: advance the version. All cached entries
        referencing ``table`` become unreachable (stale keys) and are
        dropped eagerly, mirroring the reference's notification-evict
        (lruCache.go:69-103)."""
        self._versions[table] = self.version(table) + 1
        stale = [k for k, e in self._lru.items() if table in e.tables]
        for k in stale:
            del self._lru[k]
            self.stats.invalidations += 1

    def subscriber(self, table: str):
        """Callback suitable for ``SumView.subscribe`` — wires a streaming
        view's update notifications into invalidation, the reference's
        cache→QuerySubscribe topology."""

        def _cb(_delta, _epoch) -> None:
            self.bump(table)

        return _cb

    # -- cache plane -------------------------------------------------------
    def _key(self, sql: str, known_tables: set[str]) -> tuple:
        tabs = referenced_tables(sql, known_tables)
        return (
            normalize_sql(sql),
            tuple((t, self.version(t)) for t in tabs),
        )

    def get(self, sql: str, known_tables: set[str]) -> _Entry | None:
        key = self._key(sql, known_tables)
        entry = self._lru.get(key)
        if entry is None:
            self.stats.misses += 1
            return None
        self._lru.move_to_end(key)  # LRU touch (lruCache.go:38-46)
        self.stats.hits += 1
        return entry

    def put(self, sql: str, known_tables: set[str], schema, rows: list) -> None:
        if len(rows) > self.max_rows:
            self.stats.uncacheable += 1
            return
        key = self._key(sql, known_tables)
        self._lru[key] = _Entry(
            schema=schema, rows=rows, tables=referenced_tables(sql, known_tables)
        )
        self._lru.move_to_end(key)
        while len(self._lru) > self.capacity:
            self._lru.popitem(last=False)
            self.stats.evictions += 1

    def __len__(self) -> int:
        return len(self._lru)


class CachedEngine:
    """Engine facade with the CacheQPU in front (cache.go:81-153):
    miss → delegate to the engine, materialize, store; hit → rebuild a
    DataFrame from the cached rows without touching the cluster."""

    def __init__(self, engine, capacity: int = 128, max_rows: int = 10_000):
        self.engine = engine
        self.cache = ResultCache(capacity=capacity, max_rows=max_rows)

    def _known(self) -> set[str]:
        return set(self.engine.tables())

    def query(self, sql: str):
        entry = self.cache.get(sql, self._known())
        if entry is None:
            df = self.engine.query(sql)
            # probe with LIMIT max_rows+1 instead of a full collect: an
            # over-limit result stays on the executors (CollectLimit
            # short-circuits) rather than materializing on the driver only
            # to be refused by put() — the hot-path collect() the reference
            # cache never pays either (it caps at the index's 20-record
            # truncation, inMemIndex.go:245-247).
            probe = df.limit(self.cache.max_rows + 1).collect()
            if len(probe) <= self.cache.max_rows:
                self.cache.put(sql, self._known(), df.schema, probe)
            else:
                self.cache.stats.uncacheable += 1
            return df
        return self.engine.spark.createDataFrame(entry.rows, schema=entry.schema)

    def query_unary(self, sql: str) -> list[dict[str, str]]:
        rows = self.query(sql).collect()
        return [
            {k: ("" if v is None else str(v)) for k, v in row.asDict().items()}
            for row in rows
        ]

    def invalidate(self, table: str) -> None:
        self.cache.bump(table)
