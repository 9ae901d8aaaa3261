"""The package's two cache mechanisms: a memo tied to file identity,
and a bounded registry of cached Spark relations.

memo(key, token, build) is the one memo for values derived from files
that can change under a fixed path (catalog DataFrames and shard
copies, trained quantizers). The key names WHAT is cached and
always carries the path; the token (usually `file_token(path)`) says
WHICH version of the files the value came from. A key holds exactly one
entry: an equal token is a hit, any other token rebuilds under a
per-key lock and replaces the entry, so a rewritten file is never
served stale and threads that miss the same key at once build it
once.

Every Spark relation the package caches has an owner, and there are
exactly two lifetimes:

- A relation read only by the building function's own eager actions
  or driver loops is cache()d/persist()ed and unpersisted in a
  `finally` of that function, once the loop's result exists.
- A relation that the returned LAZY DataFrame still reads goes
  through scoped_cache(df): it is only materialized when the caller
  finally runs an action, so an unpersist inside the builder would
  defeat it (hot-shingle vocabularies in operators/dedup.py, weighted
  postings in operators/vectors.py, the strong co-purchase edge list
  of the graph_* queries, PageRank's per-round ranks).

tests/test_cache_owner.py checks statically that no other cache()
or persist() call exists in the package.

scoped_cache() bounds executor storage: it caches the relation AND
registers it in a bounded FIFO keyed by SEMANTIC PLAN; once more than
MAX_LIVE distinct plans are live, the oldest is unpersisted
(non-blocking). Unpersisting an already-consumed relation is free;
unpersisting one that a still-lazy plan references is SAFE — Spark
silently recomputes it — so the bound trades at worst a recomputation
on a stale query handle for a hard cap on executor storage held by
this library.

The plan key matters: Spark's CacheManager is keyed by the LOGICAL
PLAN, so two queries caching the same relation (e.g. the df-capped
jaccard and containment tiers share `arrs`/`hot`) share ONE cache
entry, and unpersisting an old handle would kill the NEW query's live
cache mid-run (measured: a first FIFO draft evicted sim_jaccard_dfcap
to 4.15 s from 0.89 s in the bench suite because the plan-equal
handle registered by the previous query aged out while the current
query was consuming the shared entry). Re-registering a plan
therefore REFRESHES its position instead of appending a duplicate —
eviction only ever reaches plans no recent query has touched.
"""

from __future__ import annotations

import logging
import os
import stat
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame

#: key -> (token, value); one entry per key
_MEMO: dict[Hashable, tuple[Hashable, Any]] = {}
#: key -> the lock its builds run under
_MEMO_LOCKS: dict[Hashable, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def file_token(path: str) -> tuple:
    """Identity of the bytes under `path`: (size, mtime_ns) of a file,
    or the sorted (relative path, size, mtime_ns) of every file under a
    directory. Raises FileNotFoundError for a missing path."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    out = []
    for dirpath, _, names in os.walk(path):
        for n in names:
            full = os.path.join(dirpath, n)
            s = os.stat(full)
            out.append((os.path.relpath(full, path), s.st_size, s.st_mtime_ns))
    return tuple(sorted(out))


def memo(key: Hashable, token: Hashable, build: Callable[[], Any]) -> Any:
    """The value stored under `key` if it was built for an equal
    `token`; otherwise `build()`, run once per key at a time, replaces
    the entry. A build that raises leaves the old entry in place."""
    got = _MEMO.get(key)
    if got is not None and got[0] == token:
        return got[1]
    with _LOCKS_GUARD:
        lock = _MEMO_LOCKS.setdefault(key, threading.Lock())
    with lock:
        got = _MEMO.get(key)
        if got is not None and got[0] == token:
            return got[1]
        value = build()
        _MEMO[key] = (token, value)
        return value

#: most DISTINCT cached plans live at once; beyond this the least
#: recently registered unpersists. Sized well past the widest composed
#: query (pipeline_rag_e2e + the recall ops register <= ~8 plans).
MAX_LIVE = 24

_LIVE: "OrderedDict[int, DataFrame]" = OrderedDict()


def scoped_cache(df: DataFrame) -> DataFrame:
    """cache() with a bounded lifetime: the relation registers in an
    LRU of at most MAX_LIVE distinct cached PLANS; re-registering a
    plan refreshes it (same CacheManager entry — never evict what the
    current query just asked for), and only plans beyond the bound
    unpersist."""
    df = df.cache()
    key = df.semanticHash()
    _LIVE.pop(key, None)
    _LIVE[key] = df
    while len(_LIVE) > MAX_LIVE:
        _, old = _LIVE.popitem(last=False)
        try:
            old.unpersist(blocking=False)
        except Exception as exc:
            # the new relation stays registered either way; say why
            # the old one may still hold executor storage
            logging.getLogger(__name__).warning(
                "scoped_cache: could not unpersist an evicted relation: %s",
                exc,
            )
    return df

