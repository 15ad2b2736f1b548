"""The one registry of driver queries: name -> (Spark builder, DuckDB oracle
SQL, optional pinned-payload builder).

Each query pack calls ``register`` once per query at import time, right
after the query's SQL. ``entries()`` imports the packs on first use; this
module itself imports no engine code, so reading the registry costs only
the packs' (deliberately light) module tops.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from typing import NamedTuple

# the only list of the query packs
_PACKS = (
    "entry_queries",
    "entry_queries_ext",
    "entry_queries_ext2",
    "entry_queries_ext3",
    "entry_queries_ext4",
    "entry_queries_ext5",
    "entry_queries_ext6",
    "entry_queries_ext7",
    "entry_queries_ext8",
    "entry_queries_ext9",
    "entry_queries_ext10",
    "entry_queries_ext11",
)


class Entry(NamedTuple):
    builder: Callable  # (spark, sf_dir) -> DataFrame
    sql: str  # DuckDB oracle over the same sf tables
    pinned: Callable | None  # (doc_id, text) -> pdf bytes, for the pinned A/B


_REGISTRY: dict[str, Entry] = {}


def register(
    name: str, builder: Callable, sql: str, pinned: Callable | None = None
) -> None:
    if name in _REGISTRY:
        raise ValueError(f"query {name!r} is already registered")
    _REGISTRY[name] = Entry(builder, sql, pinned)


def entries() -> dict[str, Entry]:
    """Every registered query, after importing all packs."""
    for pack in _PACKS:
        importlib.import_module(f"{__package__}.{pack}")
    return _REGISTRY


def pinned_queries() -> dict[str, Callable]:
    """name -> (spark, pinned_parquet_path) -> DataFrame for every query
    registered with a pinned-payload builder (the runners share the
    q49-family extraction kernels in entry_queries_ext7)."""
    from .entry_queries_ext7 import pinned_queries as runners

    return runners()
