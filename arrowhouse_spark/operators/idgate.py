"""Count-gated broadcast hint for retraction/forget id-sets.

Every store retraction in this engine (IVF postings delete, CC label-store
retract, LSH/dHash band-store retract) joins the store against a caller
supplied id set. For the common case — a batch-sized forget of a handful
to a few thousand ids — a broadcast semi/anti join is the right plan: the
store side stays partition-pruned and nothing shuffles. But a production
retention sweep ships 10^8–10^9 ids; an unconditional ``F.broadcast(ids)``
on that set OOMs the driver (it collects the set to build the broadcast
table) and every executor (each holds a full copy). The round-11 verdict
flagged exactly this (next-round #1).

The gate: count the id set (callers localCheckpoint() it first, so the
count is one cheap job over pinned partitions) and keep the broadcast hint
only below :data:`BROADCAST_ID_LIMIT` (default 1e6 ids — at ~16 bytes per
long id plus hash-table overhead that is tens of MB, comfortably inside
any executor). Above the limit the hint is dropped and Spark plans a plain
shuffle semi/anti join — the store side is already bucket/cell-pruned by
every caller, so the shuffled volume is delta-sized, not store-sized.

Both regimes produce IDENTICAL results (a join hint never changes
semantics) — pinned in tests/test_components.py / test_clustering.py by
running the same retract with the limit forced to 0.

The same limit bounds what a store operation may collect to the driver:
the components store (operators/components.py) solves a fold's or a
retract's touched subgraph there, as plain Python rows, only while the
subgraph holds at most :data:`BROADCAST_ID_LIMIT` rows, and runs its
cluster path above that. Forcing the limit to 0 drives that path too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Above this many ids the broadcast hint is dropped in favor of a shuffle
# join, and the components store solves on the cluster, not the driver.
# Tests monkeypatch this to 0 to drive both regimes on small fixtures;
# read at call time, never captured.
BROADCAST_ID_LIMIT = 1_000_000


def gate_broadcast(
    df: DataFrame,
    n_rows: int | None = None,
    limit: int | None = None,
) -> DataFrame:
    """``F.broadcast(df)`` when the set is provably batch-sized, else
    ``df`` unchanged (shuffle join). ``n_rows`` lets callers reuse a
    count they already have; otherwise one count job runs (cheap when
    ``df`` is localCheckpoint()ed, which every retraction call site
    does). ``limit`` overrides :data:`BROADCAST_ID_LIMIT` for tests."""
    lim = BROADCAST_ID_LIMIT if limit is None else limit
    n = df.count() if n_rows is None else int(n_rows)
    return F.broadcast(df) if n <= lim else df
