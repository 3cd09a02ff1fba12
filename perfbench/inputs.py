"""Seeded change-log inputs for each workload, cached per (shape, seed).

The engine only ever sees the generated Parquet files. A cache entry is a
directory ``<cache>/<name>-<shape digest>-<seed>/`` holding the log and a
``_DONE`` marker written last, so an interrupted generation is regenerated
rather than reused.
The cache keeps the few most recently used entries and evicts the rest.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, replace

from hemera_indexer_spark.sources.generator import (
    ChangelogSpec,
    generate_changelog,
    generate_changelog_fast,
)

N_PARTITIONS = 4
CACHE_KEEP = 6


@dataclass(frozen=True)
class LogShape:
    name: str
    spec: ChangelogSpec
    #: the vectorized generator writes no rollbacks and no duplicates; the
    #: row generator writes both
    fast: bool


# Backfill: update-heavy (about six events per key), hot-key skew, large
# epochs, no rollbacks. Ten epochs replay as two groups under the
# controller's default grouping (eight epochs per group).
CATCHUP = LogShape(
    "catchup",
    ChangelogSpec(
        n_docs=34_000, n_epochs=10, events_per_epoch=20_000,
        n_partitions=N_PARTITIONS, max_tokens=64,
        p_insert=0.15, p_update=0.75, p_delete=0.10,
        schema_evolution_epoch=None, rollback_epochs=(),
    ),
    fast=True,
)

# Live head of the chain: the first TAIL_BASE_EPOCHS are the table's history
# (applied before timing; one carries a rollback, so the reorg path is warm);
# the rest arrive one by one. The last arrival carries a rollback (a reorg at
# the head), so its cost shows in its own freshness and in the throughput
# without delaying the clean epochs before it. Every epoch re-delivers 5%
# duplicates, and the ``lang`` column appears half-way through the arrivals.
TAIL_BASE_EPOCHS = 2
TAIL_ARRIVALS = 4
TAIL = LogShape(
    "tail",
    ChangelogSpec(
        n_docs=10_000, n_epochs=TAIL_BASE_EPOCHS + TAIL_ARRIVALS,
        events_per_epoch=1_000, n_partitions=N_PARTITIONS, max_tokens=64,
        schema_evolution_epoch=TAIL_BASE_EPOCHS + TAIL_ARRIVALS // 2,
        rollback_epochs=(1, TAIL_BASE_EPOCHS + TAIL_ARRIVALS - 1),
    ),
    fast=False,
)


def setup_shape(shape: LogShape) -> LogShape:
    """One small clean epoch from ``shape``'s generator: the log each timed
    set-up commits."""
    return LogShape(
        f"{shape.name}_setup",
        replace(shape.spec, n_docs=2_000, n_epochs=1, events_per_epoch=2_000,
                schema_evolution_epoch=None, rollback_epochs=()),
        fast=shape.fast,
    )


def ensure_log(cache_dir: str, shape: LogShape, seed: int) -> str:
    """Return the directory of ``shape``'s log for ``seed``, generating it
    on first use."""
    digest = hashlib.sha1(repr(shape).encode()).hexdigest()[:10]
    out = os.path.join(cache_dir, f"{shape.name}-{digest}-{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return out
    shutil.rmtree(out, ignore_errors=True)
    gen = generate_changelog_fast if shape.fast else generate_changelog
    gen(os.path.join(out, "log"), replace(shape.spec, seed=seed))
    with open(done, "w") as f:
        f.write("ok\n")
    _evict(cache_dir)
    return out


def _evict(cache_dir: str) -> None:
    entries = []
    for name in os.listdir(cache_dir):
        done = os.path.join(cache_dir, name, "_DONE")
        mtime = os.path.getmtime(done) if os.path.exists(done) else 0.0
        entries.append((mtime, name))
    for _, name in sorted(entries, reverse=True)[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def epoch_dirs(log_dir: str) -> list[str]:
    return sorted(d for d in os.listdir(log_dir) if d.startswith("epoch="))
