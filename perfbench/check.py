"""Correctness checks, run after timing stops.

``catchup`` logs have no rollbacks and no duplicates, so the expected state
is a vectorised last-writer-wins fold written here with pyarrow (keep each
key's highest-seq event, drop deletes). ``tail`` logs carry rollbacks and
re-delivered duplicates; their state and history are checked against the
package's pure-Python oracle, row for row with token arrays equal.

Each check returns a list of human-readable mismatch descriptions; an empty
list means the check passed.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STATE_COLS = ("doc_id", "seq", "n_tok", "source", "tokens")


def lww_fold(log_dir: str) -> pa.Table:
    """Live rows of a rollback-free, duplicate-free log, sorted by doc_id."""
    files = sorted(glob.glob(os.path.join(log_dir, "epoch=*", "partition=*", "*.parquet")))
    cols = ["doc_id", "seq", "op", "n_tok", "source", "tokens"]
    t = pa.concat_tables(pq.read_table(f, columns=cols) for f in files)
    t = t.sort_by([("doc_id", "ascending"), ("seq", "descending")])
    doc = t.column("doc_id").combine_chunks()
    first = pc.not_equal(doc.slice(1), doc.slice(0, len(doc) - 1))
    keep = pa.concat_arrays([pa.array([True]), first.cast(pa.bool_())])
    t = t.filter(keep)
    return t.filter(pc.not_equal(t.column("op"), "delete")).drop_columns(["op"])


def compare_state(got: pa.Table, expected: pa.Table) -> list[str]:
    """Row-for-row equality of the engine's live rows and a folded
    expectation on ``STATE_COLS``."""
    got = got.sort_by("doc_id")
    if got.num_rows != expected.num_rows:
        return [f"live rows: got {got.num_rows}, expected {expected.num_rows}"]
    out = []
    for c in STATE_COLS:
        g = got.column(c).combine_chunks()
        e = expected.column(c).combine_chunks().cast(g.type)
        if not g.equals(e):
            bad = sum(1 for a, b in zip(g.to_pylist(), e.to_pylist()) if a != b)
            out.append(f"column {c}: {bad} rows differ")
    return out


def compare_lookups(lookups: list[tuple[list[str], dict]], expected: pa.Table) -> list[str]:
    """Each lookup returned exactly the live requested keys at their final
    seq (valid only for lookups on a table that no longer changes)."""
    final = dict(zip(expected.column("doc_id").to_pylist(),
                     expected.column("seq").to_pylist()))
    out = []
    for keys, got in lookups:
        want = {k: final[k] for k in keys if k in final}
        if got != want:
            out.append(f"lookup of {len(keys)} keys: {len(set(got.items()) ^ set(want.items()))} entries differ")
    return out


def compare_oracle_state(got: pa.Table, expected: list[dict]) -> list[str]:
    """Engine live rows against ``oracle.expected_live_rows``; evolved
    columns (``lang``) compare where the oracle row carries them."""
    rows = sorted(got.to_pylist(), key=lambda d: d["doc_id"])
    if len(rows) != len(expected):
        return [f"live rows: got {len(rows)}, expected {len(expected)}"]
    bad = 0
    for g, e in zip(rows, expected):
        if any(g.get(k) != v for k, v in e.items()):
            bad += 1
    return [f"{bad} live rows differ from the oracle"] if bad else []


def compare_oracle_facts(got: pa.Table, expected: list[dict]) -> list[str]:
    """History table against ``oracle.expected_fact_rows`` on
    (doc_id, seq, op, tokens)."""
    def key(d):
        return (d["doc_id"], d["seq"], d["op"], tuple(d["tokens"] or ()))

    g = sorted(key(d) for d in got.select(["doc_id", "seq", "op", "tokens"]).to_pylist())
    e = sorted(key(d) for d in expected)
    if len(g) != len(e):
        return [f"fact rows: got {len(g)}, expected {len(e)}"]
    bad = sum(1 for a, b in zip(g, e) if a != b)
    return [f"{bad} fact rows differ from the oracle"] if bad else []
