"""Expected outputs, computed in plain Python apart from the program.

Nothing here imports the package: the enrichment, the R7 chaos rule and
the SCD2 semantics are restated from their documentation, and the
program's outputs are read from disk with pyarrow (enrichment sinks) or
collected from the table read-back (CDC).
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

#: how many problems a failed check reports
SHOW = 5


def payload(i: int) -> str:
    return f"Input Data: {i}"


def enriched(i: int) -> tuple:
    """Main-sink row for message ``i``: reverse / upper / sorted chars
    of the payload and ``"transformed <id>"``."""
    v = payload(i)
    return (i, v, v[::-1], v.upper(), "".join(sorted(v)), f"transformed {i}")


def dead_letter(i: int) -> tuple | None:
    """The documented R7 rule: ``id % 5 == 0`` fails; the class is
    ``IOException`` iff ``id % 10 == 0`` (else ``Exception``); the
    first failing step, ``enrich{floor(id/5) % 3 + 1}``, is the origin.
    None for a message that succeeds."""
    if i % 5:
        return None
    cls = "IOException" if i % 10 == 0 else "Exception"
    return (i, payload(i), cls, f"enrich{(i // 5) % 3 + 1}")


def _read_batches(path: str, columns: list[str]) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "_batch_id=*", "*.parquet")))
    if not files:
        return pa.table({c: [] for c in columns})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


MAIN_COLS = ["id", "value", "extra1", "extra2", "extra3_name", "additional"]
DLQ_COLS = ["id", "value", "err_cls", "err_origin"]


def check_enrichment(ids: list[int], main_path: str, dlq_path: str) -> tuple[int, list[str]]:
    """Every published id lands exactly once across main ∪ DLQ, in the
    sink the R7 rule names, with the expected content. Returns (number
    of messages that did not land correctly, problems)."""
    main = _read_batches(main_path, MAIN_COLS)
    dlq = _read_batches(dlq_path, DLQ_COLS)
    main_rows = list(zip(*(main.column(c).to_pylist() for c in MAIN_COLS)))
    dlq_rows = list(zip(*(dlq.column(c).to_pylist() for c in DLQ_COLS)))
    seen = Counter(r[0] for r in main_rows)
    seen.update(r[0] for r in dlq_rows)
    bad: set[int] = set()
    problems: list[str] = []

    def fail(i, why: str) -> None:
        bad.add(i)
        if len(problems) < SHOW:
            problems.append(why)

    published = set(ids)
    if len(published) != len(ids):
        raise ValueError("the generator published a duplicate id")
    for i, n in seen.items():
        if i not in published:
            fail(i, f"id {i} was never published but was written {n}x")
        elif n != 1:
            fail(i, f"id {i} landed {n}x across main and DLQ")
    for i in published:
        if i not in seen:
            fail(i, f"id {i} is missing from main and DLQ")
    for r in main_rows:
        if dead_letter(r[0]) is not None:
            fail(r[0], f"id {r[0]} should be dead-lettered, is in main")
        elif r != enriched(r[0]):
            fail(r[0], f"main row {r} != expected {enriched(r[0])}")
    for r in dlq_rows:
        want = dead_letter(r[0])
        if want is None:
            fail(r[0], f"id {r[0]} should succeed, is in the DLQ")
        elif r != want:
            fail(r[0], f"DLQ row {r} != expected {want}")
    return len(bad & published), problems


# --- SCD2 replay ---------------------------------------------------------

#: columns of the CDC target's read-back, in order
SCD2_COLS = ["key", "name", "part", "val", "valid_from", "valid_to", "is_current"]


def scd2_replay(initial: list[tuple], batches: list[list[tuple]], dates: list[str], epoch: str) -> list[tuple]:
    """Replay CDC batches over an SCD2 history. ``initial`` rows are
    ``(key, name, part, val)``, each one open version from ``epoch``;
    each batch holds ``(key, new_value, op)`` with at most one op per
    key. An update closes the key's open version at the batch date and
    opens a new one carrying its other columns; an update of a key with
    no open version inserts one with the other columns null; a delete
    only closes the open version. Returns every version row."""
    closed: list[tuple] = []
    current: dict[int, tuple] = {k: (k, n, p, v, epoch) for k, n, p, v in initial}
    for batch, date in zip(batches, dates):
        for key, new_value, op in batch:
            cur = current.pop(key, None)
            if cur is not None:
                closed.append((*cur, date, False))
            if op == "u":
                _, name, part = cur[:3] if cur is not None else (key, None, None)
                current[key] = (key, name, part, new_value, date)
    return closed + [(*c, None, True) for c in current.values()]


def check_scd2(expected: list[tuple], actual: list[tuple], batches: list[list[tuple]]) -> tuple[int, list[str]]:
    """Compare version rows per key. Returns (change rows whose key's
    history differs, problems)."""
    def by_key(rows):
        out: dict[int, Counter] = {}
        for r in rows:
            out.setdefault(r[0], Counter())[tuple(r)] += 1
        return out

    want, got = by_key(expected), by_key(actual)
    wrong = {k for k in want.keys() | got.keys() if want.get(k) != got.get(k)}
    problems = [
        f"key {k}: expected {sorted(want.get(k, ()), key=repr)}, got {sorted(got.get(k, ()), key=repr)}"
        for k in sorted(wrong)[:SHOW]
    ]
    failed = sum(1 for b in batches for key, _, _ in b if key in wrong)
    return failed, problems
