"""Correctness gate: the final table against ``cdc/oracle.fold_events``
over the same generated events, and each consumer read against the count
derived from the input. Runs outside the timed window."""

from __future__ import annotations

from pipelinewise_spark.cdc.events import TRANSCRIPT_KEY
from pipelinewise_spark.cdc.oracle import fold_events
from pipelinewise_spark.lake.table import LSN_COL


def expected_state(snapshot, lsn0: int, updates: list[dict]) -> dict:
    """key -> (text, _lsn) after the snapshot (all rows at ``lsn0``) and the
    change events. The fold runs in soft-delete mode so a delete of a
    snapshot-only key is visible; every update LSN is above ``lsn0``, so
    overlaying the fold on the snapshot equals folding both together."""
    state = {
        (c, t): (x, lsn0)
        for c, t, x in zip(snapshot["conv_id"], snapshot["turn_idx"], snapshot["text"])
    }
    for key, rec in fold_events(updates, TRANSCRIPT_KEY, soft_delete=True).items():
        if rec["_deleted"]:
            state.pop(key, None)
        else:
            state[key] = (rec["text"], rec["lsn"])
    return state


def table_mismatches(table, expected: dict) -> list[str]:
    """Differences between the table's current rows and ``expected``
    (row count, missing/extra keys, per-key text and _lsn)."""
    pdf = table.read().select(*TRANSCRIPT_KEY, "text", LSN_COL).toPandas()
    actual = {
        (c, int(t)): (x, int(lsn))
        for c, t, x, lsn in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf[LSN_COL])
    }
    problems = []
    if len(pdf) != len(expected):
        problems.append(f"row count {len(pdf)} != expected {len(expected)}")
    if len(actual) != len(pdf):
        problems.append(f"{len(pdf) - len(actual)} duplicate keys")
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in expected.keys() & actual.keys() if expected[k] != actual[k]]
    if wrong:
        k = wrong[0]
        problems.append(
            f"{len(wrong)} keys with wrong text/_lsn, e.g. {k}: "
            f"{actual[k]} != {expected[k]}"
        )
    return problems


def read_mismatches(reads: list[dict], changelog) -> list[str]:
    """Consumer reads whose row count differs from the input-derived one."""
    bad = []
    for r in reads:
        want = changelog.changed_alive(r["lo"], r["hi"])
        if r["rows"] != want:
            bad.append(f"read ({r['lo']}, {r['hi']}] returned {r['rows']} rows, expected {want}")
    return bad
