"""MOR-sink 2PC crash recovery (VERDICT r9 ask #7): the CoW path's crash
tests (tests/test_sync_e2e.py / test_merge_replay.py) get their MOR
twins — kill the writer (a) BETWEEN the delta-group commit and the
external state write, and (b) MID-COMMIT between the data-file write and
the manifest link — then restart and verify the bounded replay recovers
to exactly-once (the reference's resume-from-confirmed-LSN contract,
drivers/postgres/internal/cdc.go:69-179: on restart the source re-sends
from the last CONFIRMED position and the sink-side guard drops what the
table already holds).
"""

from __future__ import annotations

import random

import pytest

from olake_spark.sinks.table import ManagedTable
from olake_spark.streaming.replay import LAST_LSN_PROP, replay_batches

SCHEMA = "lsn long, _op_type string, k long, v string"


def _gen_changelog(n_ops: int = 360, n_keys: int = 50, seed: int = 11):
    rng = random.Random(seed)
    return [
        (
            lsn,
            rng.choices(["c", "u", "d"], weights=[2, 5, 1])[0],
            rng.randrange(n_keys),
            f"v{lsn}",
        )
        for lsn in range(1, n_ops + 1)
    ]


def _oracle(ops):
    state = {}
    for lsn, op, k, v in sorted(ops, key=lambda r: r[0]):
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = (lsn, op, k, v)
    return state


def _rows(t: ManagedTable):
    return {
        r["k"]: (r["lsn"], r["_op_type"], r["k"], r["v"])
        for r in t.read().collect()
    }


def _delta_groups(t: ManagedTable) -> int:
    return sum(1 for g in t._manifest().get("groups", []) or [] if g.get("delta"))


def test_mor_crash_between_delta_commit_and_state_write(spark, tmp_path):
    """Crash AFTER the table's delta-group manifest committed but BEFORE
    the driver persisted its external cursor: on restart the driver
    re-feeds from its stale position; the table-level LSN guard (the
    manifest IS the 2PC state) must drop the already-applied batch
    without creating a duplicate delta group."""
    log = _gen_changelog()
    cuts = [0, 120, 240, len(log)]
    batches = [
        spark.createDataFrame(log[a:b], SCHEMA) for a, b in zip(cuts, cuts[1:])
    ]
    t = ManagedTable(spark, str(tmp_path / "mor"))
    # batches 0 and 1 land; the external state write for batch 1 is "lost"
    replay_batches(t, batches[:2], ["k"], "lsn", mor=True)
    groups_before = _delta_groups(t)
    lsn_before = t.properties()[LAST_LSN_PROP]

    # restart: driver state still points before batch 1 → re-feeds 1 and 2
    t2 = ManagedTable(spark, str(tmp_path / "mor"))
    stats = replay_batches(t2, batches[1:], ["k"], "lsn", mor=True)
    assert stats["batches_applied"] == 1  # batch 1 filtered, batch 2 applied
    assert _delta_groups(t2) == groups_before + 1  # no duplicate group
    assert _rows(t2) == _oracle(log)
    assert int(t2.properties()[LAST_LSN_PROP]) > int(lsn_before)

    # a second identical restart is a no-op end to end
    stats = replay_batches(t2, batches, ["k"], "lsn", mor=True)
    assert stats["batches_applied"] == 0
    assert _rows(t2) == _oracle(log)


def test_mor_crash_mid_commit_leaves_table_readable_and_recoverable(
    spark, tmp_path, monkeypatch
):
    """Crash BETWEEN the delta data-file write and the manifest link: the
    unlinked manifest means readers never see the half-commit; restart
    replays the batch fully (data files are re-written, the stranded
    ones become orphans) and vacuum_orphans reclaims the leftovers
    without touching live data."""
    log = _gen_changelog()
    cuts = [0, 180, len(log)]
    batches = [
        spark.createDataFrame(log[a:b], SCHEMA) for a, b in zip(cuts, cuts[1:])
    ]
    t = ManagedTable(spark, str(tmp_path / "mor"))
    replay_batches(t, batches[:1], ["k"], "lsn", mor=True)
    rows_before = _rows(t)
    files_before = set(t._manifest_files(t.versions()[-1]))

    real_commit = ManagedTable._commit

    def crash_commit(self, *a, **kw):
        raise RuntimeError("simulated kill -9 before manifest link")

    monkeypatch.setattr(ManagedTable, "_commit", crash_commit)
    with pytest.raises(RuntimeError, match="simulated kill"):
        replay_batches(t, batches[1:], ["k"], "lsn", mor=True)
    monkeypatch.setattr(ManagedTable, "_commit", real_commit)

    # the half-commit is invisible: same version chain, same rows
    t_check = ManagedTable(spark, str(tmp_path / "mor"))
    assert _rows(t_check) == rows_before
    assert int(t_check.properties()[LAST_LSN_PROP]) == cuts[1]

    # restart applies the batch for real
    stats = replay_batches(t_check, batches[1:], ["k"], "lsn", mor=True)
    assert stats["batches_applied"] == 1
    assert _rows(t_check) == _oracle(log)

    # the crash stranded orphan data files; vacuum reclaims them and
    # leaves every live file intact
    removed = t_check.vacuum_orphans(older_than_s=0.0)
    assert removed >= 1
    assert _rows(t_check) == _oracle(log)
    # every pre-crash live file survives the vacuum (on disk AND still
    # referenced by the recovered version's manifest)
    live_now = set(t_check._manifest_files(t_check.versions()[-1]))
    assert files_before <= live_now
    import os as _os

    assert all(_os.path.exists(f) for f in files_before)

    # compaction after recovery still resolves to the oracle
    t_check.compact()
    assert _rows(t_check) == _oracle(log)


def test_mor_base_without_op_column_survives_read(spark, tmp_path):
    from olake_spark.sinks.table import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    t.overwrite(base)  # base group has no _op_type at all
    delta = spark.createDataFrame(
        [(2, "b2", "u", 10), (3, "c", "c", 11)], "k int, v string, _op_type string, lsn int"
    )
    t.upsert_mor(delta, ["k"], ["lsn"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def test_mor_mixed_schema_deltas_resolve(spark, tmp_path):
    """Delta groups written under four schemas: a base without _op_type, a
    delta that widens the key int→long, one that adds a column, and one
    whose data has a column named ``_metadata`` (the name of the file
    source's metadata column the read takes each row's commit seq from)."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b"), (5, "e")], "k int, v string"))
    big = 2**40
    t.upsert_mor(
        spark.createDataFrame(
            [(2, "b2", "u", 10), (big, "big", "c", 11)], "k long, v string, _op_type string, lsn int"
        ),
        ["k"], ["lsn"],
    )
    t.upsert_mor(
        spark.createDataFrame(
            [(1, "a2", "u", 5, "w1"), (big, None, "d", 12, None)],
            "k long, v string, _op_type string, lsn int, w string",
        ),
        ["k"], ["lsn"],
    )
    t.upsert_mor(
        spark.createDataFrame(
            [(3, "c", "c", 13, "m3"), (2, "b3", "u", 1, "m2")],
            "k long, v string, _op_type string, lsn int, _metadata string",
        ),
        ["k"], ["lsn"],
    )
    schemas = {g["schema"] for g in t._manifest()["groups"]}
    assert len(schemas) == 4
    got = {(r["k"], r["v"], r["w"], r["_metadata"]) for r in t.read().collect()}
    assert got == {
        (1, "a2", "w1", None),
        (2, "b3", None, "m2"),
        (3, "c", None, "m3"),
        (5, "e", None, None),
    }
    assert dict(t.read().dtypes)["k"] == "bigint"
