"""CDC merge/replay correctness vs a sequentially-applied oracle (F4 shape)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from olake_spark.operators.merge import apply_changelog, latest_state, merge_upsert
from olake_spark.sinks.table import CommitConflict, ManagedTable
from olake_spark.streaming.replay import LAST_LSN_PROP, replay_batches

SCHEMA = "lsn long, _op_type string, k long, v string"


def _oracle(ops: list[tuple]) -> dict[int, tuple]:
    """Sequential application in plain Python — ground truth."""
    state: dict[int, tuple] = {}
    for lsn, op, k, v in sorted(ops, key=lambda r: r[0]):
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = (lsn, op, k, v)
    return state


def _gen_changelog(n_ops: int = 400, n_keys: int = 60, seed: int = 7) -> list[tuple]:
    rng = random.Random(seed)
    ops = []
    for lsn in range(1, n_ops + 1):
        k = rng.randrange(n_keys)
        op = rng.choices(["c", "u", "d"], weights=[2, 5, 1])[0]
        ops.append((lsn, op, k, f"v{lsn}"))
    return ops


@pytest.fixture(scope="module")
def changelog():
    return _gen_changelog()


def _rows_to_dict(rows) -> dict[int, tuple]:
    return {r["k"]: (r["lsn"], r["_op_type"], r["k"], r["v"]) for r in rows}


def test_latest_state_matches_oracle(spark, changelog):
    df = spark.createDataFrame(changelog, SCHEMA)
    got = _rows_to_dict(latest_state(df, ["k"], ["lsn"]).collect())
    assert got == _oracle(changelog)


def test_batch_boundaries_are_invisible(spark, changelog):
    """Replay granularity must not change the final table (insert→update→
    delete→re-insert chains cross batch boundaries)."""
    df = spark.createDataFrame(changelog, SCHEMA)
    empty = spark.createDataFrame([], SCHEMA)
    for boundaries in ([100, 200, 300], [1], [399], [50, 51, 52]):
        cuts = [0, *boundaries, len(changelog)]
        batches = [
            spark.createDataFrame(changelog[a:b], SCHEMA) for a, b in zip(cuts, cuts[1:]) if a < b
        ]
        got = _rows_to_dict(apply_changelog(empty, batches, ["k"], ["lsn"]).collect())
        assert got == _oracle(changelog), f"boundaries {boundaries}"


def test_merge_idempotent_and_multiop_batch(spark, changelog):
    df = spark.createDataFrame(changelog, SCHEMA)
    snap = latest_state(df, ["k"], ["lsn"])
    batch = spark.createDataFrame(changelog[250:], SCHEMA)  # overlapping replay
    once = merge_upsert(snap, batch, ["k"], ["lsn"])
    twice = merge_upsert(once, batch, ["k"], ["lsn"])
    assert _rows_to_dict(once.collect()) == _oracle(changelog)
    assert _rows_to_dict(twice.collect()) == _oracle(changelog)


def test_managed_table_append_and_props(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t1"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    v0 = t.append(df, properties={"cursor": "5"})
    v1 = t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 3
    assert t.properties()["cursor"] == "5"  # properties survive later commits
    t.drop()
    assert not t.exists()


def test_managed_table_upsert_exactly_once(spark, tmp_path, changelog):
    t = ManagedTable(spark, str(tmp_path / "t2"))
    cuts = [0, 150, 300, len(changelog)]
    batches = [spark.createDataFrame(changelog[a:b], SCHEMA) for a, b in zip(cuts, cuts[1:])]
    stats = replay_batches(t, batches, ["k"], "lsn")
    assert stats["batches_applied"] == 3
    assert _rows_to_dict(t.read().collect()) == _oracle(changelog)
    assert t.properties()[LAST_LSN_PROP] == len(changelog)

    # crash-recovery: replay the last two batches again (state file "lost")
    stats2 = replay_batches(t, batches[1:], ["k"], "lsn")
    assert stats2["batches_applied"] == 0  # LSN guard filtered everything
    assert _rows_to_dict(t.read().collect()) == _oracle(changelog)

    # partial overlap: a batch straddling the committed LSN applies only the tail
    extra = [(len(changelog) + 1, "c", 999, "new")]
    straddle = spark.createDataFrame(changelog[350:] + extra, SCHEMA)
    replay_batches(t, [straddle], ["k"], "lsn")
    got = _rows_to_dict(t.read().collect())
    assert got == _oracle(changelog + extra)


def test_commit_conflict(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t3"))
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    t.append(df)  # v0
    # two writers commit on the same head: the first link takes v1
    head = t._head()
    racer = ManagedTable(spark, str(tmp_path / "t3"))
    racer._commit(head, [], df.schema, {})
    with pytest.raises(CommitConflict):
        t._commit(head, [], df.schema, {})
    assert t.versions() == [0, 1]


def _row(v: str, k: int):
    return [(1000 + k, "u", k, v)]


@pytest.mark.parametrize("write", ["append", "upsert", "upsert_mor", "compact"])
def test_racing_write_raises_and_keeps_winner(spark, tmp_path, monkeypatch, write):
    """Writer A reads the head, and writer B commits while A writes its
    data: A's commit must raise CommitConflict instead of publishing a
    version built on the head B replaced, and B's rows stay readable."""
    path = str(tmp_path / write)
    mor = write in ("upsert_mor", "compact")
    base = spark.createDataFrame(_row("base", 1), SCHEMA)
    if mor:
        ManagedTable(spark, path).upsert_mor(base, ["k"], ["lsn"])
        ManagedTable(spark, path).upsert_mor(
            spark.createDataFrame(_row("delta", 2), SCHEMA), ["k"], ["lsn"]
        )
    else:
        ManagedTable(spark, path).append(base)

    def racer_commits():
        racer = ManagedTable(spark, path)
        racer_rows = spark.createDataFrame(_row("racer", 3), SCHEMA)
        if mor:
            racer.upsert_mor(racer_rows, ["k"], ["lsn"])
        else:
            racer.append(racer_rows)

    a = ManagedTable(spark, path)
    write_data = a._write_data

    def write_then_race(df):
        out = write_data(df)
        racer_commits()
        return out

    monkeypatch.setattr(a, "_write_data", write_then_race)
    writer = spark.createDataFrame(_row("writer", 4), SCHEMA)
    with pytest.raises(CommitConflict):
        if write == "append":
            a.append(writer)
        elif write == "compact":
            a.compact()
        else:
            getattr(a, write)(writer, ["k"], ["lsn"])
    got = {r["v"] for r in ManagedTable(spark, path).read().collect()}
    assert got == ({"base", "delta", "racer"} if mor else {"base", "racer"})


def test_managed_table_mor_matches_cow(spark, tmp_path, changelog):
    """MOR delta replay resolves to the same table COW produces, batch
    boundaries and crash-replays included; compaction folds deltas without
    changing the result."""
    t = ManagedTable(spark, str(tmp_path / "mor"))
    cuts = [0, 150, 300, len(changelog)]
    batches = [spark.createDataFrame(changelog[a:b], SCHEMA) for a, b in zip(cuts, cuts[1:])]
    stats = replay_batches(t, batches, ["k"], "lsn", mor=True)
    assert stats["batches_applied"] == 3
    # two delta groups on disk (first batch became the base), resolved on read
    assert sum(1 for g in t._manifest().get("groups", []) if g.get("delta")) == 2
    assert _rows_to_dict(t.read().collect()) == _oracle(changelog)
    assert t.properties()[LAST_LSN_PROP] == len(changelog)

    # crash-replay: LSN guard filters already-applied deltas (no new groups)
    stats2 = replay_batches(t, batches[1:], ["k"], "lsn", mor=True)
    assert stats2["batches_applied"] == 0
    assert _rows_to_dict(t.read().collect()) == _oracle(changelog)

    # compact folds deltas into a base; result and properties survive
    t.compact()
    assert not any(g.get("delta") for g in t._manifest().get("groups", []) or [])
    assert _rows_to_dict(t.read().collect()) == _oracle(changelog)
    assert t.properties()[LAST_LSN_PROP] == len(changelog)

    # post-compaction deltas keep working
    extra = [(len(changelog) + 1, "c", 999, "new"), (len(changelog) + 2, "d", 0, "x")]
    replay_batches(t, [spark.createDataFrame(extra, SCHEMA)], ["k"], "lsn", mor=True)
    assert _rows_to_dict(t.read().collect()) == _oracle(changelog + extra)


def test_mor_commit_order_beats_order_columns(spark, tmp_path):
    """A later delta wins per key even when its order-column values are
    LOWER than an earlier delta's (a source whose LSNs restarted, or a
    replayed batch): the commit seq orders first, the order columns only
    break ties within one commit. Tombstones obey the same rule."""
    t = ManagedTable(spark, str(tmp_path / "mor_order"))
    t.upsert_mor(
        spark.createDataFrame(
            [(1, "c", k, f"base{k}") for k in range(1, 6)], SCHEMA
        ),
        ["k"], ["lsn"],
    )
    t.upsert_mor(
        spark.createDataFrame(
            [(100, "u", 1, "early1"), (101, "u", 2, "early2"), (102, "u", 3, "early3"),
             (103, "c", 6, "early6")],
            SCHEMA,
        ),
        ["k"], ["lsn"],
    )
    t.upsert_mor(
        spark.createDataFrame(
            [(10, "u", 1, "late1"), (11, "d", 2, None), (12, "u", 6, "late6")],
            SCHEMA,
        ),
        ["k"], ["lsn"],
    )
    want = {
        1: (10, "u", 1, "late1"),
        3: (102, "u", 3, "early3"),
        4: (1, "c", 4, "base4"),
        5: (1, "c", 5, "base5"),
        6: (12, "u", 6, "late6"),
    }
    assert _rows_to_dict(t.read().collect()) == want
    t.compact()
    assert _rows_to_dict(t.read().collect()) == want


def test_mor_key_cols_pinned(spark, tmp_path, changelog):
    t = ManagedTable(spark, str(tmp_path / "mor_pin"))
    df = spark.createDataFrame(changelog[:50], SCHEMA)
    t.upsert_mor(df, ["k"], ["lsn"])
    t.upsert_mor(spark.createDataFrame(changelog[50:80], SCHEMA), ["k"], ["lsn"])
    with pytest.raises(ValueError):
        t.upsert_mor(spark.createDataFrame(changelog[80:99], SCHEMA), ["v"], ["lsn"])


# -- NULL-op rows are not deletes -------------------------------------------


def test_merge_null_op_rows_survive(spark):
    from olake_spark.operators.merge import merge_upsert

    # target snapshot written WITHOUT an _op_type column (e.g. a pre-CDC
    # backfill table); unionByName null-fills it during the merge
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    batch = spark.createDataFrame(
        [(2, "b2", "u", 10), (3, "c", "c", 11)], "k int, v string, _op_type string, lsn int"
    )
    target = target.withColumn("lsn", F.lit(0))
    out = {
        r["k"]: r["v"]
        for r in merge_upsert(target, batch, ["k"], ["lsn"]).collect()
    }
    # key 1 exists only in the target with NULL op — it must survive
    assert out == {1: "a", 2: "b2", 3: "c"}
