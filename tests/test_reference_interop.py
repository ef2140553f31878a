"""Round-trip the reference repo's OWN fixture files through our loaders.

The contract tests in ``test_contracts.py`` exercise hand-written wire-shape
documents; this module consumes the verbatim bytes the reference ships in its
driver test trees (types/catalog.go:44-67 / types/state.go:42-69 shapes):

- ``drivers/*/internal/testdata/test_streams.json`` — one per driver
  (postgres, mysql, mssql, oracle, db2, mongodb), full discover output with
  ``type_schema.properties`` OLAKE type sets, nested ``selected_columns``,
  destination fields, and olake metadata columns.
- ``drivers/mysql/internal/testdata/state.json`` — a mid-backfill STREAM
  state with 441 pending chunks and a global binlog position.

Read directly from ``/root/reference`` (never copied into this repo); the
whole module skips when the reference tree is absent.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from olake_spark.plans.state import Chunk, SyncState
from olake_spark.plans.stream import Catalog, SyncMode

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REF, "drivers")),
    reason="reference tree not present",
)


def _streams_fixtures() -> list[str]:
    return sorted(glob.glob(f"{REF}/drivers/*/internal/testdata/test_streams.json"))


def _driver(path: object) -> str | None:
    # with no fixtures found, pytest asks for the id of its empty-parameter
    # placeholder, which is not a path; None lets pytest name it itself
    if not isinstance(path, str):
        return None
    return path.split("/drivers/")[1].split("/")[0]


@pytest.mark.parametrize("path", _streams_fixtures(), ids=_driver)
def test_reference_streams_json_loads(path):
    raw = open(path).read()
    cat = Catalog.from_json(raw)
    doc = json.loads(raw)

    # every stream in the document survives, with its identity intact
    assert len(cat.streams) == len(doc["streams"]) >= 1
    for cs, ref in zip(cat.streams, doc["streams"]):
        spec = cs.stream
        assert spec.name == ref["stream"]["name"]
        assert spec.namespace == ref["stream"]["namespace"]
        assert spec.sync_mode in {m.value for m in SyncMode}
        assert spec.sync_mode == ref["stream"]["sync_mode"]
        assert spec.supported_sync_modes == ref["stream"]["supported_sync_modes"]
        assert spec.source_defined_primary_key == ref["stream"]["source_defined_primary_key"]
        # type_schema.properties → a real Spark schema, one field per column
        props = ref["stream"]["type_schema"]["properties"]
        schema = spec.spark_schema
        assert set(schema.fieldNames()) == set(props)
        # olake metadata columns ride along as ordinary schema fields
        assert "_olake_id" in schema.fieldNames()

    # selection block: nested {columns, sync_new_columns} unwraps per stream
    for ns, metas in doc["selected_streams"].items():
        got = {m.stream_name: m for m in cat.selected_streams[ns]}
        for ref_meta in metas:
            m = got[ref_meta["stream_name"]]
            assert m.normalization == ref_meta["normalization"]
            sel = ref_meta.get("selected_columns")
            if isinstance(sel, dict) and sel.get("columns"):
                assert m.selected_columns == sel["columns"]
                assert m.sync_new_columns == sel.get("sync_new_columns", True)
                # selected columns all resolve against the inferred schema
                by_name = {cs.stream.name: cs for cs in cat.streams}
                fields = set(by_name[m.stream_name].stream.spark_schema.fieldNames())
                assert set(sel["columns"]) <= fields


@pytest.mark.parametrize("path", _streams_fixtures(), ids=_driver)
def test_reference_streams_json_roundtrip(path):
    cat = Catalog.from_json(open(path).read())
    again = Catalog.from_json(cat.to_json())
    assert [(c.stream.namespace, c.stream.name) for c in again.streams] == [
        (c.stream.namespace, c.stream.name) for c in cat.streams
    ]
    for a, b in zip(again.streams, cat.streams):
        assert a.stream.spark_schema == b.stream.spark_schema
        assert a.stream.sync_mode == b.stream.sync_mode
    assert {
        ns: [m.stream_name for m in metas] for ns, metas in again.selected_streams.items()
    } == {ns: [m.stream_name for m in metas] for ns, metas in cat.selected_streams.items()}


def test_reference_state_json_loads():
    path = f"{REF}/drivers/mysql/internal/testdata/state.json"
    raw = open(path).read()
    st = SyncState.from_json(raw)
    doc = json.loads(raw)

    assert st.type == "STREAM"
    # global binlog position survives verbatim (server_id + file/pos)
    assert st.global_state["state"]["server_id"] == doc["global"]["state"]["server_id"]
    pos = st.global_state["state"]["state"]["position"]
    assert pos == doc["global"]["state"]["state"]["position"]

    ref_stream = doc["streams"][0]
    ss = st.streams[ref_stream["stream"]]
    assert ss.name == ref_stream["stream"]
    # all 441 pending chunks load with their boundaries intact
    ref_chunks = {(c["min"], c["max"]) for c in ref_stream["state"]["chunks"]}
    assert {(c.min, c.max) for c in ss.chunks} == ref_chunks
    assert len(ss.chunks) == len(ref_stream["state"]["chunks"])


def test_reference_state_resume_cycle(tmp_path):
    """The crash-resume loop the reference runs on this exact file: load,
    complete a chunk, persist, reload — the completed chunk stays gone."""
    st = SyncState.from_json(
        open(f"{REF}/drivers/mysql/internal/testdata/state.json").read()
    )
    stream = next(name for name, ss in st.streams.items() if ss.chunks)
    before = list(st.streams[stream].chunks)
    done = before[0]
    st.complete_chunk(stream, done)
    p = tmp_path / "state.json"
    st.save(str(p))
    back = SyncState.load(str(p))
    remaining = {(c.min, c.max) for c in back.streams[stream].chunks}
    assert (done.min, done.max) not in remaining
    assert len(remaining) == len(before) - 1
    # planner must NOT re-plan: pending chunks already exist
    got = back.get_or_plan_chunks(stream, planner=lambda: [Chunk("0", "1")])
    assert len(got) == len(before) - 1


@pytest.mark.parametrize("path", _streams_fixtures(), ids=_driver)
def test_reference_destination_fields_load(path):
    raw = open(path).read()
    cat = Catalog.from_json(raw)
    doc = json.loads(raw)
    for cs, ref in zip(cat.streams, doc["streams"]):
        assert cs.stream.destination_database == ref["stream"]["destination_database"]
        assert cs.stream.destination_table == ref["stream"]["destination_table"]
        assert cs.stream.destination() == (
            ref["stream"]["destination_database"],
            ref["stream"]["destination_table"],
        )
        dsp = ref["stream"].get("default_stream_properties")
        if dsp is not None:
            assert cs.stream.default_stream_properties == dsp
