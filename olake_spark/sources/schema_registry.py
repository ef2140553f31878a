"""Confluent Schema Registry client + registry-driven Avro decode.

Parity with the reference's registry client (pkg/kafka/schema_registry.go:
1-117): authenticated GET with bearer-over-basic priority and the
``application/vnd.schemaregistry.v1+json`` Accept header, ``/schemas/ids/{id}``
fetch with an in-process cache, AVRO as the default schemaType, schema
name/namespace normalization, and a lightweight ``/subjects`` connection
validation with distinct 401/403 messages.

Spark-first integration differs from the reference on purpose: the reference
resolves schemas lazily inside its consumer loop (one process, one cache).
On a cluster that shape would do registry HTTP from every executor, so here
resolution happens ONCE on the driver — ``resolve_and_decode`` scans the
distinct 4-byte schema ids (a tiny aggregation over a fixed-width slice,
pushed down to the payload column only), fetches each id once through the
cache, and ships the parsed codecs to executors inside the ``mapInPandas``
closure. Executors decode; they never talk HTTP.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
from base64 import b64encode
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olake_spark.functions.avro_codec import AvroCodec, normalize_avro_schema

__all__ = [
    "RegisteredSchema",
    "SchemaRegistryClient",
    "SchemaRegistryError",
    "decode_confluent_multi_df",
    "resolve_and_decode",
]

SCHEMA_TYPE_AVRO = "AVRO"
_ACCEPT = "application/vnd.schemaregistry.v1+json"


class SchemaRegistryError(RuntimeError):
    pass


@dataclass
class RegisteredSchema:
    """One resolved writer schema (types.RegisteredSchema parity)."""

    schema_type: str
    schema_str: str
    codec: AvroCodec | None  # parsed codec for AVRO; None for PROTOBUF/JSON


class SchemaRegistryClient:
    """id → schema resolution over the Confluent REST API, cached.

    Auth: bearer token takes priority over basic auth, matching
    schema_registry.go:31-38.
    """

    def __init__(
        self,
        endpoint: str,
        username: str = "",
        password: str = "",
        bearer_token: str = "",
        timeout: float = 30.0,
    ):
        self.endpoint = endpoint.rstrip("/")
        self.username = username
        self.password = password
        self.bearer_token = bearer_token
        self.timeout = timeout
        self._cache: dict[int, RegisteredSchema] = {}
        self._lock = threading.Lock()

    # -- http ---------------------------------------------------------------

    def _get(self, path: str):
        req = urllib.request.Request(f"{self.endpoint}{path}")
        if self.bearer_token:
            req.add_header("Authorization", f"Bearer {self.bearer_token}")
        elif self.username and self.password:
            cred = b64encode(f"{self.username}:{self.password}".encode()).decode()
            req.add_header("Authorization", f"Basic {cred}")
        req.add_header("Accept", _ACCEPT)
        try:
            return urllib.request.urlopen(req, timeout=self.timeout)
        except urllib.error.HTTPError as e:
            return e  # HTTPError doubles as the response object (has .status)

    # -- api ----------------------------------------------------------------

    def fetch_schema(self, schema_id: int) -> RegisteredSchema:
        """GET /schemas/ids/{id}, cached (schema_registry.go:45-98)."""
        with self._lock:
            hit = self._cache.get(schema_id)
        if hit is not None:
            return hit
        resp = self._get(f"/schemas/ids/{schema_id}")
        status = getattr(resp, "status", None) or resp.getcode()
        if status != 200:
            raise SchemaRegistryError(
                f"schema registry returned status {status} for schema ID {schema_id}"
            )
        doc = json.loads(resp.read().decode("utf-8"))
        # AVRO is the default when schemaType is absent (Confluent API docs,
        # mirrored at schema_registry.go:70-75)
        schema_type = doc.get("schemaType") or SCHEMA_TYPE_AVRO
        codec = None
        schema_str = doc.get("schema", "")
        if schema_type == SCHEMA_TYPE_AVRO:
            schema_str = normalize_avro_schema(schema_str)
            codec = AvroCodec(schema_str)
        registered = RegisteredSchema(schema_type, schema_str, codec)
        with self._lock:
            self._cache[schema_id] = registered
        return registered

    def validate(self) -> None:
        """Connection check via GET /subjects (schema_registry.go:100-117)."""
        try:
            resp = self._get("/subjects")
        except (urllib.error.URLError, OSError) as e:
            raise SchemaRegistryError(f"failed to connect to schema registry: {e}") from e
        status = getattr(resp, "status", None) or resp.getcode()
        if status == 401:
            raise SchemaRegistryError(
                "schema registry authentication failed: invalid credentials"
            )
        if status == 403:
            raise SchemaRegistryError(
                "schema registry authentication failed: access forbidden"
            )
        if status != 200:
            raise SchemaRegistryError(
                f"schema registry returned unexpected status: {status}"
            )


# -- Spark-side decode -------------------------------------------------------


def decode_confluent_multi_df(
    df: DataFrame,
    schemas_by_id: dict[int, str | dict],
    value_col: str = "value",
    out_col: str = "data",
) -> DataFrame:
    """Decode a Confluent-framed payload column whose rows may carry
    DIFFERENT writer schema ids (the normal state of a long-lived topic).

    ``schemas_by_id`` maps schema id → Avro schema JSON; the parsed codecs
    travel to executors in the closure (Arrow-batched ``mapInPandas``, same
    no-jar fallback as ``decode_confluent_df``). Output adds ``out_col``
    (record as JSON string) and ``_schema_id``.
    """
    import pandas as pd

    codecs = {int(i): AvroCodec(s) for i, s in schemas_by_id.items()}
    fields = [f.name for f in df.schema.fields if f.name != value_col]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields if f.name != value_col]
        + [f"`{out_col}` string", "`_schema_id` int"]
    )

    def _jsonable(v):
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, dict):
            return {k: _jsonable(x) for k, x in v.items()}
        if isinstance(v, list):
            return [_jsonable(x) for x in v]
        return v

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from olake_spark.functions.avro_codec import split_confluent

        for b in batches:
            decoded, ids = [], []
            for payload in b[value_col]:
                sid, body = split_confluent(bytes(payload))
                codec = codecs.get(sid)
                if codec is None:
                    raise SchemaRegistryError(f"no schema resolved for id {sid}")
                decoded.append(json.dumps(_jsonable(codec.decode(body))))
                ids.append(sid)
            res = b[fields].copy()
            res[out_col] = decoded
            res["_schema_id"] = pd.Series(ids, index=b.index, dtype="int32")
            yield res

    return df.mapInPandas(run, out_schema)


def distinct_schema_ids(df: DataFrame, value_col: str = "value") -> list[int]:
    """The distinct writer-schema ids present in a payload column.

    One narrow aggregation over bytes 2-5 of the payload (the big-endian u32
    id of the Confluent frame) — column-pruned to the payload, map-side
    combined, tiny result. This is the driver-side discovery step that keeps
    registry HTTP off the executors.
    """
    sid = (
        (F.conv(F.hex(F.substring(F.col(value_col), 2, 4)), 16, 10))
        .cast("long")
        .alias("sid")
    )
    return sorted(
        int(r["sid"]) for r in df.select(sid).distinct().collect() if r["sid"] is not None
    )


def resolve_and_decode(
    df: DataFrame,
    client: SchemaRegistryClient,
    value_col: str = "value",
    out_col: str = "data",
    schema_ids: list[int] | None = None,
) -> DataFrame:
    """Registry-driven decode: discover ids (or take them from the caller,
    e.g. a planner that already sampled the topic), fetch each once through
    the cached client on the DRIVER, then decode distributed."""
    ids = schema_ids if schema_ids is not None else distinct_schema_ids(df, value_col)
    schemas: dict[int, str] = {}
    for i in ids:
        reg = client.fetch_schema(i)
        if reg.schema_type != SCHEMA_TYPE_AVRO:
            raise SchemaRegistryError(
                f"schema id {i} is {reg.schema_type}; only AVRO payloads decode here"
            )
        schemas[i] = reg.schema_str
    return decode_confluent_multi_df(df, schemas, value_col, out_col)
