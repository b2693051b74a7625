"""Arrow IPC STREAM wire codec (columnar family member).

The wire-format family covers the reference stack's row-oriented
encodings (Avro + Confluent framing ``avro_py.py``, Debezium JSON
``cdc.py``, proto3 ``proto_py.py``, MessagePack ``msgpack_py.py``,
BSON ``bson_py.py``, Thrift compact ``thrift_py.py``, XML). This module
adds the COLUMNAR member: the Arrow IPC streaming format (public spec,
arrow.apache.org/docs/format/Columnar.html#serialization-and-interprocess-communication-ipc)
— the batch interchange encoding Spark itself uses on the
executor<->Python hop for every Pandas UDF, and the wire format of
Arrow Flight feeds. Unlike the row codecs there is no hand-rolled
byte-walker here: ``pyarrow`` (a baked-in public dependency, and the
very library Spark's Arrow path links against) IS the reference codec,
so the engineering surface is the framing discipline:

* encode: each Arrow batch becomes ONE self-contained IPC stream
  (schema message + record batch + EOS) under an EXPLICIT declared
  schema — pandas dtype inference is never trusted, so a partition
  whose nullable-int column arrived as float64-with-NaN still encodes
  as nullable int64 and the byte stream is schema-stable across
  partitionings.
* decode: every payload is opened with ``pa.ipc.open_stream``, its
  schema is VALIDATED against the declared one (a mixed-schema topic
  fails loudly, same contract as avro_py's mixed-id guard), and nulls
  come back as Python ``None`` (``integer_object_nulls``) so downstream
  typed columns keep exact nullable-int semantics.

Both directions are narrow Arrow ``mapInPandas`` kernels — no shuffle
at any corpus size; payload row count varies with partitioning (one per
batch) but the decoded ROWS are partitioning-invariant, which is what
the round-trip oracle hashes.

Reference analog: the Kafka Connect value-converter seam
(``infra/connect/mysql-source.json:4-19`` chooses the wire codec per
topic); this is the converter a columnar topic would use.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame

__all__ = ["arrow_schema", "encode_arrow_ipc", "decode_arrow_ipc"]

_PA_TYPES = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "boolean": pa.bool_(),
}


def arrow_schema(ddl: str) -> pa.Schema:
    """``"a bigint, b string"`` -> explicit pa.Schema (all nullable)."""
    fields = []
    for part in ddl.split(","):
        name, typ = part.strip().rsplit(" ", 1)
        if typ.lower() not in _PA_TYPES:
            raise ValueError(f"unsupported arrow-ipc column type: {typ}")
        fields.append(pa.field(name.strip(), _PA_TYPES[typ.lower()]))
    return pa.schema(fields)


def _batch_to_stream(pdf: pd.DataFrame, schema: pa.Schema) -> bytes:
    arrays = [
        pa.Array.from_pandas(pdf[f.name], type=f.type) for f in schema
    ]
    batch = pa.RecordBatch.from_arrays(arrays, schema=schema)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema) as writer:
        writer.write_batch(batch)
    return sink.getvalue().to_pybytes()


def encode_arrow_ipc(df: DataFrame, ddl: str) -> DataFrame:
    """rows -> one Arrow IPC stream payload per Arrow batch.

    ``ddl`` declares the wire schema (column order and types); pandas
    dtypes are coerced through it, never inferred.
    """
    schema = arrow_schema(ddl)

    # One output row per Arrow BATCH (not per row), so this kernel keeps
    # its own batch loop instead of sizing.map_rows.
    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {"payload": [_batch_to_stream(pdf, schema)]}
            )

    return df.mapInPandas(enc, schema="payload binary")


def decode_arrow_ipc(payloads: DataFrame, ddl: str) -> DataFrame:
    """(payload binary) -> typed columns per the declared wire schema.

    Each payload must be a complete IPC stream whose schema matches the
    declared one exactly — a mixed-schema feed raises with both schemas
    named rather than mis-casting (the avro_py mixed-id contract).
    """
    schema = arrow_schema(ddl)

    # Each payload is a whole stream of rows, so this kernel keeps its own
    # batch loop instead of sizing.map_rows.
    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema]
        for pdf in batches:
            frames = []
            for p in pdf["payload"]:
                with pa.ipc.open_stream(pa.BufferReader(bytes(p))) as rd:
                    if rd.schema != schema:
                        raise ValueError(
                            "arrow-ipc schema mismatch: payload has "
                            f"{rd.schema!s} but declared {schema!s}"
                        )
                    tbl = rd.read_all()
                frames.append(
                    tbl.to_pandas(integer_object_nulls=True)
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)[cols]

    return payloads.mapInPandas(dec, schema=ddl)
