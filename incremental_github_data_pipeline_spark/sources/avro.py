"""Avro Object Container File (OCF) reader/writer, stdlib-only — the
interchange format Kafka pipelines and warehouse exports actually ship
(schema travels WITH the data). PySpark's optional spark-avro jar is
not bundled in this environment, so the engine carries its own binary
codec for the payload-column ingest path, the same per-file-isolation
shape as the WARC/gzip readers in ``operators/text.py``.

Scope (honest, spec-cited per Avro 1.11 spec §Object Container Files):
flat records of the primitive types (null, boolean, int, long, float,
double, string, bytes), the ``["null", T]`` nullable-union idiom, enum
(decoded to its symbol) and fixed; ``null`` and ``deflate`` block
codecs. Nested records / arrays / maps raise by name — the flat-record
export is what the ingest path sees in practice.

Reference scope note: the reference ingests REST JSON only
(reference etl/extract.py); binary container formats are [EXT].
"""

from __future__ import annotations

import io
import json
import struct
import zlib

from pyspark.sql.types import (
    IntegerType,
    StructField,
    StructType,
    _parse_datatype_string,
)

from incremental_github_data_pipeline_spark.operators.core import per_row_stage

_MAGIC = b"Obj\x01"


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = z = 0
    while True:
        if pos >= len(buf):
            raise ValueError("Avro varint truncated")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("Avro varint too long")
    return (z >> 1) ^ -(z & 1), pos


def _write_bytes(b: bytes) -> bytes:
    return _zigzag_encode(len(b)) + b


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _zigzag_decode(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("Avro bytes length out of range")
    return buf[pos : pos + n], pos + n


_PRIMS = ("null", "boolean", "int", "long", "float", "double",
          "string", "bytes")


def _encode_value(ftype, v) -> bytes:
    if isinstance(ftype, list):  # ["null", T] union
        if v is None:
            return _zigzag_encode(ftype.index("null"))
        other = [t for t in ftype if t != "null"][0]
        return _zigzag_encode(ftype.index(other)) + _encode_value(other, v)
    if isinstance(ftype, dict):
        if ftype.get("type") == "enum":
            return _zigzag_encode(ftype["symbols"].index(v))
        if ftype.get("type") == "fixed":
            if len(v) != ftype["size"]:
                raise ValueError("fixed value has wrong size")
            return bytes(v)
        raise NotImplementedError(
            f"Avro type {ftype.get('type')!r} not supported"
        )
    if ftype == "null":
        return b""
    if ftype == "boolean":
        return b"\x01" if v else b"\x00"
    if ftype in ("int", "long"):
        return _zigzag_encode(int(v))
    if ftype == "float":
        return struct.pack("<f", v)
    if ftype == "double":
        return struct.pack("<d", v)
    if ftype == "string":
        return _write_bytes(v.encode("utf-8"))
    if ftype == "bytes":
        return _write_bytes(bytes(v))
    raise NotImplementedError(f"Avro type {ftype!r} not supported")


def _decode_value(ftype, buf: bytes, pos: int):
    if isinstance(ftype, list):
        idx, pos = _zigzag_decode(buf, pos)
        if not 0 <= idx < len(ftype):
            raise ValueError("Avro union index out of range")
        return _decode_value(ftype[idx], buf, pos)
    if isinstance(ftype, dict):
        if ftype.get("type") == "enum":
            idx, pos = _zigzag_decode(buf, pos)
            return ftype["symbols"][idx], pos
        if ftype.get("type") == "fixed":
            n = ftype["size"]
            if pos + n > len(buf):
                raise ValueError("Avro fixed truncated")
            return buf[pos : pos + n], pos + n
        raise NotImplementedError(
            f"Avro type {ftype.get('type')!r} not supported"
        )
    if ftype == "null":
        return None, pos
    if ftype == "boolean":
        return buf[pos] != 0, pos + 1
    if ftype in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if ftype == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if ftype == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if ftype == "string":
        b, pos = _read_bytes(buf, pos)
        return b.decode("utf-8"), pos
    if ftype == "bytes":
        b, pos = _read_bytes(buf, pos)
        return b, pos
    raise NotImplementedError(f"Avro type {ftype!r} not supported")


def avro_build(
    schema: dict,
    records: list[dict],
    codec: str = "null",
    sync: bytes = b"\x07" * 16,
    records_per_block: int = 100,
) -> bytes:
    """Serialize flat records as an Avro OCF payload (the writer twin
    that makes the reader testable byte-for-byte — ``sync`` is pinned
    so payloads are deterministic). ``schema`` is the Avro record
    schema dict; ``codec`` is ``"null"`` or ``"deflate"``."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    if schema.get("type") != "record":
        raise NotImplementedError("top-level schema must be a record")
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    out = io.BytesIO()
    out.write(_MAGIC)
    out.write(_zigzag_encode(len(meta)))
    for k, v in meta.items():
        out.write(_write_bytes(k.encode("ascii")))
        out.write(_write_bytes(v))
    out.write(_zigzag_encode(0))
    out.write(sync)
    fields = schema["fields"]
    for i in range(0, len(records), records_per_block):
        chunk = records[i : i + records_per_block]
        body = b"".join(
            b"".join(
                _encode_value(f["type"], rec[f["name"]]) for f in fields
            )
            for rec in chunk
        )
        if codec == "deflate":
            body = zlib.compress(body)[2:-4]  # raw deflate per spec
        out.write(_zigzag_encode(len(chunk)))
        out.write(_zigzag_encode(len(body)))
        out.write(body)
        out.write(sync)
    return out.getvalue()


def avro_records(payload: bytes) -> tuple[dict, list[dict]]:
    """Parse one OCF payload → (schema dict, records). Validates the
    magic, walks the metadata map, honors the codec, checks every
    block's sync marker and record count — truncation and marker
    mismatches fail loud (a torn block must not silently shorten a
    shard)."""
    if payload[:4] != _MAGIC:
        raise ValueError("not an Avro OCF payload (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _zigzag_decode(payload, pos)
        if n == 0:
            break
        if n < 0:  # negative count prefixes a block byte size
            _, pos = _zigzag_decode(payload, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(payload, pos)
            v, pos = _read_bytes(payload, pos)
            meta[k.decode("ascii")] = v
    try:
        schema = json.loads(meta["avro.schema"])
    except KeyError:
        raise ValueError("Avro metadata missing avro.schema") from None
    codec = meta.get("avro.codec", b"null").decode("ascii")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"Avro codec {codec!r} not supported")
    if schema.get("type") != "record":
        raise NotImplementedError("top-level schema must be a record")
    sync = payload[pos : pos + 16]
    pos += 16
    fields = schema["fields"]
    records: list[dict] = []
    while pos < len(payload):
        count, pos = _zigzag_decode(payload, pos)
        size, pos = _zigzag_decode(payload, pos)
        if count < 0 or size < 0 or pos + size + 16 > len(payload):
            raise ValueError("Avro block header out of range")
        body = payload[pos : pos + size]
        pos += size
        if payload[pos : pos + 16] != sync:
            raise ValueError("Avro block sync marker mismatch")
        pos += 16
        if codec == "deflate":
            body = zlib.decompress(body, wbits=-15)
        bpos = 0
        for _ in range(count):
            rec = {}
            for f in fields:
                rec[f["name"]], bpos = _decode_value(
                    f["type"], body, bpos
                )
            records.append(rec)
        if bpos != len(body):
            raise ValueError("Avro block has trailing bytes")
    return schema, records


def avro_ingest(
    df,
    spark_schema: str,
    payload_col: str = "payload",
    id_col: str = "payload_id",
    on_error: str = "raise",
):
    """Decode Avro OCF payloads into one row per record: ``(id,
    record_idx, <declared fields>)``. ``spark_schema`` is the DDL of
    the EXPECTED record fields (e.g. ``"name string, n long"``) — the
    embedded writer schema must carry every declared field (checked by
    name, loud on mismatch), so schema drift surfaces as an error, not
    silent nulls. One Arrow-batched mapInPandas pass; ``on_error`` as
    in :func:`~incremental_github_data_pipeline_spark.operators.text.gzip_ingest`.
    Every unreadable payload fails as ``ValueError``, in both modes."""
    declared = _parse_datatype_string(spark_schema)
    schema = StructType(
        [df.schema[id_col], StructField("record_idx", IntegerType(), False)]
        + list(declared.fields)
    )
    names = declared.fieldNames()

    def rows(r):
        pid, payload = r
        try:
            sch, recs = avro_records(payload)
            have = {f["name"] for f in sch["fields"]}
        except (KeyError, zlib.error, struct.error, IndexError,
                NotImplementedError) as exc:
            # struct.error / IndexError: in-block corruption that
            # inflates the record count walks _decode_value off the
            # buffer end. NotImplementedError: the codec guard fires for
            # genuinely exotic files (snappy) and for corruption landing
            # on the codec name alike. Either way the PAYLOAD is
            # unreadable, the condition on_error="skip" drops.
            raise ValueError(f"bad Avro payload: {exc!r}") from exc
        missing = [n for n in names if n not in have]
        if missing:
            raise ValueError(f"Avro schema missing fields {missing}")
        for j, rec in enumerate(recs):
            yield (pid, j, *(rec[n] for n in names))

    return per_row_stage(
        df.select(id_col, payload_col), schema, rows, on_error=on_error
    )
