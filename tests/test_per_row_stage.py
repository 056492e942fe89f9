"""The engine's one per-row Arrow stage, ``operators.core.per_row_stage``:
its raise/skip policy, the whole-payload skip contract of the four
payload readers that use it, and the guard that keeps every other
per-row loop routed through it."""

from __future__ import annotations

import ast
import gzip
import io
import pathlib

import pytest

import incremental_github_data_pipeline_spark as pkg
from incremental_github_data_pipeline_spark.operators.core import per_row_stage
from incremental_github_data_pipeline_spark.operators.text import (
    cdc_chunk_rows,
    gzip_ingest,
    warc_build,
    warc_ingest,
)
from incremental_github_data_pipeline_spark.sources.archives import (
    archive_ingest,
    zip_build,
)
from incremental_github_data_pipeline_spark.sources.avro import (
    avro_build,
    avro_ingest,
)

# (module, top-level function) of every mapInPandas call in the package,
# one call each. The four outside core.py work on a whole batch, not on
# rows.
_MAP_IN_PANDAS_SITES = [
    ("operators/core.py", "per_row_stage"),
    ("operators/multimodal.py", "extract_features"),
    ("operators/similarity.py", "cosine_topk_arrow"),
    ("operators/similarity.py", "pq_encode_arrow"),
    ("operators/text.py", "learn_unigram"),  # the E-step, per-batch sums
]


def test_map_in_pandas_call_sites_are_pinned():
    root = pathlib.Path(pkg.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    name = getattr(top, "name", f"<line {node.lineno}>")
                    sites.append((path.relative_to(root).as_posix(), name))
    assert sorted(sites) == _MAP_IN_PANDAS_SITES


def test_per_row_stage_skip_drops_a_row_whole(spark):
    from pyspark.sql.types import StructType

    def _halves(r):
        # good first, bad later on odd ids (defined here so that it
        # pickles by value: the test module is not importable on workers)
        yield (r.id, "first")
        if r.id % 2:
            raise ValueError("bad second half")
        yield (r.id, "second")

    df = spark.range(4).repartition(1)
    schema = StructType.fromDDL("id long, part string")
    skipped = per_row_stage(df, schema, _halves, on_error="skip")
    assert sorted(map(tuple, skipped.collect())) == [
        (0, "first"), (0, "second"), (2, "first"), (2, "second"),
    ]
    with pytest.raises(Exception, match="bad second half"):
        per_row_stage(df, schema, _halves).collect()
    with pytest.raises(ValueError, match="on_error"):
        per_row_stage(df, schema, _halves, on_error="quarantine")
    # a batch with no output rows still carries the schema's columns
    empty = per_row_stage(df, schema, lambda r: ())
    assert empty.schema == schema and empty.collect() == []
    assert per_row_stage(df, schema, _halves, df["id"] == 2).count() == 2


def _gz(b: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(b)
    return buf.getvalue()


def _warc(body: bytes) -> list[dict]:
    """A response record (HTTP status 200), then a resource record
    (no status) carrying ``body``."""
    return [
        {"warc_type": "response", "http_status": 200, "body": b"page"},
        {"warc_type": "resource", "target_uri": "u", "body": body},
    ]


def _zip_good_then_bad() -> bytes:
    # stored members: flipping a byte of the second one's data fails
    # its CRC while the first member still reads
    payload = zip_build(
        [("a.txt", b"first"), ("b.txt", b"second one")], compress=False
    )
    return payload.replace(b"second one", b"second 0ne")


_AVRO_SCHEMA = {
    "type": "record", "name": "r",
    "fields": [{"name": "name", "type": "string"}],
}


def _avro_good_then_bad() -> bytes:
    # one record per block; a wrong sync marker after the last block
    good = avro_build(
        _AVRO_SCHEMA, [{"name": "x"}, {"name": "y"}], records_per_block=1
    )
    return good[:-16] + b"\x00" * 16


# format -> (ingest, a good payload, a payload whose first member or
# record is valid and whose later one is corrupt)
_READERS = {
    "gzip": (
        gzip_ingest,
        _gz(b"one") + _gz(b"two"),
        _gz(b"ok") + _gz(b"\xff\xfe"),
    ),
    "warc": (
        warc_ingest,
        warc_build(_warc(b"two")),
        warc_build(_warc(b"\xff\xfe")),
    ),
    "archive": (
        archive_ingest,
        zip_build([("a.txt", b"one"), ("b.txt", b"two")]),
        _zip_good_then_bad(),
    ),
    "avro": (
        lambda df, **kw: avro_ingest(df, "name string", **kw),
        avro_build(_AVRO_SCHEMA, [{"name": "a"}, {"name": "b"}]),
        _avro_good_then_bad(),
    ),
}


@pytest.mark.parametrize("fmt", sorted(_READERS))
def test_skip_drops_a_good_then_bad_payload_whole(spark, fmt):
    ingest, good, good_then_bad = _READERS[fmt]
    ddl = "payload_id long, payload binary"
    only_good = spark.createDataFrame([(1, good)], ddl)
    both = spark.createDataFrame(
        [(1, good), (2, good_then_bad), (3, good)], ddl
    )
    expected = sorted(tuple(r)[1:] for r in ingest(only_good).collect())
    assert len(expected) == 2
    got = ingest(both, on_error="skip").collect()
    assert sorted(r["payload_id"] for r in got) == [1, 1, 3, 3]
    for pid in (1, 3):
        kept = sorted(tuple(r)[1:] for r in got if r["payload_id"] == pid)
        assert kept == expected
    with pytest.raises(Exception):
        ingest(both).collect()


@pytest.mark.parametrize("id_type", ["string", "int"])
def test_cdc_chunk_rows_keeps_the_id_type(spark, id_type):
    text = "".join(f"word{i} " for i in range(200))
    ids = ["a", "b"] if id_type == "string" else [7, 8]
    df = spark.createDataFrame(
        [(ids[0], text), (ids[1], "short")], f"doc_id {id_type}, text string"
    )
    out = cdc_chunk_rows(df)
    assert out.schema["doc_id"].dataType == df.schema["doc_id"].dataType
    rows = out.collect()
    for doc_id, t in ((ids[0], text), (ids[1], "short")):
        chunks = sorted(
            (r["chunk_idx"], r["chunk"]) for r in rows if r["doc_id"] == doc_id
        )
        assert "".join(c for _, c in chunks) == t
    assert len([r for r in rows if r["doc_id"] == ids[0]]) > 1
