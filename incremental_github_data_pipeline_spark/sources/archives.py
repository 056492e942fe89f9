"""Archive-payload ingestion (tar / tar.gz / zip), stdlib-only — the
shard-of-files layout datasets actually ship in (image tarballs à la
WebDataset, zip bundles of documents, source-code archives). One
member = one row, through the same per-row shell as the WARC/gzip/Avro
readers (:func:`~incremental_github_data_pipeline_spark.operators.core.per_row_stage`):
a corrupt archive raises ``ValueError`` and ``on_error="skip"`` drops
it whole.

Reference scope note: the reference ingests REST JSON only
(reference etl/extract.py); archive containers are [EXT] surface.
"""

from __future__ import annotations

import io
import tarfile
import zipfile

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from incremental_github_data_pipeline_spark.operators.core import per_row_stage


def tar_members(payload: bytes) -> list[tuple[str, bytes]]:
    """Regular-file members of a tar payload as (name, bytes), archive
    order preserved. ``r:*`` autodetects gzip/bzip2/xz wrapping — the
    .tar.gz shard is the common case. Directories/links are skipped
    (they carry no data); a malformed archive raises ValueError."""
    import zlib

    try:
        with tarfile.open(fileobj=io.BytesIO(payload), mode="r:*") as tf:
            out = []
            for m in tf:
                if m.isreg():
                    f = tf.extractfile(m)
                    out.append((m.name, f.read() if f else b""))
            return out
    except (tarfile.TarError, zlib.error, EOFError) as e:
        # zlib.error / EOFError: corrupt DEFLATE inside the gzip
        # wrapper can escape tarfile's own ReadError net mid-read —
        # normalize so on_error="skip" quarantines torn shards
        # (same class as the r11-ADVICE warc fix)
        raise ValueError(f"bad tar payload: {e}") from None


def zip_members(payload: bytes) -> list[tuple[str, bytes]]:
    """File members of a zip payload as (name, bytes), central-directory
    order. Stored and deflated entries both decode (stdlib zipfile);
    directory entries are skipped; a bad archive or a member whose CRC
    fails raises ValueError — torn shards fail loud."""
    import zlib

    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            bad = zf.testzip()
            if bad is not None:
                raise ValueError(f"zip member CRC failed: {bad}")
            return [
                (i.filename, zf.read(i))
                for i in zf.infolist()
                if not i.is_dir()
            ]
    except (zipfile.BadZipFile, zlib.error, EOFError) as e:
        # corrupt member DEFLATE streams raise raw zlib.error before
        # the CRC check can catch them — normalize (r11-ADVICE class)
        raise ValueError(f"bad zip payload: {e}") from None
    except NotImplementedError as e:
        # zipfile raises this for flag/feature bytes corruption lands
        # on (patched data, wild version-needed) as well as genuinely
        # exotic features — either way the PAYLOAD is the problem, a
        # quarantinable condition, not a code path worth crashing 100
        # TB over
        raise ValueError(f"unsupported zip feature: {e}") from None


def archive_members(payload: bytes) -> list[tuple[str, bytes]]:
    """Container-agnostic dispatch by magic: zip (``PK\\x03\\x04``),
    else tar (plain or compressed — tarfile sniffs)."""
    if payload[:4] == b"PK\x03\x04":
        return zip_members(payload)
    return tar_members(payload)


def tar_build(
    members: list[tuple[str, bytes]], gz: bool = False
) -> bytes:
    """Deterministic tar (optionally gzip) writer twin: mtime/uid/gid
    pinned to 0 so payload bytes are reproducible."""
    buf = io.BytesIO()
    mode = "w:gz" if gz else "w"
    with tarfile.open(fileobj=buf, mode=mode, compresslevel=6) if gz else \
            tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def zip_build(
    members: list[tuple[str, bytes]], compress: bool = True
) -> bytes:
    """Deterministic zip writer twin: timestamps pinned to the zip
    epoch (1980-01-01) so payload bytes are reproducible."""
    buf = io.BytesIO()
    method = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
    with zipfile.ZipFile(buf, "w", method) as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = method
            zf.writestr(info, data)
    return buf.getvalue()


def archive_ingest(
    df,
    payload_col: str = "payload",
    id_col: str = "payload_id",
    on_error: str = "raise",
):
    """Decode archive payloads into one row per member: ``(id,
    member_idx, name, n_bytes, text)`` — ``text`` is the UTF-8 decode
    of the member (NULL when the member is not valid UTF-8: binary
    members keep their row, their size and their name, which is what a
    mixed tarball of images + captions needs). One Arrow-batched
    mapInPandas pass; ``on_error="skip"`` drops corrupt payloads whole
    (recoverable via left_anti on the id)."""
    schema = StructType(
        [
            df.schema[id_col],
            StructField("member_idx", IntegerType(), False),
            StructField("name", StringType(), False),
            StructField("n_bytes", LongType(), False),
            StructField("text", StringType(), True),
        ]
    )

    def rows(r):
        pid, payload = r
        for j, (name, data) in enumerate(archive_members(payload)):
            try:
                text = data.decode("utf-8")
            except UnicodeDecodeError:
                text = None
            yield pid, j, name, len(data), text

    return per_row_stage(
        df.select(id_col, payload_col), schema, rows, on_error=on_error
    )
