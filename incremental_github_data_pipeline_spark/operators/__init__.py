"""Operator surface of SURVEY.md §2.

``core``        projections, filters, casts, dedup, FK-resolve, unions (§2.2-2.6),
                and ``per_row_stage``, the one per-row Arrow (mapInPandas) stage
``dedup``       [EXT] exact / MinHash-LSH / SimHash / n-gram-Jaccard / embedding dedup
``similarity``  [EXT] brute-force and LSH-bucketed top-k vector search
``text``        [EXT] language-ID, quality scoring, token counting, fingerprinting
``multimodal``  [EXT] binary media columns: schema, batching, stubbed decoders
"""

from incremental_github_data_pipeline_spark.operators.core import (  # noqa: F401
    cast_schema,
    collapse_array,
    collapse_struct_array,
    dedupe_keep_first,
    dedupe_keep_last,
    drop_null_keys,
    parse_timestamps_utc,
    resolve_fk,
    select_rename,
    union_conform,
    with_input_seq,
)
