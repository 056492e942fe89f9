"""The benchmark's workloads: closed loops with one client.

Each workload lands seeded inputs in its own directory, calls the
engine's public entry points, and times from the moment the inputs are
landed (atomic renames) until the call returns. Input generation always
happens before the clock starts. After the timed loop, ``check``
compares the engine's tables with the state the generator expects.
"""

from __future__ import annotations

import math
import os
import uuid
from dataclasses import dataclass
from pathlib import Path
from time import perf_counter

from gen import DocGenerator, DocShape, GithubExpected, GithubGenerator, GithubShape
from procstat import tree_cpu_s


@dataclass
class Op:
    kind: str  # "batch" (ingest), "query" (serving) or "mix" (registry queries)
    wall_s: float
    cpu_s: float  # process-tree CPU, JIT compiler threads included
    jit_s: float  # the JIT compiler threads' part of cpu_s
    rows: int  # raw records landed for a batch, queries run for a query or mix


def _land(path: Path, data: bytes) -> None:
    """Write ``data`` so that ``path`` appears complete or not at all.
    The temporary name starts with '.', which Spark's file listing skips."""
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_bytes(data)
    os.replace(tmp, path)


class _Generated:
    """Times the workload's own input generation, which stays off the clock."""

    generate_s = 0.0

    def _generate(self, fn):
        t0 = perf_counter()
        out = fn()
        self.generate_s += perf_counter() - t0
        return out


def _timed(kind: str, rows: int, fn, tracer=None, counts=None) -> tuple[Op, object]:
    """Run ``fn`` as one timed operation; traced runs also record it as
    span ``op.<kind>``, carrying ``counts``."""
    span = tracer.begin(f"op.{kind}") if tracer is not None else None
    (c0, j0), t0 = tree_cpu_s(), perf_counter()
    try:
        out = fn()
    finally:
        t1 = perf_counter()
        if span is not None:
            tracer.end(span)
            for key, value in (counts or {}).items():
                tracer.add(span, key, value)
    c1, j1 = tree_cpu_s()
    return Op(kind, t1 - t0, c1 - c0, j1 - j0, rows), out


class GithubIncremental(_Generated):
    """Land one GitHub-shaped raw batch, then run the incremental GitHub
    pipeline on it: availableNow trigger, the batch cleaners with uuid5
    keys, and five keep-last merges that each rewrite a snapshot."""

    name = "github_incremental"
    tracer = None

    def __init__(self, seed: int, work: Path, shape: GithubShape = GithubShape()):
        self.gen = GithubGenerator(seed, shape)
        self.raw, self.out, self.ckpt = work / "raw", work / "out", work / "ckpt"
        self.raw.mkdir(parents=True)
        self.expected = GithubExpected()
        self.pending = self._generate(self.gen.next_batch)

    def step(self, spark) -> list[Op]:
        from incremental_github_data_pipeline_spark.streaming import incremental

        batch, self.pending = self.pending, None
        _land(self.raw / "branches_raw.json", batch.branches)
        _land(self.raw / "issues_raw.json", batch.issues)
        _land(self.raw / f"repos_raw_{self.gen.n:05d}.json", batch.repos)
        self.expected.apply(batch)
        op, _ = _timed(
            "batch",
            batch.records,
            lambda: incremental.run_incremental_github(
                spark, self.raw, self.out, self.ckpt, issues_available=True
            ),
            self.tracer,
            {"clean_rows": batch.clean_rows},
        )
        self.pending = self._generate(self.gen.next_batch)
        return [op]

    def check(self, spark) -> list[str]:
        """Final tables against the generator's keep-last state: row
        counts, key uniqueness and every tracked value. ``ingested_at``
        is not compared."""
        import pyarrow.parquet as pq

        from incremental_github_data_pipeline_spark import keys

        e = self.expected

        def rows(name, *cols):
            t = pq.read_table(self.out / name, columns=list(cols))
            return list(zip(*(t.column(c).to_pylist() for c in cols)))

        bad = []

        def table(name, key, *cols):
            got = rows(name, key, *cols)
            if len({r[0] for r in got}) != len(got):
                bad.append(f"{name}: {key} not unique")
            return got

        def same(name, got_rows, got, want):
            if len(got_rows) != len(want):
                bad.append(f"{name}: {len(got_rows)} rows, expected {len(want)}")
            elif got != want:
                bad.append(f"{name}: values differ from the keep-last state")

        repos = table("repos_clean", "repo_id", "github_repo_id", "stargazers_count")
        same("repos_clean", repos, {r[1]: r[2] for r in repos}, e.stars)
        owners = table("owners_clean", "owner_id", "owner_login")
        same("owners_clean", owners, {r[1] for r in owners}, e.owners)
        branches = table("branches_clean", "branch_id", "commit_sha")
        want_b = {
            str(uuid.uuid5(keys.NAMESPACE_BRANCH, f"{repo}|{b}")): sha
            for (repo, b), sha in e.branches.items()
        }
        same("branches_clean", branches, dict(branches), want_b)
        issues = table("issues_clean", "issue_id", "github_issue_id", "state", "comments")
        same("issues_clean", issues, {r[1]: (r[2], r[3]) for r in issues}, e.issues)
        users = table("users_clean", "user_id", "user_login")
        same("users_clean", users, {r[1] for r in users}, e.users)
        return bad


def _parquet(ids, texts) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        sink,
    )
    return sink.getvalue().to_pybytes()


# registry queries of the doc-join family: they read only the
# ``documents`` table (doc_id, text), which the workload lands itself
MIX = ("q_doc_allpairs_join", "q_doc_contained")


def _registry() -> dict:
    from incremental_github_data_pipeline_spark.queries import REGISTRY, ext_text  # noqa: F401

    return REGISTRY


class SearchLifecycle(_Generated):
    """Land one Zipf-vocabulary document shard, ingest it into the
    versioned search index (tokenize, four commits), serve a fixed batch
    of BM25 queries against the new version, then run the registry's
    doc-join queries over the shard's first documents."""

    name = "search_lifecycle"
    tracer = None
    top_k = 10

    def __init__(self, seed: int, work: Path, shape: DocShape = DocShape()):
        import numpy as np

        self.gen = DocGenerator(seed, shape)
        self.src, self.root, self.ckpt = work / "docs", work / "index", work / "ckpt"
        self.sf = work / "tables"  # the registry's table directory
        self.src.mkdir(parents=True)
        self.sf.mkdir()
        self.mix = [MIX[i] for i in np.random.default_rng([seed, 3]).permutation(len(MIX))]
        self.landed = 0
        self.pending = self._generate(self._shard_bytes)
        self.queries = None
        self.served: list = []
        self.mixed: dict[str, tuple[list, list]] = {}  # query -> (columns, rows)

    def _shard_bytes(self) -> tuple[bytes, bytes]:
        """The shard, and its first ``mix_docs`` documents numbered from 0
        as the registry's ``documents`` table."""
        ids, texts = self.gen.next_shard()
        n = self.gen.shape.mix_docs
        return _parquet(ids, texts), _parquet(range(n), texts[:n])

    def _run_mix(self, spark) -> dict:
        out = {}
        for name in self.mix:
            span = self.tracer.begin(f"queries.{name}") if self.tracer is not None else None
            try:
                df = _registry()[name].fn(spark, str(self.sf))
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
            finally:
                if span is not None:
                    self.tracer.end(span)
        return out

    def step(self, spark) -> list[Op]:
        from incremental_github_data_pipeline_spark.streaming import incremental

        if self.queries is None:
            self.queries = spark.createDataFrame(self.gen.queries, "query_id long, qtext string")
        (shard, docs), self.pending = self.pending, None
        _land(self.src / f"shard-{self.landed:05d}.parquet", shard)
        _land(self.sf / "documents.parquet", docs)
        self.landed += 1
        ingest, _ = _timed(
            "batch",
            self.gen.shape.docs_per_shard,
            lambda: incremental.run_incremental_index_ingest(
                spark, str(self.src), str(self.root), str(self.ckpt)
            ),
            self.tracer,
        )
        serve, self.served = _timed(
            "query",
            len(self.gen.queries),
            lambda: incremental.bm25_search_versioned(
                spark, str(self.root), self.queries, k=self.top_k
            ).collect(),
            self.tracer,
        )
        mix, self.mixed = _timed(
            "mix", len(self.mix), lambda: self._run_mix(spark), self.tracer
        )
        self.pending = self._generate(self._shard_bytes)
        return [ingest, serve, mix]

    def check(self, spark) -> list[str]:
        """The last served top-k against a one-shot BM25 over every landed
        document: ranks may differ only inside a group of tied scores.
        The last query pass against each query's DuckDB oracle over the
        same ``documents`` table."""
        import duckdb

        from incremental_github_data_pipeline_spark.operators.text import bm25_topk

        docs = spark.read.parquet(str(self.src))
        want = bm25_topk(docs, self.queries, qtext_col="qtext", k=self.top_k).collect()
        bad = compare_topk(self.served, want)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{self.sf / 'documents.parquet'}')"
        )
        for name, (cols, rows) in self.mixed.items():
            res = con.sql(_registry()[name].oracle)
            bad += [f"{name}: {f}" for f in compare_rows(cols, rows, res.columns, res.fetchall())]
        con.close()
        return bad


def compare_rows(
    got_cols: list, got: list, want_cols: list, want: list, rel: float = 1e-12
) -> list[str]:
    """Order-insensitive equality of two results: the same column names,
    the same row count and the same multiset of rows (floats equal to
    ``rel``), columns matched by name."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, expected {len(want)}"]
    order = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    at = {c: i for i, c in enumerate(got_cols)}

    def canon(rows, idx):
        return sorted(
            (tuple(r[i] for i in idx) for r in rows),
            key=lambda t: tuple((v is None, str(v) if v is None else v) for v in t),
        )

    g = canon(got, [at[want_cols[i]] for i in order])
    w = canon(want, order)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            same = (
                math.isclose(x, y, rel_tol=rel)
                if isinstance(x, float) and isinstance(y, float)
                else x == y
            )
            if not same:
                return [f"row {a} != expected {b}"]
    return []


def compare_topk(got: list, want: list, rel: float = 1e-9) -> list[str]:
    """Per query: the same number of hits, the same score at every rank,
    and the same (doc, n_terms, sum_tf) wherever the score is not tied
    with another hit of that query."""
    def by_query(rows):
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append(r)
        return out

    g, w = by_query(got), by_query(want)
    if set(g) != set(w):
        return [f"served queries {sorted(g)} != expected {sorted(w)}"]
    bad = []
    for q in sorted(w):
        if len(g[q]) != len(w[q]):
            bad.append(f"query {q}: {len(g[q])} hits, expected {len(w[q])}")
            continue
        scores = [r["score"] for r in w[q]]
        for a, b in zip(g[q], w[q]):
            if not math.isclose(a["score"], b["score"], rel_tol=rel):
                bad.append(f"query {q} rank {b['rank']}: score {a['score']} != {b['score']}")
                break
            tied = sum(math.isclose(s, b["score"], rel_tol=rel) for s in scores) > 1
            if not tied and (a["doc_id"], a["n_terms"], a["sum_tf"]) != (
                b["doc_id"], b["n_terms"], b["sum_tf"]
            ):
                bad.append(f"query {q} rank {b['rank']}: doc {a['doc_id']} != {b['doc_id']}")
                break
    return bad


WORKLOADS = {w.name: w for w in (GithubIncremental, SearchLifecycle)}
