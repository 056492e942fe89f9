"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed and a shape: the same
seed yields byte-identical inputs, so two runs of one seed feed the
engine the same files. Sampling is vectorized with numpy; only the final
per-record serialization loops in Python.

Each GitHub batch also carries the rows the cleaners must keep, which
``GithubExpected`` folds into the keep-last state the output check
compares against.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# GitHub-shaped raw batches
# ---------------------------------------------------------------------------

STATES = np.array(["open", "closed"])
LANGS = np.array(["Python", "Scala", "Java", "Go", "Rust", None], dtype=object)
VISIBILITY = np.array(["public", "private", "internal"])


@dataclass(frozen=True)
class GithubShape:
    """One batch's traffic. METRICS.md names the source of every figure:
    the reference pipeline's published run (one owner's 300 repos, 2,628
    branches, 3,210 issues, 1,582 users; at most 300 of each per repo)
    unless marked unverified."""

    repos: int = 300  # repos per batch, updates included: one reference run
    update_share: float = 0.3  # share of a batch's repos that re-land a seen id
    branches_mean: float = 2628 / 300  # per repo; at least one, the default
    issues_mean: float = 3210 / 300  # per repo; may be none
    per_repo_cap: int = 300  # 3 pages of 100 per repo
    owners: int = 1
    users: int = 1582  # authors and assignees are drawn from this pool
    assignee_share: float = 0.6  # unverified
    dirty: int = 2  # null-key rows and orphan rows, per entity per batch


def fanout(mean: float, lo: int, cap: int, n: int) -> np.ndarray:
    """``n`` per-repo counts in ``[lo, cap]`` from a power law
    P(k) ~ (k - lo + 1)^-a, taken at the n mid-quantiles so that every
    batch has the same histogram (and the same size); ``a`` is fitted so
    that their mean is ``mean``. The heavy tail is unverified: the
    reference publishes only the mean and the cap."""
    k = np.arange(lo, cap + 1)
    q = (np.arange(n) + 0.5) / n
    a_lo, a_hi = 0.0, 8.0
    for _ in range(60):
        a = (a_lo + a_hi) / 2
        w = (k - lo + 1.0) ** -a
        x = k[np.minimum(np.searchsorted(np.cumsum(w / w.sum()), q), len(k) - 1)]
        if x.mean() > mean:
            a_lo = a
        else:
            a_hi = a
    return x


@dataclass
class GithubBatch:
    repos: bytes
    branches: bytes
    issues: bytes
    records: int  # raw records landed (repos + branches + issues)
    clean: tuple[list, list, list]  # the rows the cleaners must keep
    clean_rows: int  # rows of the batch's five cleaned tables


@dataclass
class GithubExpected:
    """Keep-last state after every landed batch, keyed as the cleaners key."""

    stars: dict[int, int] = field(default_factory=dict)  # github_repo_id
    owners: set[str] = field(default_factory=set)
    branches: dict[tuple[str, str], str] = field(default_factory=dict)  # sha
    issues: dict[int, tuple[str, int]] = field(default_factory=dict)  # state, comments
    users: set[str] = field(default_factory=set)

    def apply(self, batch: GithubBatch) -> None:
        """Fold a landed batch in: later batches win per key."""
        repos, branches, issues = batch.clean
        for r in repos:
            self.stars[r["id"]] = r["stargazers_count"]
            self.owners.add(r["owner"]["login"])
        for b in branches:
            self.branches[(b["repo_name"], b["name"])] = b["commit"]["sha"]
        for it in issues:
            self.issues[it["id"]] = (it["state"], it["comments"])
            self.users.add(it["user"]["login"])
            if it["assignee"] is not None:
                self.users.add(it["assignee"]["login"])


def _iso(seconds: np.ndarray) -> list[str]:
    return [
        str(s) + "Z" for s in np.datetime_as_string(seconds.astype("datetime64[s]"))
    ]


class GithubGenerator:
    """Yields raw batches; batch n depends only on (seed, shape, n)."""

    def __init__(self, seed: int, shape: GithubShape = GithubShape()):
        self.shape = shape
        self.rng = np.random.default_rng([seed, 1])
        self.seen: list[int] = []
        self.next_id = 1000
        self.n = 0
        # one histogram for every batch; only its order over repos varies
        self.n_branches = fanout(shape.branches_mean, 1, shape.per_repo_cap, shape.repos)
        self.n_issues = fanout(shape.issues_mean, 0, shape.per_repo_cap, shape.repos)

    def _owner(self, ids: np.ndarray) -> list[str]:
        return [f"org-{i % self.shape.owners}" for i in ids.tolist()]

    def next_batch(self) -> GithubBatch:
        s, rng = self.shape, self.rng
        n_upd = min(int(s.repos * s.update_share), len(self.seen))
        upd = (
            rng.choice(np.array(self.seen), size=n_upd, replace=False)
            if n_upd
            else np.empty(0, dtype=np.int64)
        )
        fresh = np.arange(self.next_id, self.next_id + s.repos - n_upd)
        self.next_id += len(fresh)
        ids = np.concatenate([upd, fresh]).astype(np.int64)
        rng.shuffle(ids)
        nr = len(ids)
        stars = rng.integers(0, 50_000, nr)
        created = rng.integers(1_400_000_000, 1_600_000_000, nr)
        updated = created + rng.integers(0, 100_000_000, nr)
        lang = rng.integers(0, len(LANGS), nr)
        vis = rng.integers(0, 3, nr)
        flags = rng.random((nr, 4)) < 0.1
        owners = self._owner(ids)
        n_br = rng.permutation(self.n_branches)
        n_is = rng.permutation(self.n_issues)
        c_iso, u_iso = _iso(created), _iso(updated)
        repos = []
        for i, rid in enumerate(ids.tolist()):
            repos.append(
                {
                    "id": rid,
                    "name": f"repo-{rid}",
                    "full_name": f"{owners[i]}/repo-{rid}",
                    "description": f"batch {self.n} repo {rid}",
                    "topics": ["spark", f"t{rid % 7}"] if rid % 3 else [],
                    "language": LANGS[lang[i]],
                    "owner": {"id": rid % s.owners + 1, "login": owners[i]},
                    "visibility": str(VISIBILITY[vis[i]]),
                    "private": bool(flags[i, 0]),
                    "disabled": bool(flags[i, 1]),
                    "fork": bool(flags[i, 2]),
                    "archived": bool(flags[i, 3]),
                    "default_branch": "b0",
                    "stargazers_count": int(stars[i]),
                    "watchers_count": int(stars[i]),
                    "forks_count": int(stars[i] // 10),
                    "forks": int(stars[i] // 10),
                    "open_issues_count": int(n_is[i]),
                    "created_at": c_iso[i],
                    "updated_at": u_iso[i],
                    "pushed_at": u_iso[i],
                }
            )
        # null owner login: dropped by clean_repos (ids never reused)
        for j in range(s.dirty):
            bad = dict(repos[j], id=-(self.n * 100 + j + 1), name=f"nokey-{self.n}-{j}")
            bad["owner"] = {"id": 1, "login": None}
            repos.append(bad)

        b_repo = np.repeat(ids, n_br)
        b_num = np.arange(len(b_repo)) - np.repeat(np.cumsum(n_br) - n_br, n_br)
        nb = len(b_repo)
        shas = rng.integers(0, 2**63, nb, dtype=np.int64)
        prot = rng.random(nb) < 0.2
        branches = []
        for i in range(nb):
            name = f"repo-{int(b_repo[i])}"
            branches.append(
                {
                    "name": f"b{b_num[i]}",
                    "protected": bool(prot[i]),
                    "repo_name": name,
                    "commit": {"sha": f"{shas[i]:016x}", "url": f"u/{name}"},
                }
            )
        for j in range(s.dirty):
            branches.append(dict(branches[j], name=None))  # null key
            branches.append(dict(branches[j], repo_name=f"ghost-{self.n}-{j}"))

        i_repo = np.repeat(ids, n_is)
        i_num = np.arange(len(i_repo)) - np.repeat(np.cumsum(n_is) - n_is, n_is) + 1
        ni = len(i_repo)
        authors = rng.integers(0, s.users, ni)
        assignees = rng.integers(0, s.users, ni)
        has_assignee = rng.random(ni) < s.assignee_share
        state = rng.integers(0, 2, ni)
        comments = rng.integers(0, 200, ni)
        i_created = _iso(rng.integers(1_500_000_000, 1_700_000_000, ni))
        issues = []
        for i in range(ni):
            rid, num = int(i_repo[i]), int(i_num[i])
            a = int(authors[i])
            issues.append(
                {
                    "id": rid * 1000 + num,
                    "repo_name": f"repo-{rid}",
                    "number": num,
                    "user": {"id": a + 1, "login": f"user-{a}"},
                    "title": f"issue {num}, \"quoted\"\nline",
                    "state": str(STATES[state[i]]),
                    "locked": False,
                    "comments": int(comments[i]),
                    "pull_request": None,
                    "created_at": i_created[i],
                    "updated_at": i_created[i],
                    "closed_at": None,
                    "labels": [{"name": "bug"}] if a % 4 == 0 else [],
                    "assignee": (
                        {"id": int(assignees[i]) + 1, "login": f"user-{assignees[i]}"}
                        if has_assignee[i]
                        else None
                    ),
                }
            )
        for j in range(s.dirty):
            issues.append(dict(issues[j], id=-(self.n * 100 + j + 1), user={"id": 1, "login": None}))
            issues.append(
                dict(issues[j], id=-(self.n * 100 + 50 + j), repo_name=f"ghost-{self.n}-{j}")
            )

        self.seen.extend(fresh.tolist())
        self.n += 1
        users = set(authors.tolist()) | set(assignees[has_assignee].tolist())
        return GithubBatch(
            repos=json.dumps(repos).encode(),
            branches=json.dumps(branches).encode(),
            issues=json.dumps(issues).encode(),
            records=len(repos) + len(branches) + len(issues),
            clean=(repos[:nr], branches[:nb], issues[:ni]),
            clean_rows=nr + len(set(owners)) + nb + ni + len(users),
        )


# ---------------------------------------------------------------------------
# Zipf-vocabulary document shards and their query set
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DocShape:
    """One shard's documents and the serving query set. METRICS.md names
    the source of every figure."""

    docs_per_shard: int = 15000
    min_len: int = 10  # tokens per document, uniform: the registry's
    max_len: int = 100  # documents test table spans 10-100
    zipf_s: float = 1.0  # Zipf's law: collection frequency ~ 1/rank
    queries: int = 16  # unverified
    terms_per_query: int = 2  # web queries average 2.35 terms
    stop_ranks: int = 250  # query terms skip the most frequent ranks
    mix_docs: int = 2000  # documents the registry query pass reads

    @property
    def vocab_size(self) -> int:
        """Heaps' law V = k * T^b with k = 44, b = 0.49 (fitted on
        Reuters-RCV1), T = the expected tokens in one shard."""
        tokens = self.docs_per_shard * (self.min_len + self.max_len) / 2
        return int(44 * tokens**0.49)


def _letters(idx: np.ndarray, width: int) -> np.ndarray:
    """Fixed-width base-26 letter codes, one row of bytes per index."""
    out = np.empty((len(idx), width), dtype=np.uint8)
    v = idx.copy()
    for k in range(width - 1, -1, -1):
        out[:, k] = 97 + v % 26
        v //= 26
    return out


def make_vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase words: a random 1-5 letter prefix and a
    unique fixed-width letter code, so equal words need equal indices."""
    width = 3
    while 26**width < n:
        width += 1
    plen = rng.integers(1, 6, n)
    pref = rng.integers(97, 123, (n, 5), dtype=np.uint8)
    code = _letters(np.arange(n), width)
    return np.array(
        [
            (pref[i, : plen[i]].tobytes() + code[i].tobytes()).decode()
            for i in range(n)
        ],
        dtype=object,
    )


class DocGenerator:
    """Document shards with Zipf-distributed terms; shard n depends only
    on (seed, shape, n). ``queries`` is fixed per seed."""

    def __init__(self, seed: int, shape: DocShape = DocShape()):
        self.shape = shape
        self.rng = np.random.default_rng([seed, 2])
        v = shape.vocab_size
        words = make_vocab(self.rng, v)
        self.rng.shuffle(words)  # rank -> word
        self.words = words
        p = 1.0 / np.arange(1, v + 1) ** shape.zipf_s
        self.p = p / p.sum()
        self.next_doc = 0
        # query terms follow the corpus, stop-word ranks left out
        q = self.p[shape.stop_ranks :] / self.p[shape.stop_ranks :].sum()
        q_terms = shape.stop_ranks + self.rng.choice(
            v - shape.stop_ranks, size=(shape.queries, shape.terms_per_query), p=q
        )
        self.queries = [
            (qid, " ".join(words[q_terms[qid]].tolist()))
            for qid in range(shape.queries)
        ]

    def next_shard(self) -> tuple[np.ndarray, list[str]]:
        s, rng = self.shape, self.rng
        lens = rng.integers(s.min_len, s.max_len + 1, s.docs_per_shard)
        toks = self.words[rng.choice(len(self.words), size=int(lens.sum()), p=self.p)]
        ends = np.cumsum(lens)
        texts = [" ".join(toks[e - n : e].tolist()) for n, e in zip(lens, ends)]
        ids = np.arange(self.next_doc, self.next_doc + s.docs_per_shard, dtype=np.int64)
        self.next_doc += s.docs_per_shard
        return ids, texts
