"""Seeded benchmark inputs: repo layout, growing histories and request mixes.

Everything here is a pure function of the workload seed. The seed salts the
repo names, so every commit sha, entity IRI and bucket placement changes with
it (names are placed by the store's own bucket function), while the shape
(repo count, history length, file count, rows per bucket) stays the same:
two seeds give different inputs of the same size.

History rows come from the closed-form rules in `git_prov_spark.fixtures`.
`bulk_born` there depends on the history length, so growing a repo's history
keeps the birth schedule of its ORIGINAL length (`base_commits`): commit
`n_commits + k` then extends the history exactly, and every earlier snapshot
row is unchanged.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd

from git_prov_spark.fixtures import (
    RepoSpec,
    bulk_content,
    bulk_path,
    bulk_present,
    bulk_version,
    commit_sha,
    gen_commits,
    gen_contributors,
    lang_of,
    scenario_rows_for,
)

FILE_COLS = ["repo", "path", "commit", "lang", "content"]

# --------------------------------------------------------------------------
# Layout
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Sizes:
    n_repos: int = 8       # repo 0 is hot: as many bulk files as all others
    n_commits: int = 20    # base history length per repo
    n_files: int = 10      # bulk files per non-hot repo
    n_buckets: int = 2     # store repo buckets (the overwrite unit)


#: names -> {name: repo bucket}; the run scores names with Spark's
#: `git_prov_spark.store.repo_bucket`, so placement is the store's own
BucketOf = Callable[[list[str], int], dict[str, int]]

CANDIDATES = 64  # salted names tried per repo: P(no fit) = (1 - 1/n_buckets)^64


@dataclass
class Layout:
    """Seeded repo names with a fixed bucket shape: repo i lands in bucket
    i mod n_buckets for every seed, so rows per bucket never vary."""

    seed: int
    sizes: Sizes
    specs: list[RepoSpec] = field(default_factory=list)
    base_commits: dict[str, int] = field(default_factory=dict)
    buckets: dict[str, int] = field(default_factory=dict)

    @property
    def hot(self) -> str:
        return self.specs[0].repo

    @property
    def repos(self) -> list[str]:
        return [s.repo for s in self.specs]

    def spec(self, repo: str) -> RepoSpec:
        return next(s for s in self.specs if s.repo == repo)

    def bucket(self, repo: str) -> int:
        return self.buckets[repo]

    def bucket_repos(self, bucket: int) -> list[str]:
        return [r for r in self.repos if self.bucket(r) == bucket]


def _candidates(seed: int, i: int) -> list[str]:
    base = "hot" if i == 0 else f"repo{i}"
    return [f"org{i}-{hashlib.sha1(f'{seed}:{i}:{k}'.encode()).hexdigest()[:8]}/{base}"
            for k in range(CANDIDATES)]


def make_layout(seed: int, sizes: Sizes, bucket_of: BucketOf) -> Layout:
    """Repo i is named by the first of its seeded candidates that lands in
    bucket i mod n_buckets; all candidates are scored in one call."""
    cands = [_candidates(seed, i) for i in range(sizes.n_repos)]
    placed = bucket_of([n for c in cands for n in c], sizes.n_buckets)
    names = []
    for i, c in enumerate(cands):
        fits = [n for n in c if placed[n] == i % sizes.n_buckets]
        if not fits:
            raise RuntimeError(f"no salted name for repo {i} lands in its bucket")
        names.append(fits[0])
    specs = [RepoSpec(names[0], sizes.n_commits,
                      sizes.n_files * max(1, sizes.n_repos - 1))]
    specs += [RepoSpec(n, sizes.n_commits, sizes.n_files, scenarios=False)
              for n in names[1:]]
    return Layout(seed, sizes, specs, {s.repo: s.n_commits for s in specs},
                  {n: placed[n] for n in names})


# --------------------------------------------------------------------------
# Tables (pandas; the Spark-side generator is fixtures.spark_gen_files)
# --------------------------------------------------------------------------

def files_rows(spec: RepoSpec, base_commits: int) -> list[dict]:
    """Snapshot rows of one repo whose history has grown from `base_commits`
    to `spec.n_commits` commits (equal to fixtures.gen_files when unchanged)."""
    rows: list[dict] = []
    if spec.scenarios and spec.n_commits >= 10:
        rows.extend(scenario_rows_for(spec))
    for j in range(spec.n_files):
        path = bulk_path(j)
        for seq in range(spec.n_commits):
            if bulk_present(j, seq, base_commits):
                rows.append({
                    "repo": spec.repo, "path": path,
                    "commit": commit_sha(spec.repo, seq), "lang": lang_of(path),
                    "content": bulk_content(path, bulk_version(j, seq, base_commits)),
                })
    return rows


def repo_tables(layout: Layout, repos: list[str]):
    """(files, commits, contributors) pandas frames for `repos` at their
    current history length. Nullable object columns hold None, not NaN."""
    specs = [layout.spec(r) for r in repos]
    files = pd.DataFrame(
        [row for s in specs for row in files_rows(s, layout.base_commits[s.repo])],
        columns=FILE_COLS,
    )
    commits = pd.concat([gen_commits(s) for s in specs], ignore_index=True)
    contributors = pd.concat([gen_contributors(s) for s in specs], ignore_index=True)
    return (files, commits.where(pd.notnull(commits), None),
            contributors.where(pd.notnull(contributors), None))


def grow(layout: Layout, repo: str, k: int) -> None:
    """Append k commits to `repo`'s history."""
    s = layout.spec(repo)
    s.n_commits += k


# --------------------------------------------------------------------------
# Request mix
# --------------------------------------------------------------------------

#: read templates; every round of the mix issues each once
TEMPLATES = (
    "bgp_author_files",   # 3-pattern repo-scoped BGP, SPARQL text
    "agg_per_agent",      # GROUP BY / COUNT aggregate
    "optional_filter",    # OPTIONAL + FILTER(CONTAINS)
    "path_ancestors",     # property path prov:wasInformedBy+
    "cross_graph",        # repo=None aggregate over every named graph
    "files_by_author",    # queries.files_by_author
    "version_chain",      # queries.version_chain
    "blame",              # queries.blame
)

AGENTS = ("alice", "bob smith", "carol", "dan", "dave", "erin")


@dataclass(frozen=True)
class Request:
    template: str
    repo: str | None
    arg: str  # agent login, path label or commit seq (as text)


class RequestStream:
    """Seeded read requests in rounds. A round issues every template once,
    in a seeded order. The hot repo serves 3 of the round's 7 repo-scoped
    reads (about its Zipf s=1 share over 8 repos, 0.37) and seeded non-hot
    repos the rest, so every round, and every run, has the same mix."""

    HOT_PER_ROUND = 3

    def __init__(self, layout: Layout, seed: int):
        self.layout = layout
        self.rng = random.Random(f"requests:{seed}")

    def round(self) -> list[Request]:
        templates = list(TEMPLATES)
        self.rng.shuffle(templates)
        scoped = [t for t in templates if t != "cross_graph"]
        hot = set(self.rng.sample(scoped, self.HOT_PER_ROUND))
        return [self._request(t, t in hot) for t in templates]

    def _request(self, t: str, hot: bool) -> Request:
        if t == "cross_graph":
            return Request(t, None, "")
        repo = self.layout.hot if hot else self.rng.choice(self.layout.repos[1:])
        spec = self.layout.spec(repo)
        if t in ("bgp_author_files", "files_by_author"):
            arg = self.rng.choice(AGENTS)
        elif t == "version_chain":
            arg = bulk_path(self.rng.randrange(spec.n_files))
        elif t == "optional_filter":
            arg = f"pkg{self.rng.randrange(13)}/"
        elif t == "path_ancestors":
            arg = str(self.rng.randrange(spec.n_commits // 2, spec.n_commits))
        else:
            arg = ""
        return Request(t, repo, arg)


def ingest_plan(layout: Layout, seed: int):
    """Endless seeded sequence of ingest steps. Each step picks one bucket
    that does not hold the hot repo and grows a seeded subset of its repos by
    one commit; yields [(repo, k), ...]. The hot bucket is never touched:
    rebuilding it costs about half a full build, which build_history covers."""
    rng = random.Random(f"ingest:{seed}")
    hot_bucket = layout.bucket(layout.hot)
    buckets = sorted({layout.bucket(r) for r in layout.repos} - {hot_bucket})
    while True:
        repos = layout.bucket_repos(rng.choice(buckets))
        yield [(r, 1) for r in rng.sample(repos, rng.randint(1, len(repos)))]
