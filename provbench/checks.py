"""Expected answers, computed from the pure-Python oracle triple set.

The oracle (`git_prov_spark.oracle`) re-implements the reference translation
loop independently of the Spark pipeline, so every build is checked for exact
parity and every read answer against what the oracle graph says it must be.
Answers are compared as bags of bindings: {variable: value} rows, unbound
variables left out, values as the text `results.results_text` prints.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

from git_prov_spark.fixtures import commit_sha
from git_prov_spark.iri import py_agent_curie, py_commit_curie
from git_prov_spark.oracle import oracle_triples

Row = tuple[tuple[str, str], ...]


def row(**bindings) -> Row:
    return tuple(sorted((k, str(v)) for k, v in bindings.items() if v is not None))


def parse_results_json(text: str) -> Counter:
    """Bag of rows of a W3C SPARQL-results JSON document."""
    doc = json.loads(text)
    return Counter(
        tuple(sorted((k, v["value"]) for k, v in b.items()))
        for b in doc["results"]["bindings"]
    )


class Graph:
    """One repo's oracle triples, indexed by predicate."""

    def __init__(self, triples: set):
        self.triples = triples
        self.by_pred: dict[str, list[tuple[str, str]]] = defaultdict(list)
        for _, s, p, o, _ in triples:
            self.by_pred[p].append((s, o))

    def objs(self, pred: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = defaultdict(list)
        for s, o in self.by_pred[pred]:
            out[s].append(o)
        return out

    def subjs(self, pred: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = defaultdict(list)
        for s, o in self.by_pred[pred]:
            out[o].append(s)
        return out


def oracle_graphs(files, commits, contributors) -> dict[str, Graph]:
    triples = oracle_triples(files, commits, contributors)
    per_repo: dict[str, set] = defaultdict(set)
    for t in triples:
        per_repo[t[0]].add(t)
    return {repo: Graph(ts) for repo, ts in per_repo.items()}


# --------------------------------------------------------------------------
# Query texts and their expected answers
# --------------------------------------------------------------------------

def sparql_text(template: str, repo: str | None, arg: str) -> str:
    if template == "bgp_author_files":
        return ("SELECT ?e ?path WHERE { ?c prov:wasAssociatedWith "
                f"{py_agent_curie(arg)} . ?e prov:wasGeneratedBy ?c . "
                "?e rdfs:label ?path }")
    if template in ("agg_per_agent", "cross_graph"):
        return ("SELECT ?a (COUNT(?c) AS ?n) WHERE "
                "{ ?c prov:wasAssociatedWith ?a } GROUP BY ?a")
    if template == "optional_filter":
        return ("SELECT ?e ?d WHERE { ?e prov:specializationOf ?b . "
                f'?b rdfs:label ?l . FILTER(STRSTARTS(?l, "src/{arg}")) '
                "OPTIONAL { ?e prov:wasDerivedFrom ?d } }")
    if template == "path_ancestors":
        c = py_commit_curie(commit_sha(repo, int(arg)))
        return f"SELECT ?b WHERE {{ {c} prov:wasInformedBy+ ?b }}"
    if template == "new_activity":
        return f"SELECT ?p ?o WHERE {{ {py_commit_curie(commit_sha(repo, int(arg)))} ?p ?o }}"
    if template == "new_versions":
        c = py_commit_curie(commit_sha(repo, int(arg)))
        return f"SELECT ?e ?path WHERE {{ ?e prov:wasGeneratedBy {c} . ?e rdfs:label ?path }}"
    raise ValueError(template)


def _per_agent(pairs: set[tuple[str, str]]) -> Counter:
    n = Counter(a for _, a in pairs)
    return Counter(row(a=a, n=k) for a, k in n.items())


def expected(template: str, repo: str | None, arg: str,
             graphs: dict[str, Graph]) -> Counter:
    if template == "cross_graph":  # merged graph: per-pattern set semantics
        pairs = {(c, a) for g in graphs.values()
                 for c, a in g.by_pred["prov:wasAssociatedWith"]}
        return _per_agent(pairs)
    g = graphs[repo]
    gen_by = g.subjs("prov:wasGeneratedBy")      # commit -> versions
    labels = g.objs("rdfs:label")
    assoc = g.by_pred["prov:wasAssociatedWith"]  # (commit, agent)
    out: Counter = Counter()
    if template in ("bgp_author_files", "files_by_author"):
        agent = py_agent_curie(arg)
        for c, a in assoc:
            if a != agent:
                continue
            for e in gen_by[c]:
                for path in labels[e]:
                    if template == "files_by_author":
                        out[row(commit=c, entity=e, path=path)] += 1
                    else:
                        out[row(e=e, path=path)] += 1
    elif template == "agg_per_agent":
        out = _per_agent(set(assoc))
    elif template == "optional_filter":
        derived = g.objs("prov:wasDerivedFrom")
        for e, b in g.by_pred["prov:specializationOf"]:
            for label in labels[b]:
                if label.startswith(f"src/{arg}"):
                    for d in derived.get(e) or [None]:
                        out[row(e=e, d=d)] += 1
    elif template == "path_ancestors":
        parents = g.objs("prov:wasInformedBy")
        seen: set[str] = set()
        stack = [py_commit_curie(commit_sha(repo, int(arg)))]
        while stack:
            for p in parents[stack.pop()]:
                if p not in seen:
                    seen.add(p)
                    stack.append(p)
        out = Counter(row(b=b) for b in seen)
    elif template == "version_chain":
        spec_of = g.subjs("prov:specializationOf")
        gen = g.objs("prov:wasGeneratedBy")
        for base, label in g.by_pred["rdfs:label"]:
            if label != arg:
                continue
            for v in spec_of[base]:
                for c in gen[v]:
                    out[row(base=base, version=v, commit=c)] += 1
    elif template == "blame":
        agent_of = g.objs("prov:wasAssociatedWith")
        for v, c in g.by_pred["prov:wasGeneratedBy"]:
            for a in agent_of[c]:
                out[row(version=v, commit=c, agent=a)] += 1
    elif template == "new_activity":
        c = py_commit_curie(commit_sha(repo, int(arg)))
        out = Counter(row(p=p, o=o) for _, s, p, o, _ in g.triples if s == c)
    elif template == "new_versions":
        c = py_commit_curie(commit_sha(repo, int(arg)))
        for e in gen_by[c]:
            for path in labels[e]:
                out[row(e=e, path=path)] += 1
    else:
        raise ValueError(template)
    return out
