"""Expected answers and correctness checks, computed in plain Python
from the generated inputs — independently of the engine.

A quad is the tuple ``(graph, subj, pred, obj, obj_kind, obj_dt,
obj_lang)``, the shape ``tests/oracle_rdf.parse_corpus_rows`` returns.
Every check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

from collections import defaultdict

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
VOCAB = "http://example.org/vocab/"
# Updates write only here; no read template matches it.
RESERVED = "urn:kgbench:"


# ---------------------------------------------------------------------------
# linking: union-find to the component minimum, sameAs kept verbatim
# ---------------------------------------------------------------------------
def component_min(edges) -> dict[str, str]:
    """Undirected edges → member → smallest member of its component,
    for every member that is not itself the minimum."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent) if find(x) != x}


def link_quads(quads) -> set:
    """Apply entity linking as ``link.rewrite`` documents it: subjects
    and IRI objects map to their component minimum; ``owl:sameAs``
    statements stay as asserted."""
    rep = component_min(
        (q[1], q[3]) for q in quads if q[2] == OWL_SAMEAS and q[4] == "iri"
    )
    out = set()
    for g, s, p, o, kind, dt, lang in quads:
        if p != OWL_SAMEAS:
            s = rep.get(s, s)
            if kind == "iri":
                o = rep.get(o, o)
        out.add((g, s, p, o, kind, dt, lang))
    return out


# ---------------------------------------------------------------------------
# read templates of the sparql_rw workload
# ---------------------------------------------------------------------------
def _term(kind: str, value: str) -> str:
    return f"<{value}>" if kind == "iri" else value


def read_templates(quads, rng, n: int) -> list[dict]:
    """A seeded sequence of ``n`` reads over the store ``quads``. Each
    read holds its SPARQL text, how its answer is fetched (``collect``,
    ``json`` or ``nt`` through results.write_results), and the answer
    expected from ``quads``."""
    by_s = defaultdict(list)
    for q in quads:
        by_s[q[1]].append(q)
    subjects = sorted(s for s in by_s if s.startswith("http://example.org/"))
    preds = [f"{VOCAB}p{i}" for i in range(20)]
    same_as = sorted({(q[1], q[3]) for q in quads if q[2] == OWL_SAMEAS and q[4] == "iri"})
    starts = sorted({u for u, _ in same_as})
    succ = defaultdict(set)
    for u, v in same_as:
        succ[u].add(v)

    def pv(pred):
        return [q for q in quads if q[2] == pred]

    kinds = ["lookup", "join", "filter", "group", "optional", "path", "ask", "construct"]
    out = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "lookup":
            s = rng.choice(subjects)
            text = f"SELECT DISTINCT ?p ?o WHERE {{ <{s}> ?p ?o }}"
            exp = {(q[2], q[3]) for q in by_s[s]}
            out.append({"kind": kind, "text": text, "fetch": "json", "expect": exp})
        elif kind == "join":
            pa, pb = rng.sample(preds, 2)
            text = (f"SELECT DISTINCT ?s ?t WHERE {{ ?s <{pa}> ?o . ?t <{pb}> ?o "
                    f"FILTER(isIRI(?o)) }}")
            objs_b = defaultdict(set)
            for q in pv(pb):
                if q[4] == "iri":
                    objs_b[q[3]].add(q[1])
            exp = {(q[1], t) for q in pv(pa) if q[4] == "iri" for t in objs_b.get(q[3], ())}
            out.append({"kind": kind, "text": text, "fetch": "collect", "expect": exp})
        elif kind == "filter":
            p = rng.choice(preds)
            k = rng.randrange(10000)
            text = (f"SELECT DISTINCT ?s ?o WHERE {{ ?s <{p}> ?o "
                    f"FILTER(datatype(?o) = <{XSD_INTEGER}> && ?o > {k}) }}")
            exp = {(q[1], q[3]) for q in pv(p)
                   if q[4] == "literal" and q[5] == XSD_INTEGER and int(q[3]) > k}
            out.append({"kind": kind, "text": text, "fetch": "collect", "expect": exp})
        elif kind == "group":
            k = rng.randrange(1, 20)
            text = (f"SELECT ?t (COUNT(DISTINCT ?s) AS ?n) WHERE {{ ?s <{RDF_TYPE}> ?t }} "
                    f"GROUP BY ?t HAVING (COUNT(DISTINCT ?s) > {k})")
            members = defaultdict(set)
            for q in pv(RDF_TYPE):
                members[q[3]].add(q[1])
            exp = {(t, str(len(m))) for t, m in members.items() if len(m) > k}
            out.append({"kind": kind, "text": text, "fetch": "collect", "expect": exp})
        elif kind == "optional":
            pa, pb = rng.sample(preds, 2)
            text = (f"SELECT DISTINCT ?s ?o ?o2 WHERE {{ ?s <{pa}> ?o "
                    f"OPTIONAL {{ ?s <{pb}> ?o2 }} }}")
            b_of = defaultdict(set)
            for q in pv(pb):
                b_of[q[1]].add(q[3])
            exp = set()
            for q in pv(pa):
                for o2 in b_of.get(q[1]) or [None]:
                    exp.add((q[1], q[3], o2))
            out.append({"kind": kind, "text": text, "fetch": "collect", "expect": exp})
        elif kind == "path":
            x = rng.choice(starts)
            text = f"SELECT DISTINCT ?y WHERE {{ <{x}> <{OWL_SAMEAS}>+ ?y }}"
            seen, frontier = set(), [x]
            while frontier:
                nxt = [v for u in frontier for v in succ.get(u, ()) if v not in seen]
                seen.update(nxt)
                frontier = nxt
            out.append({"kind": kind, "text": text, "fetch": "collect",
                        "expect": {(y,) for y in seen}})
        elif kind == "ask":
            s, p = rng.choice(subjects), rng.choice(preds)
            text = f"ASK {{ <{s}> <{p}> ?o }}"
            exp = any(q[2] == p for q in by_s[s])
            out.append({"kind": kind, "text": text, "fetch": "ask", "expect": exp})
        else:
            p = rng.choice(preds)
            text = f"CONSTRUCT {{ ?s <{RESERVED}copy> ?o }} WHERE {{ ?s <{p}> ?o }}"
            exp = {(q[1], f"{RESERVED}copy", q[3], q[4], q[5], q[6]) for q in pv(p)}
            out.append({"kind": kind, "text": text, "fetch": "nt", "expect": exp})
    return out


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------
def check_answer(read: dict, got) -> list[str]:
    if got == read["expect"]:
        return []
    if isinstance(got, set):
        missing = len(read["expect"] - got)
        extra = len(got - read["expect"])
        return [f"{read['kind']}: {missing} expected rows missing, {extra} unexpected "
                f"rows ({read['text'][:80]})"]
    return [f"{read['kind']}: got {got!r}, expected {read['expect']!r}"]


def check_quads(got: set, expected: set, what: str) -> list[str]:
    if got == expected:
        return []
    return [f"{what}: {len(expected - got)} expected quads missing, "
            f"{len(got - expected)} unexpected quads"]


def check_bulk(committed: int, lineage_total: int, files: int, per_file: int) -> list[str]:
    out = []
    if committed != files * per_file:
        out.append(f"bulk: committed {committed} != {files} files x {per_file} statements")
    if lineage_total != committed:
        out.append(f"bulk: lineage n_triples total {lineage_total} != committed {committed}")
    return out


def check_equal(values: list, what: str) -> list[str]:
    if len(set(values)) <= 1:
        return []
    return [f"{what} differ across loads: {values}"]


def parse_nt_terms(lines) -> set:
    """Result N-Triples lines → statement tuples, by the independent
    oracle parser of the test suite."""
    from tests.oracle_rdf import parse_corpus_rows

    content = "\n".join(lines) + "\n"
    quads = parse_corpus_rows([("r", "out.nt", "c", "N-Triples", content)], canonicalize=False)
    return {q[1:] for q in quads}
