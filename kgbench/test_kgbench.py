"""Tests of the benchmark itself: every correctness check fails on a
corrupted store or answer, and the statistics and span math hold.

    python3 -m pytest kgbench/test_kgbench.py -q
"""

from __future__ import annotations

import os
import random
import sys

import pytest
from pyspark.status import SparkJobInfo, SparkStageInfo

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import expected as ex  # noqa: E402
from measure import Span, Tracer, covered, self_seconds, tail  # noqa: E402

XSD = "http://www.w3.org/2001/XMLSchema#"
S = "http://example.org/org0/repo0/e"
P = ex.VOCAB + "p"


def quad(s, p, o, kind="iri", dt=None, lang=None, g="urn:repo:r"):
    return (g, s, p, o, kind, dt, lang)


# ---------------------------------------------------------------------------
# statistics and spans
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("n, pct", [(20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
                                    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    vals = list(range(n, 0, -1))
    t = tail(vals)
    assert t["percentile"] == pct and t["qualified"] and t["samples"] == n
    assert sum(v > t["value"] for v in vals) >= 10


def test_tail_falls_back_to_median_below_twenty_samples():
    t = tail([5.0, 1.0, 3.0])
    assert t == {"value": 3.0, "percentile": 50.0, "samples": 3, "qualified": False}
    with pytest.raises(ValueError):
        tail([])


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8), (9, 20)], 0, 10) == pytest.approx(6.0)
    assert covered([], 0, 10) == 0.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "build", 0, None, 0.0, 10.0),
        Span(1, "parse", 0, 0, 1.0, 4.0),
        Span(2, "canon", 0, 0, 3.0, 6.0),   # overlaps parse: union counts once
        Span(3, "inner", 0, 2, 4.0, 5.0),   # grandchild of build
    ]
    got = self_seconds(spans)
    assert got[0] == pytest.approx(5.0)
    assert got[1] == pytest.approx(3.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(1.0)


def test_tracer_nests_spans():
    tr = Tracer()
    with tr.span("read", 7):
        with tr.span("sparql.compile", 7) as s:
            s.counters["rows"] = 3
    read, compile_ = tr.spans
    assert compile_.parent == read.span_id and read.parent is None
    assert compile_.op_id == 7 and compile_.counters == {"rows": 3}
    assert read.start <= compile_.start <= compile_.end <= read.end


class FakeSpark:
    """SparkContext and status tracker stand-in. A job submitted under
    the current job group lists stage ids; ``stages`` maps a stage id to
    (completed, failed) tasks of the run that computed it."""

    def __init__(self, stages):
        self.stages, self.group, self.jobs = stages, None, []

    def setJobGroup(self, group, _desc):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def submit(self, *stage_ids):
        self.jobs.append((self.group, stage_ids))

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return [j for j, (g, _) in enumerate(self.jobs) if g == group]

    def getJobInfo(self, jid):
        return SparkJobInfo(jid, list(self.jobs[jid][1]), "SUCCEEDED")

    def getStageInfo(self, sid):
        done, failed = self.stages[sid]
        return SparkStageInfo(sid, 0, f"stage{sid}", 100, 0, done, failed)


def test_tracer_counts_only_tasks_that_ran_once_each():
    # stage 2 is listed by the second job but skipped (0 completed of 100
    # tasks); stage 1 ran in the first span and is listed again, reused,
    # by the second; stage 3 ran with one failed attempt
    sc = FakeSpark({0: (4, 0), 1: (8, 0), 2: (0, 0), 3: (5, 1)})
    tr = Tracer(sc)
    with tr.span("build", 0):
        sc.submit(0)
        with tr.span("parse", 0):
            sc.submit(0, 1)
        with tr.span("canon", 0):
            sc.submit(1, 2, 3)
    build, parse, canon = tr.spans
    assert (build.jobs, build.tasks) == (1, 4)
    assert (parse.jobs, parse.tasks) == (1, 8)
    assert (canon.jobs, canon.tasks, canon.failed_tasks) == (1, 6, 1)
    assert sc.group is None


# ---------------------------------------------------------------------------
# the independent linking reference
# ---------------------------------------------------------------------------
def test_link_quads_maps_to_component_min_and_keeps_sameas():
    quads = {
        quad(S + "3", ex.OWL_SAMEAS, S + "2"),
        quad(S + "2", ex.OWL_SAMEAS, S + "1"),
        quad(S + "3", P, S + "2"),
        quad(S + "3", P, S + "2", kind="literal", dt=XSD + "string"),
    }
    got = ex.link_quads(quads)
    assert quad(S + "3", ex.OWL_SAMEAS, S + "2") in got
    assert quad(S + "2", ex.OWL_SAMEAS, S + "1") in got
    assert quad(S + "1", P, S + "1") in got
    assert quad(S + "1", P, S + "2", kind="literal", dt=XSD + "string") in got
    assert len(got) == 4


# ---------------------------------------------------------------------------
# every check fails on corrupted input
# ---------------------------------------------------------------------------
def test_check_quads_fails_on_missing_or_extra_quad():
    good = {quad(S + "1", P, S + "2"), quad(S + "2", P, "x", "literal", XSD + "string")}
    assert ex.check_quads(set(good), good, "store") == []
    assert ex.check_quads(good - {quad(S + "1", P, S + "2")}, good, "store")
    assert ex.check_quads(good | {quad(S + "9", P, S + "2")}, good, "store")


def test_check_bulk_fails_on_wrong_count_or_lineage():
    assert ex.check_bulk(100, 100, 10, 10) == []
    assert ex.check_bulk(99, 99, 10, 10)
    assert ex.check_bulk(100, 101, 10, 10)


def test_check_equal_fails_on_differing_checksums():
    assert ex.check_equal(["ab:3", "ab:3"], "checksums") == []
    assert ex.check_equal(["ab:3", "ac:3"], "checksums")


def _store():
    rng = random.Random(3)
    quads = set()
    for i in range(40):
        s = S + str(i)
        quads.add(quad(s, ex.RDF_TYPE, f"http://example.org/vocab/T{i % 3}"))
        for _ in range(3):
            p = f"{ex.VOCAB}p{rng.randrange(20)}"
            if rng.random() < 0.5:
                quads.add(quad(s, p, f"http://example.org/obj/{rng.randrange(8)}"))
            else:
                quads.add(quad(s, p, str(rng.randrange(10000)), "literal", ex.XSD_INTEGER))
        if i % 4 == 1:
            quads.add(quad(s, ex.OWL_SAMEAS, S + str(i - 1)))
    return quads


def test_every_read_check_fails_on_a_corrupted_answer():
    reads = ex.read_templates(_store(), random.Random(5), 16)
    assert {r["kind"] for r in reads} == {
        "lookup", "join", "filter", "group", "optional", "path", "ask", "construct"}
    for r in reads:
        want = r["expect"]
        assert ex.check_answer(r, want) == []
        if isinstance(want, bool):
            bad = not want
        elif want:
            bad = set(list(want)[1:])
        else:
            bad = {("urn:kgbench:bogus",)}
        assert ex.check_answer(r, bad), r["kind"]


def test_path_answer_is_the_directed_closure():
    chain = {quad(S + "a", ex.OWL_SAMEAS, S + "b"), quad(S + "b", ex.OWL_SAMEAS, S + "c"),
             quad(S + "d", ex.OWL_SAMEAS, S + "a")}
    quads = chain | {q for q in _store() if q[2] != ex.OWL_SAMEAS}
    closure = {"a": "bc", "b": "c", "d": "abc"}
    for seed in range(6):
        path = next(r for r in ex.read_templates(quads, random.Random(seed), 8)
                    if r["kind"] == "path")
        start = path["text"].split("<")[1].split(">")[0]
        assert path["expect"] == {(S + c,) for c in closure[start[len(S):]]}


def test_nt_result_parse_round_trips():
    lines = [f'<{S}1> <urn:kgbench:copy> "7"^^<{ex.XSD_INTEGER}> .',
             f"<{S}1> <urn:kgbench:copy> <http://example.org/obj/3> ."]
    assert ex.parse_nt_terms(lines) == {
        (S + "1", "urn:kgbench:copy", "7", "literal", ex.XSD_INTEGER, None),
        (S + "1", "urn:kgbench:copy", "http://example.org/obj/3", "iri", None, None),
    }


# ---------------------------------------------------------------------------
# the store checks against a real engine store
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from tripleforge.session import get_spark

    s = get_spark(app_name="kgbench-tests", master="local[2]",
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_store_checks_pass_then_fail_on_corruption(spark, tmp_path):
    import workloads as wl
    from tripleforge import sparql, sparql_update
    from tripleforge.catalog.parquet_snapshot import ParquetSnapshotCatalog
    from tripleforge.lineage import dataset_checksum
    from tripleforge.pipeline import BuildConfig, build

    rows = wl.mixed_rows(4, dict(n_repos=3, files_per_repo=3, stmts_per_file=15, skew=2))
    corpus = wl.stage(spark, rows, str(tmp_path / "corpus"))
    cat = ParquetSnapshotCatalog(spark, str(tmp_path / "store"))
    build(spark, corpus, cat, BuildConfig(link_entities=True, resume=False))
    expect = wl.oracle_quads(rows)
    assert ex.check_quads(wl.store_quads(cat), expect, "store") == []
    before = dataset_checksum(cat.read_statements())

    # a read answer taken from the real store passes its check
    read = next(r for r in ex.read_templates(expect, random.Random(1), 8)
                if r["kind"] == "lookup")
    subj = read["text"].split("<")[1].split(">")[0]

    def answer():
        df = sparql.query(cat.read_statements(), read["text"], n_buckets=cat.n_buckets)
        return {tuple(r) for r in df.collect()}

    assert ex.check_answer(read, answer()) == []

    # corrupt the store: remove one statement of the looked-up subject
    g, s, p, o, kind, dt, lang = next(
        q for q in sorted(expect, key=str) if q[1] == subj
        and sum(x[1:4] == q[1:4] for x in expect) == 1)
    if kind == "iri":
        term = f"<{o}>"
    else:
        term = '"' + o.replace("\\", "\\\\").replace('"', '\\"') + '"'
        term += f"@{lang}" if lang else f"^^<{dt}>"
    sparql_update.execute_update(
        spark, cat, f"DELETE DATA {{ GRAPH <{g}> {{ <{s}> <{p}> {term} }} }}")
    assert ex.check_quads(wl.store_quads(cat), expect, "store")
    assert ex.check_equal([before, dataset_checksum(cat.read_statements())], "checksums")
    assert ex.check_answer(read, answer())
