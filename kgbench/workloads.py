"""The two workloads. Each runs set-up (inputs, warm-up at full size),
a timed closed loop of one client, then correctness checks outside
the timed window, and returns a ``Run`` the entry point reports.

Untraced, the engine is driven only through ``pipeline.build``,
``ParquetSnapshotCatalog.read_statements``, ``sparql.query``,
``sparql_update.execute_update`` and ``results.write_results``. The
traced mode replays the same timed operations with a span around each
call into a layer; a span around a lazy DataFrame would time nothing,
so each load-layer span persists its output and counts it, and the
next layer reads that materialized output.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import expected as ex
from measure import Tracer, dir_stats, self_seconds

QUAD_COLS = ["graph", "subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang"]

# --- input sizes -------------------------------------------------------------
# mixed_load_linked: an N-Triples bulk share with a whale repo (about a
# quarter of the files) plus mixed-format files with duplicates, links
# and malformed files.
NT_FILES, NT_STMTS, NT_REPOS, NT_SKEW_PCT = 1000, 50, 20, 25
MIXED = dict(n_repos=12, files_per_repo=8, stmts_per_file=100, skew=4)
# sparql_rw: the store is built from the mixed shape alone, smaller.
STORE = dict(n_repos=8, files_per_repo=6, stmts_per_file=100, skew=3)
# Read-backs after each build. The first few after a build are often
# slower than the rest, so the median needs enough of them to land on
# the settled ones.
LOAD_READS = 12
# Statements per INSERT DATA / DELETE DATA: one, as from a caller that
# sends each change as its own request, the way the reference CLI runs
# one update per call. Real request sizes are not known; an assumption.
UPDATE_BATCH = 1
# Reads per write. No traffic log or paper gives this ratio for the
# reference's users; 4 is an assumption that lets every one of the 8
# read templates run once per write pair.
READS_PER_UPDATE = 4


@dataclass
class Op:
    kind: str          # "build", "read:<template>" or "update:<form>"
    seconds: float
    traced: bool = False
    ok: bool = True
    triples: int = 0   # statements the op wrote (added or removed)


@dataclass
class Run:
    setup_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    checks: int = 0
    failed_checks: int = 0
    failures: list[str] = field(default_factory=list)
    store_bytes_per_triple: float = 0.0
    layer: dict = field(default_factory=dict)

    def check(self, problems: list[str]) -> None:
        self.checks += 1
        self.failed_checks += bool(problems)
        self.failures += problems

    def op_failed(self, op: Op, why: str) -> None:
        op.ok = False
        self.failures.append(f"{op.kind}: {why}")


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------
def mixed_rows(seed: int, shape: dict) -> list[tuple]:
    """Mixed-format corpus rows. Turtle and TriG files are clean; the
    N-Quads, JSON-LD and TriX files carry malformed content. Their error
    semantics agree with the oracle parser (a bad N-Quads line drops
    that line, a bad JSON-LD or TriX document drops the file), while a
    Turtle document with one bad line fails as a whole in the engine
    but line by line in the oracle."""
    from tripleforge.datagen import CorpusSpec, generate_corpus

    clean = generate_corpus(CorpusSpec(
        seed=seed, dup_rate=0.1, link_rate=0.05, formats=("ttl", "trig"), **shape))
    faulty = generate_corpus(CorpusSpec(
        seed=seed + 1, dup_rate=0.1, link_rate=0.05, error_rate=0.1,
        formats=("nq", "jsonld", "trix"), **shape))
    return clean + [("e" + r[0],) + r[1:] for r in faulty]


def nt_corpus(spark, seed: int):
    """``datagen.spark_corpus`` files [off, off + NT_FILES) — the seed
    picks the window — under repos renamed ``nt/…`` so their graphs
    stay apart from the mixed share."""
    from pyspark.sql import functions as F

    from tripleforge.datagen import spark_corpus

    off = (seed % 50) * 40
    df = spark_corpus(spark, NT_FILES + off, NT_STMTS, n_repos=NT_REPOS,
                      skew_pct=NT_SKEW_PCT)
    fid = F.regexp_extract("path", r"f(\d+)\.nt$", 1).cast("long")
    return df.where(fid >= off).withColumn("repo", F.concat(F.lit("nt/"), "repo"))


def stage(spark, rows, path: str, extra=None):
    from tripleforge.schema import CORPUS

    df = spark.createDataFrame(rows, CORPUS)
    if extra is not None:
        df = df.unionByName(extra)
    df.write.parquet(path)
    return spark.read.parquet(path)


def store_quads(catalog, where=None) -> set:
    df = catalog.read_statements().select(*QUAD_COLS)
    if where is not None:
        df = df.where(where)
    pdf = df.toPandas()
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return set(map(tuple, pdf.itertuples(index=False, name=None)))


def oracle_quads(rows) -> set:
    from tests.oracle_rdf import parse_corpus_rows

    return ex.link_quads(parse_corpus_rows(rows))


# ---------------------------------------------------------------------------
# traced load: the steps of pipeline.build, one span each
# ---------------------------------------------------------------------------
def traced_build(spark, corpus, catalog, tr: Tracer, op_id: int) -> None:
    from pyspark.sql import functions as F

    from tripleforge import lineage, link, ops, pipeline
    from tripleforge.detect import FORMAT_NQ, FORMAT_NT, with_format
    from tripleforge.parse import parse_corpus, split_errors
    from tripleforge.schema import STATEMENT_RAW

    keep = []

    def mat(df):
        df = df.persist()
        keep.append(df)
        return df, df.count()

    with tr.span("build", op_id):
        dp = spark.sparkContext.defaultParallelism
        corpus = ops.widen_if_narrow(corpus, target=max(min(8, dp), dp // 4))
        with tr.span("ops.fingerprint", op_id) as s:
            prepared, s.counters["files"] = mat(with_format(ops.with_sha256(corpus)))
        arrow = F.col("format").isin(FORMAT_NT, FORMAT_NQ)
        raws = []
        for name, cond in (("parse.arrow", arrow), ("parse.per_file", ~arrow)):
            with tr.span(name, op_id) as s:
                raw, _ = mat(parse_corpus(prepared.where(cond), canonicalize=False))
                counts = {r["ok"]: r["n"] for r in raw.groupBy(
                    F.col("error").isNull().alias("ok")).agg(F.count("*").alias("n")).collect()}
                s.counters.update(stmts=counts.get(True, 0), errors=counts.get(False, 0))
            raws.append(raw)

        def canon_kernel(batches):
            # the kernel pipeline.build fuses into its mapInArrow parse stage
            import pyarrow as pa

            from tripleforge.canon import canonicalize_table

            for b in batches:
                yield from canonicalize_table(pa.Table.from_batches([b])).to_batches()

        with tr.span("canon", op_id):
            raw, _ = mat(raws[0].unionByName(raws[1]).mapInArrow(canon_kernel, STATEMENT_RAW))
        stmts, errors = split_errors(raw)
        stmts = ops.assign_graph(stmts)
        with tr.span("link.edges", op_id) as s:
            edges, s.counters["edges"] = mat(link.candidate_edges(stmts))
        with tr.span("link.cc", op_id) as s:
            mapping, s.counters["members"] = mat(link.connected_components(edges))
        with tr.span("link.rewrite", op_id) as s:
            stmts, s.counters["rows"] = mat(link.rewrite(stmts, mapping))
        with tr.span("ops.dedup", op_id) as s:
            unit, data = pipeline.shape_for_commit(stmts, catalog)
            unit, _ = mat(unit)
            data, s.counters["out"] = mat(data)
            s.counters["in"] = tr.by_name("link.rewrite")[-1].counters["rows"]
        run_id = uuid.uuid4().hex
        with tr.span("lineage", op_id):
            lin, _ = mat(lineage.collect(unit, errors)
                         .withColumn("run_id", F.lit(run_id))
                         .withColumn("committed_at", F.current_timestamp()))
        before = dir_stats(catalog.root)
        with tr.span("catalog.commit", op_id) as s:
            catalog.commit_snapshot(data, lin, run_id=run_id)
        after = dir_stats(catalog.root)
        s.counters.update(bytes=after[0] - before[0], files=after[1] - before[1])
    for df in keep:
        df.unpersist()


# ---------------------------------------------------------------------------
# mixed_load_linked
# ---------------------------------------------------------------------------
COUNT_ALL = "SELECT (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }"


def _count_read(catalog, tr: Tracer | None, op_id: int) -> int:
    from tripleforge import sparql

    if tr is None:
        df = sparql.query(catalog.read_statements(), COUNT_ALL, n_buckets=catalog.n_buckets)
        return int(df.first()["n"])
    with tr.span("read", op_id):
        with tr.span("catalog.read_statements", op_id):
            st = catalog.read_statements()
        with tr.span("sparql.compile", op_id):
            df = sparql.query(st, COUNT_ALL, n_buckets=catalog.n_buckets)
        with tr.span("sparql.execute", op_id) as s:
            n = int(df.first()["n"])
            s.counters["rows"] = 1
    return n


def run_load(spark, env, seed: int, seconds: float, traced: bool) -> Run:
    from tripleforge.catalog.parquet_snapshot import ParquetSnapshotCatalog
    from tripleforge.lineage import dataset_checksum
    from tripleforge.pipeline import BuildConfig, build

    run = Run()
    t0 = time.perf_counter()
    rows = mixed_rows(seed, MIXED)
    # the Python oracle runs beside the set-up's Spark work, and ends before the window
    pool = ThreadPoolExecutor(1)
    oracle = pool.submit(oracle_quads, rows)
    corpus = stage(spark, rows, env.path("corpus"), extra=nt_corpus(spark, seed))
    cfg = BuildConfig(link_entities=True, resume=False)
    catalogs = []

    def new_catalog():
        catalogs.append(ParquetSnapshotCatalog(spark, env.path(f"cat{len(catalogs)}")))
        return catalogs[-1]

    # warm-up at full size: one build and its read-back
    env.log("inputs staged")
    cat = new_catalog()
    build(spark, corpus, cat, cfg)
    env.log("warm-up build")
    warm_count = _count_read(cat, None, -1)
    expect_mixed = oracle.result()
    pool.shutdown()
    run.setup_s = env.session_s + time.perf_counter() - t0

    counts = []

    def iteration(tr, op_id):
        cat = new_catalog()
        t = time.perf_counter()
        if tr is None:
            build(spark, corpus, cat, cfg)
        else:
            traced_build(spark, corpus, cat, tr, op_id)
        b = Op("build", time.perf_counter() - t, traced=tr is not None)
        run.ops.append(b)
        for _ in range(LOAD_READS):
            t = time.perf_counter()
            n = _count_read(cat, tr, op_id)
            run.ops.append(Op("read:count", time.perf_counter() - t, traced=tr is not None))
            counts.append((b, n))
        b.triples = n

    start = time.perf_counter()
    n_iter = 0
    while n_iter == 0 or time.perf_counter() - start < seconds:
        iteration(None, n_iter)
        n_iter += 1
    if traced:
        tr = env.tracer()
        for i in range(n_iter):
            iteration(tr, n_iter + i)
        run.layer = {**load_layers(tr), **end_layers(tr, env, catalogs[-1], run.ops)}

    env.log(f"window: {n_iter} iterations")
    # ---- checks, outside the timed window
    from pyspark.sql import functions as F

    nt_graph = F.col("graph").startswith("urn:repo:nt/")
    expect_total = len(expect_mixed) + NT_FILES * NT_STMTS
    for op, n in counts:
        if n != expect_total:
            run.op_failed(op, f"read-back count {n} != expected {expect_total}")
    run.check([] if warm_count == expect_total else
              [f"warm-up count {warm_count} != expected {expect_total}"])
    last = catalogs[-1]
    lin = last.read_lineage()
    # the checks' Spark jobs are small; they run side by side
    with ThreadPoolExecutor(4) as pool:
        nt_count = pool.submit(lambda: last.read_statements().where(nt_graph).count())
        lin_total = pool.submit(lambda: lin.where(lin.repo.startswith("nt/"))
                                .agg({"n_triples": "sum"}).first()[0])
        sums = [pool.submit(lambda c=c: dataset_checksum(c.read_statements()))
                for c in catalogs]
        stored = pool.submit(store_quads, last, ~nt_graph)
        run.check(ex.check_bulk(nt_count.result(), int(lin_total.result() or 0),
                                NT_FILES, NT_STMTS))
        run.check(ex.check_equal([f.result() for f in sums], "dataset checksums"))
        run.check(ex.check_quads(stored.result(), expect_mixed, "mixed store"))
    size, _ = dir_stats(os.path.join(last.root, "data"))
    run.store_bytes_per_triple = size / max(1, counts[-1][1])
    env.log("checks")
    return run


def overhead_pct(ops: list[Op]) -> float:
    """Traced over untraced time of the same operations, as a percent."""
    kinds = {o.kind for o in ops if o.traced} & {o.kind for o in ops if not o.traced}
    t = sum(o.seconds for o in ops if o.traced and o.kind in kinds)
    u = sum(o.seconds for o in ops if not o.traced and o.kind in kinds)
    return 100.0 * (t / u - 1.0) if u else 0.0


def end_layers(tr: Tracer, env, catalog, ops: list[Op]) -> dict:
    return {
        "catalog.snapshots_end": catalog.latest_snapshot_id() or 0,
        "catalog.live_paths_end": len(catalog.live_paths()),
        "session.start_s": env.session_s,
        "spark.failed_tasks": sum(s.failed_tasks for s in tr.spans),
        "trace.overhead_pct": overhead_pct(ops),
    }


def load_layers(tr: Tracer) -> dict:
    selfs = self_seconds(tr.spans)
    n_builds = max(1, len(tr.by_name("build")))

    def per_build(name, attr=None, counter=None):
        spans = tr.by_name(name)
        if counter is not None:
            return sum(s.counters.get(counter, 0) for s in spans) / n_builds
        if attr is not None:
            return sum(getattr(s, attr) for s in spans) / n_builds
        return sum(selfs[s.span_id] for s in spans) / n_builds

    parse = ("parse.arrow", "parse.per_file")
    d_in, d_out = per_build("ops.dedup", counter="in"), per_build("ops.dedup", counter="out")
    return {
        "parse.self_s": sum(per_build(p) for p in parse),
        "parse.arrow_self_s": per_build("parse.arrow"),
        "parse.per_file_self_s": per_build("parse.per_file"),
        "parse.files_in": per_build("ops.fingerprint", counter="files"),
        "parse.stmts_out": sum(per_build(p, counter="stmts") for p in parse),
        "parse.errors_out": sum(per_build(p, counter="errors") for p in parse),
        "parse.spark_tasks": sum(per_build(p, attr="tasks") for p in parse),
        "canon.self_s": per_build("canon"),
        "ops.fingerprint_self_s": per_build("ops.fingerprint"),
        "ops.dedup_self_s": per_build("ops.dedup"),
        "ops.dedup_in": d_in,
        "ops.dedup_out": d_out,
        "ops.dedup_kept_frac": d_out / d_in if d_in else 0.0,
        "link.edges_self_s": per_build("link.edges"),
        "link.cc_self_s": per_build("link.cc"),
        "link.rewrite_self_s": per_build("link.rewrite"),
        "link.edges": per_build("link.edges", counter="edges"),
        "link.members": per_build("link.cc", counter="members"),
        "link.cc_spark_jobs": per_build("link.cc", attr="jobs"),
        "lineage.self_s": per_build("lineage"),
        "catalog.commit_self_s": per_build("catalog.commit"),
        "catalog.bytes_written": per_build("catalog.commit", counter="bytes"),
        "catalog.files_written": per_build("catalog.commit", counter="files"),
        "catalog.commit_spark_jobs": per_build("catalog.commit", attr="jobs"),
        **read_layers(tr, selfs),
    }


def read_layers(tr: Tracer, selfs: dict) -> dict:
    reads = tr.by_name("read")
    n = max(1, len(reads))

    def ms(name):
        return 1000 * sum(selfs[s.span_id] for s in tr.by_name(name)) / n

    rows = sum(s.counters.get("rows", 0) for nm in ("sparql.execute", "results.write")
               for s in tr.by_name(nm))
    jobs = sum(s.jobs for nm in ("read", "catalog.read_statements", "sparql.compile",
                                 "sparql.execute", "results.write") for s in tr.by_name(nm))
    return {
        "catalog.read_statements_ms": ms("catalog.read_statements"),
        "sparql.compile_ms": ms("sparql.compile"),
        "sparql.execute_ms": ms("sparql.execute"),
        "sparql.rows_out": rows / n,
        "sparql.spark_jobs_per_read": jobs / n,
        "results.write_ms": ms("results.write"),
    }


# ---------------------------------------------------------------------------
# sparql_rw
# ---------------------------------------------------------------------------
def _fetch(df, read: dict, env, op_id: int):
    """Run the read to completion the way its client consumes it."""
    from tripleforge import results

    if read["fetch"] == "ask":
        return bool(df.first()["ask"])
    if read["fetch"] == "collect":
        return {tuple(None if v is None else str(v) for v in r) for r in df.collect()}
    path = env.path(f"results/{op_id}.{read['fetch']}")
    results.write_results(df, path, read["fetch"])
    return path


def _decode(read: dict, got):
    """Written result files → the answer set (outside the timed part)."""
    if read["fetch"] == "json":
        with open(got) as fh:
            doc = json.load(fh)
        names = doc["head"]["vars"]
        return {tuple(b.get(v, {}).get("value") for v in names)
                for b in doc["results"]["bindings"]}
    if read["fetch"] == "nt":
        lines = []
        for f in sorted(os.listdir(got)):
            if not f.startswith((".", "_")):
                with open(os.path.join(got, f)) as fh:
                    lines += [ln for ln in fh.read().splitlines() if ln.strip()]
        return ex.parse_nt_terms(lines)
    return got


def update_text(form: str, k: int, src: str = "") -> str:
    """Writes of batch ``k``. INSERT DATA / DELETE DATA touch graph
    ``urn:kgbench:g``; LOAD, DELETE…INSERT…WHERE and DROP GRAPH touch
    graph ``urn:kgbench:load<k>``. Each group leaves the store as it was."""
    g, lg, p, q = (f"{ex.RESERVED}{x}" for x in ("g", f"load{k}", "p", "q"))
    triples = " ".join(f'<{ex.RESERVED}s{k}_{j}> <{p}> "v{k}_{j}" .'
                       for j in range(UPDATE_BATCH))
    if form == "insert_data":
        return f"INSERT DATA {{ GRAPH <{g}> {{ {triples} }} }}"
    if form == "delete_data":
        return f"DELETE DATA {{ GRAPH <{g}> {{ {triples} }} }}"
    if form == "load":
        return f"LOAD <file://{src}> INTO GRAPH <{lg}>"
    if form == "modify":
        return (f"DELETE {{ GRAPH <{lg}> {{ ?s <{p}> ?o }} }} "
                f"INSERT {{ GRAPH <{lg}> {{ ?s <{q}> ?o }} }} "
                f"WHERE {{ GRAPH <{lg}> {{ ?s <{p}> ?o }} }}")
    if form == "drop":
        return f"DROP GRAPH <{lg}>"
    raise ValueError(form)


def _probe(form: str, k: int) -> tuple[str, bool]:
    """The ASK that shows the write's effect can be read, and its answer."""
    if form in ("insert_data", "delete_data"):
        return (f'ASK {{ GRAPH <{ex.RESERVED}g> {{ <{ex.RESERVED}s{k}_0> '
                f'<{ex.RESERVED}p> "v{k}_0" }} }}', form == "insert_data")
    p = "q" if form == "modify" else "p"
    return (f"ASK {{ GRAPH <{ex.RESERVED}load{k}> {{ ?s <{ex.RESERVED}{p}> ?o }} }}",
            form != "drop")


def run_sparql_rw(spark, env, seed: int, seconds: float, traced: bool) -> Run:
    from tripleforge import sparql, sparql_update
    from tripleforge.catalog.parquet_snapshot import ParquetSnapshotCatalog
    from tripleforge.lineage import dataset_checksum
    from tripleforge.pipeline import BuildConfig, build

    run = Run()
    t0 = time.perf_counter()
    rows = mixed_rows(seed, STORE)
    # the Python oracle runs beside the store build; the warm-up reads
    # run beside the warm-up writes. Both end before the window.
    pool = ThreadPoolExecutor(4)
    oracle = pool.submit(oracle_quads, rows)
    corpus = stage(spark, rows, env.path("corpus"))
    cat = ParquetSnapshotCatalog(spark, env.path("store"))
    env.log("inputs staged")
    build(spark, corpus, cat, BuildConfig(link_entities=True, resume=False))
    env.log("store built")
    quads = oracle.result()
    rng = random.Random(seed)
    reads = ex.read_templates(quads, rng, 400)
    env.log("expected answers")

    def do_read(i: int, tr: Tracer | None, op_id: int) -> Op:
        read = reads[i % len(reads)]
        op = Op("read:" + read["kind"], 0.0, traced=tr is not None)
        t = time.perf_counter()
        try:
            if tr is None:
                got = _fetch(sparql.query(cat.read_statements(), read["text"],
                                          n_buckets=cat.n_buckets), read, env, op_id)
            else:
                with tr.span("read", op_id):
                    with tr.span("catalog.read_statements", op_id):
                        st = cat.read_statements()
                    with tr.span("sparql.compile", op_id):
                        df = sparql.query(st, read["text"], n_buckets=cat.n_buckets)
                    name = "results.write" if read["fetch"] in ("json", "nt") else "sparql.execute"
                    with tr.span(name, op_id) as s:
                        got = _fetch(df, read, env, op_id)
            op.seconds = time.perf_counter() - t
            got = _decode(read, got)
            if tr is not None:
                s.counters["rows"] = len(got) if isinstance(got, set) else 1
            problems = ex.check_answer(read, got)
            if problems:
                run.op_failed(op, "; ".join(problems))
        except Exception as e:  # a failed request is counted, the loop goes on
            op.seconds = time.perf_counter() - t
            run.op_failed(op, repr(e)[:300])
        return op

    def do_update(form: str, k: int, tr: Tracer | None, op_id: int) -> Op:
        src = os.path.abspath(env.path(f"load{k}.nt"))
        if form == "load":
            with open(src, "w") as fh:
                fh.writelines(f'<{ex.RESERVED}l{k}_{j}> <{ex.RESERVED}p> "w{j}" .\n'
                              for j in range(UPDATE_BATCH))
        text = update_text(form, k, src)
        op = Op("update:" + form, 0.0, traced=tr is not None)
        op.triples = UPDATE_BATCH if form in ("insert_data", "delete_data", "load") else 0
        t = time.perf_counter()
        try:
            if tr is None:
                sparql_update.execute_update(spark, cat, text)
            else:
                before = dir_stats(cat.root)
                with tr.span("update." + form, op_id) as s:
                    sparql_update.execute_update(spark, cat, text)
                after = dir_stats(cat.root)
                s.counters.update(bytes=after[0] - before[0], files=after[1] - before[1])
            op.seconds = time.perf_counter() - t
            probe, want = _probe(form, k)
            got = bool(sparql.query(cat.read_statements(), probe).first()["ask"])
            if got != want:
                run.op_failed(op, f"after {form} {probe} gave {got}")
        except Exception as e:
            op.seconds = time.perf_counter() - t
            run.op_failed(op, repr(e)[:300])
        return op

    # warm-up at full size: every read template once, and one write pair
    # on the reserved graph (batch 0), which undoes itself. The store
    # build into an empty catalog skips the update path's imports and
    # its anti-join against the live store. The warm-up only has to pay
    # one-off costs, so the reads need not wait for each other or for
    # the writes; no read template matches the reserved graph.
    warm_reads = [pool.submit(do_read, i, None, -1 - i) for i in range(8)]
    for form in ("insert_data", "delete_data"):
        do_update(form, 0, None, -9)
    for f in warm_reads:
        f.result()
    pool.shutdown()
    env.log("reads and writes warmed")
    checksum0 = dataset_checksum(cat.read_statements())
    run.setup_s = env.session_s + time.perf_counter() - t0
    for f in run.failures:
        print("warm-up failure:", f, file=sys.stderr)
    warm_failures, run.failures = run.failures, []

    def window(tr: Tracer | None, n_pairs: int | None) -> int:
        """Closed loop of rounds: reads, then an INSERT DATA; reads,
        then the DELETE DATA that undoes it. Stops on a pair boundary,
        so the store is back at its set-up state."""
        start, pairs, r, op_id = time.perf_counter(), 0, 8, 0
        while (pairs < n_pairs) if n_pairs is not None else (
                pairs == 0 or time.perf_counter() - start < seconds):
            for form in ("insert_data", "delete_data"):
                for _ in range(READS_PER_UPDATE):
                    run.ops.append(do_read(r, tr, op_id))
                    r, op_id = r + 1, op_id + 1
                run.ops.append(do_update(form, 1 + pairs, tr, op_id))
                op_id += 1
            pairs += 1
        return pairs

    n_pairs = window(None, None)
    env.log(f"window: {n_pairs} pairs")
    if traced:
        tr = env.tracer()
        window(tr, n_pairs)
        ends = end_layers(tr, env, cat, run.ops)
        # the rarer forms, once: LOAD, DELETE…INSERT…WHERE, DROP GRAPH
        k = 1 + n_pairs
        for i, form in enumerate(("load", "modify", "drop")):
            run.ops.append(do_update(form, k, tr, 10_000 + i))
        run.layer = {**sparql_layers(tr), **ends}

    # ---- checks, outside the timed window
    run.check([f"warm-up: {f}" for f in warm_failures])
    run.check(ex.check_quads(store_quads(cat), quads, "sparql store"))
    end = dataset_checksum(cat.read_statements())
    run.check([] if end == checksum0 else [f"store checksum {end} != set-up {checksum0}"])
    size = sum(dir_stats(os.path.join(cat.root, p))[0] for p in cat.live_paths())
    run.store_bytes_per_triple = size / max(1, len(quads))
    env.log("checks")
    return run


def sparql_layers(tr: Tracer) -> dict:
    selfs = self_seconds(tr.spans)
    out = read_layers(tr, selfs)
    ups = [s for s in tr.spans if s.name.startswith("update.")]
    n = max(1, len(ups))
    for form, name in (("insert_data", "insert_data"), ("delete_data", "delete_data"),
                       ("modify", "modify"), ("load", "load"), ("drop", "drop")):
        spans = tr.by_name("update." + form)
        out[f"update.{name}_ms"] = (1000 * statistics.median(s.seconds for s in spans)
                                    if spans else 0.0)
    out["update.bytes_written_per_op"] = sum(s.counters.get("bytes", 0) for s in ups) / n
    out["update.files_written_per_op"] = sum(s.counters.get("files", 0) for s in ups) / n
    out["update.spark_jobs_per_op"] = sum(s.jobs for s in ups) / n
    out["update.spark_tasks_per_op"] = sum(s.tasks for s in ups) / n
    return out


WORKLOADS = {"mixed_load_linked": run_load, "sparql_rw": run_sparql_rw}
