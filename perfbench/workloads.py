"""The benchmark's workloads, each a closed loop with one client.

* ``extract_read``: ``pipeline.extract`` over the interleaved corpus, the
  action ``count`` + ``sum(size(spans))``. Map stage, doc_id shuffle and
  the reading-order kernel; no lineage and no ``functions.*`` code. Its
  traced run adds the CLI batch path (``lineage.run_extract`` into fresh
  directories, a resume call, ``snapshots.commit_snapshot``) and a
  ``local[1]`` leg for the scaling efficiency.
* ``curation``: two queries from ``functions.bench_queries()``
  in a fixed order, one cold pass in a fresh session, then warm passes.
  No ``mapInArrow`` stage and no flagship kernel.

Both report the same end-to-end metrics, in CPU seconds of the whole
process tree (the benchmark's process, the JVM and the Python workers):
``setup_s``, a JVM launch to a ready session (the median of several,
taken by :class:`Run`); ``first_cpu_s``, the first draw in that session;
``warm_cpu_s``, a warm draw (the median, JIT compiler threads left out).
``run.py`` divides each by the run's host slowdown (``hostspeed.py``). A
traced run also reads Spark's status store after every action and reports
the per-layer metrics, wall times among them; see README.md for the map
from layer metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import time
from collections.abc import Callable
from typing import NamedTuple

import numpy as np

import gen
import hostspeed
import jvm
from sparkstatus import Execution, StatusReader
from summary import median
from tracer import Tracer

#: documents per replica (the size of the sf0.1 ``documents`` table)
BASE_DOCS = 5000
REPLICAS = 8
CORPUS_FILES = 16
BUCKETS = 32
SAMPLE_DOCS = 256
KERNEL_SAMPLE_DOCS = 2000
MIN_WARM_DRAWS = 5
#: JVM launches of a run; ``setup_s`` is the median of their CPU seconds
SETUP_LAUNCHES = 3
#: discarded draws between the first and the timed warm draws, while the
#: JIT compiles the draw's hot paths
WARMUP_DRAWS = 3
#: lineage.run_extract calls of a traced extract_read run; the first one
#: is the write path's cold call
WRITE_DRAWS = 3
#: sf0.01-sized curation tables
CURATION_SIZES = {"n_docs": 500, "n_vecs": 500}
#: two of the eight curation queries of bench_queries(), in their bench
#: order: the per-session cached tables (ivfpq_topk) and the deepest plan
#: (bpe_merges: 26 stages). The other six are left out for the benchmark's
#: run budget: with all eight a cold pass takes about 53 s at local[4], and
#: the 4-core host runs up to twice as slow when its neighbours are busy.
CURATION_QUERIES = ("ivfpq_topk", "bpe_merges")
#: an untimed pass after the cold one: the CPU of the first warm pass is
#: up to 30% above that of the later ones while the JIT compiles
WARMUP_PASSES = 1
MIN_WARM_PASSES = 4


class Run:
    """One benchmark run: arguments, work directory, tracer, the count of
    attempted and failed operations, and the metrics collected so far."""

    def __init__(self, root: str, work: str, workload: str, seed: int,
                 seconds: float, trace: bool, cores: int) -> None:
        self.root, self.work = root, work
        self.workload, self.seed = workload, seed
        self.seconds, self.trace, self.cores = seconds, trace, cores
        self.tracer = Tracer(trace, f"{workload}-s{seed}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setups: list[Cost] = []
        #: CPU seconds of the host-speed reference task, timed between
        #: launches and draws
        self.speed: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.facts: dict = {}
        self.details: dict = {}

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a false ``ok`` counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def launch(self, cores: int):
        """A SparkSession at ``local[cores]`` in a fresh JVM, after
        ``SETUP_LAUNCHES - 1`` launches that are timed and stopped."""
        for _ in range(SETUP_LAUNCHES - 1):
            self.calibrate()
            self.start_session(cores)
            jvm.stop_jvm()
        self.calibrate()
        return self.start_session(cores)

    def calibrate(self) -> None:
        """Time the host-speed reference task once (untimed for the
        metrics)."""
        self.speed.append(hostspeed.reference_task())

    def start_session(self, cores: int, launch: bool = True):
        """A SparkSession at ``local[cores]``. ``launch`` marks a session
        that starts a fresh JVM; only those count towards ``setup_s``."""
        from paddleocr_spark.session import get_spark
        with self.tracer.span("session.get_spark", cores=cores):
            cost, spark = measured(lambda: get_spark(
                f"perfbench-{self.workload}", cores=cores))
        if launch:
            self.setups.append(cost)
        spark.sparkContext.setLogLevel("ERROR")
        self.facts.setdefault(
            "java", spark._jvm.System.getProperty("java.version"))
        return spark

    def reader(self, spark) -> StatusReader | None:
        return StatusReader(spark) if self.trace else None

    def finish_layers(self, reader: StatusReader | None) -> None:
        """Session-wide per-layer numbers, read before the JVM stops."""
        if reader is None:
            return
        self.layers.update(reader.totals())
        self.layers["session.get_spark_s"] = median(
            [c.wall_s for c in self.setups])
        pid = jvm.jvm_pid()
        self.layers["mem.jvm_peak_rss_mb"] = jvm.peak_rss_mb(pid) if pid else 0
        self.layers["mem.python_peak_rss_mb"] = jvm.python_worker_peak_rss_mb()
        self.layers["trace.read_s"] = reader.read_s


def timed(fn: Callable):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Cost(NamedTuple):
    """Wall and process-tree CPU seconds of one call; ``jit_s`` is the
    part of ``cpu_s`` spent in the JVM's JIT compiler threads."""
    wall_s: float
    cpu_s: float
    jit_s: float

    @property
    def work_cpu_s(self) -> float:
        return self.cpu_s - self.jit_s

    def __add__(self, other: "Cost") -> "Cost":
        return Cost(*(a + b for a, b in zip(self, other)))


ZERO = Cost(0.0, 0.0, 0.0)


def measured(fn: Callable):
    cpu0, jit0 = jvm.tree_cpu_s(), jvm.jit_threads_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    jit = jvm.jit_cpu_delta_s(jit0, jvm.jit_threads_cpu_s())
    return Cost(wall, jvm.tree_cpu_s() - cpu0, jit), out


def warm_loop(draw: Callable[[int], Cost], min_draws: int,
              seconds: float) -> list[Cost]:
    """Call ``draw(i)`` until ``seconds`` have passed and at least
    ``min_draws`` draws were made; return the draws' costs."""
    costs: list[Cost] = []
    end = time.perf_counter() + seconds
    while len(costs) < min_draws or time.perf_counter() < end:
        costs.append(draw(len(costs)))
    return costs


def ab_overhead(traced: list[float], untraced: list[float]) -> float:
    """Tracing overhead: median traced draw minus median untraced draw."""
    return median(traced) - median(untraced) if traced and untraced else 0.0


# ---------------------------------------------------------------------------
# Layer metrics from the status store
# ---------------------------------------------------------------------------

def _sum(nodes, metric: str) -> float:
    return sum(n.get(metric) for n in nodes)


def extract_layers(exes: list[Execution]) -> dict[str, float]:
    """Map stage, payload shuffle, sort, ``mapInArrow`` and write-node
    numbers of the executions one extract action ran."""
    nodes = [n for e in exes for n in e.nodes]
    stages = [s for e in exes for s in e.ran()]
    arrow = [n for n in nodes if n.name == "MapInArrow"]
    m = {
        "arrow.python_start_s": _sum(arrow, "time to start Python workers"),
        "arrow.python_init_s": _sum(arrow,
                                    "time to initialize Python workers"),
        "arrow.python_run_s": _sum(arrow, "time to run Python workers"),
        "arrow.bytes_to_python": _sum(arrow, "data sent to Python workers"),
        "arrow.bytes_from_python": _sum(
            arrow, "data returned from Python workers"),
        "pipeline.spans_exploded": _sum(
            [n for n in nodes if n.name == "Generate"],
            "number of output rows"),
    }
    exchanges = [n for n in nodes if n.name == "Exchange"]
    if exchanges:
        payload = max(exchanges,
                      key=lambda n: n.get("shuffle records written"))
        read = payload.stats("local bytes read")
        m.update({
            "pipeline.spans_kept": payload.get("shuffle records written"),
            "shuffle.records": payload.get("shuffle records written"),
            "shuffle.bytes_written": payload.get("shuffle bytes written"),
            "shuffle.partitions": payload.get("number of partitions"),
            "shuffle.write_s": payload.get("shuffle write time"),
            "shuffle.skew": read["max"] / read["med"] if read["med"] else 0,
        })
    sorts = [n for n in nodes if n.name == "Sort"]
    m.update({
        "sort.s": _sum(sorts, "sort time"),
        "sort.spill_bytes": _sum(sorts, "spill size"),
        "sort.peak_mem_bytes": _sum(sorts, "peak memory"),
    })
    maps = [s for s in stages
            if s.shuffle_read_bytes == 0 and s.shuffle_write_bytes > 0]
    m.update({
        "pipeline.map_s": sum(s.wall_s for s in maps),
        "pipeline.map_task_s": sum(s.run_s for s in maps),
        "pipeline.map_cpu_s": sum(s.cpu_s for s in maps),
    })
    reduce = [s for s in stages if s.shuffle_read_bytes > 0]
    if reduce:
        assemble = max(reduce, key=lambda s: s.run_s)
        m["assemble.task_s"] = assemble.run_s
        m["assemble.jvm_cpu_s"] = assemble.cpu_s
    writes = [n for n in nodes if n.name.startswith("Execute Insert")]
    if writes:
        m.update({
            "lineage.files_written": _sum(writes, "number of written files"),
            "lineage.bytes_written": _sum(writes, "written output"),
            "lineage.task_commit_s": _sum(writes, "task commit time"),
            "lineage.job_commit_s": _sum(writes, "job commit time"),
        })
    return m


def median_layers(draws: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in draws for k in d}
    return {k: median([d.get(k, 0.0) for d in draws]) for k in keys}


# ---------------------------------------------------------------------------
# Extraction corpus and its oracle
# ---------------------------------------------------------------------------

def _doc_rows(doc_id: str, spans) -> tuple:
    return doc_id, [[s["kind"], s["text"], s["media_ref"], int(s["offset"])]
                    for s in spans]


def docs_hash(rows: list[tuple]) -> str:
    """Order-sensitive hash of ``(doc_id, [(kind, text, media_ref,
    offset), ...])`` rows, docs sorted by id, spans in emitted order."""
    h = hashlib.sha256()
    for doc_id, spans in sorted(rows, key=lambda r: r[0]):
        h.update(json.dumps([doc_id, spans]).encode())
    return h.hexdigest()


def make_corpus(run: Run) -> dict:
    """Generate and materialize the corpus, and run the oracle on it
    (untimed)."""
    import pyarrow.compute as pc

    with run.tracer.span("synth.generate"):
        docs = gen.corpus_documents(run.seed, BASE_DOCS, REPLICAS)
        table = gen.interleaved(docs)
        path = os.path.join(run.work, "corpus")
        gen.write_files(table, path, CORPUS_FILES)
    n_spans = pc.sum(pc.list_value_length(table.column("spans"))).as_py()
    rng = np.random.default_rng([run.seed, 4])
    ids = docs.column("doc_id").to_numpy()
    sample = sorted(f"doc_{d:07d}" for d in rng.choice(
        ids, SAMPLE_DOCS, replace=False))

    from paddleocr_spark.oracle import extract_pandas
    with run.tracer.span("oracle.extract_pandas"):
        out = extract_pandas(docs.to_pandas())
    picked = out[out["doc_id"].isin(set(sample))]
    run.facts.update({"input_docs": docs.num_rows, "input_spans": n_spans,
                      "replicas": REPLICAS, "corpus_files": CORPUS_FILES})
    return {
        "path": path, "docs": docs, "n_docs": docs.num_rows,
        "sample": sample,
        "totals": (len(out), int(out["spans"].map(len).sum())),
        "sample_hash": docs_hash([_doc_rows(d, s) for d, s in
                                  zip(picked["doc_id"], picked["spans"])]),
    }


def spark_sample_hash(df, sample: list[str]) -> str:
    from pyspark.sql import functions as F
    rows = df.filter(F.col("doc_id").isin(sample)).select(
        "doc_id", "spans").collect()
    return docs_hash([_doc_rows(r["doc_id"], r["spans"]) for r in rows])


def extracted(spark, corpus: dict):
    from paddleocr_spark.pipeline import extract
    return extract(spark.read.parquet(corpus["path"]))


def count_docs_spans(df) -> tuple[int, int]:
    from pyspark.sql import functions as F
    row = df.agg(F.count("*"), F.sum(F.size("spans"))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def kernel_replay(run: Run, spark, corpus: dict) -> None:
    """Replay a fixed sample of complete docs through the ``mapInArrow``
    kernel entry in the driver, counting and timing the per-document
    ``kernels.order_document`` calls (the sequential slow path)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from paddleocr_spark import pipeline as P

    ids = [f"doc_{d:07d}" for d in
           corpus["docs"].column("doc_id").to_numpy()[:KERNEL_SAMPLE_DOCS]]
    docs = spark.read.parquet(corpus["path"]).filter(
        F.col("doc_id").isin(ids))
    spans = P.strip_styles(P.drop_score_filter(P.det_filter(
        P.with_geometry(P.explode_spans(docs)))))
    tbl = spans.select("doc_id", "span_idx", "kind", "text", "media_ref",
                       "x1", "y1", "x2", "y2").toArrow()
    tbl = tbl.sort_by([("doc_id", "ascending"), ("span_idx", "ascending")])
    n_docs = len(pc.unique(tbl.column("doc_id")))
    calls = 0
    kernel = P.order_document

    def counted(*args, **kwargs):
        nonlocal calls
        calls += 1
        return kernel(*args, **kwargs)

    P.order_document = counted
    try:
        with run.tracer.span("kernels.replay", docs=n_docs):
            dt, _ = timed(lambda: list(P._assemble_arrow(
                iter(tbl.to_batches(max_chunksize=10_000)))))
    finally:
        P.order_document = kernel
    run.layers.update({
        "kernels.slow_path_docs": float(calls),
        "kernels.fast_path_share": 1.0 - calls / n_docs,
        "kernels.emit_us_per_span": dt / tbl.num_rows * 1e6,
    })


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Draws:
    """Timed draws of one action. In a traced run even draws read the
    status store afterwards (their layer numbers are kept, and their time
    counts with the read) and odd draws skip it, so that the traced minus
    the untraced median is the tracing overhead."""

    def __init__(self, reader: StatusReader | None,
                 layers_of: Callable[[list[Execution]], dict]) -> None:
        self.reader, self.layers_of = reader, layers_of
        self.reset()

    def reset(self) -> None:
        self.layers: list[dict] = []
        self.traced: list[float] = []
        self.untraced: list[float] = []

    def draw(self, i: int, action: Callable):
        cost, out = measured(action)
        if self.reader is not None and i % 2 == 0:
            rt, exes = timed(self.reader.read)
            self.layers.append(self.layers_of(exes))
            self.traced.append(cost.wall_s + rt)
        elif self.reader is not None:
            self.reader.skip()
            self.untraced.append(cost.wall_s)
        return cost, out

    def overhead(self) -> float:
        return ab_overhead(self.traced, self.untraced)


def extract_read(run: Run) -> None:
    corpus = make_corpus(run)
    spark = run.launch(run.cores)
    draws = Draws(run.reader(spark), extract_layers)
    plan = {}

    def first_action():
        # a fresh session's first draw also reads the table's footers and
        # plans the query
        plan["df"] = extracted(spark, corpus)
        return count_docs_spans(plan["df"])

    def draw(i: int, action=None) -> Cost:
        run.calibrate()
        with run.tracer.span("pipeline.extract.action", draw=i):
            cost, got = draws.draw(i, action or (
                lambda: count_docs_spans(plan["df"])))
        run.check(got == corpus["totals"],
                  f"draw {i}: docs/spans {got} != {corpus['totals']}")
        return cost

    first = draw(0, first_action)
    first_layers = draws.layers[-1] if draws.layers else {}
    for i in range(WARMUP_DRAWS):
        draw(i + 1)
    draws.reset()
    warm = warm_loop(draw, MIN_WARM_DRAWS, run.seconds)
    # CPU seconds of this host; run.py scales them to the calm host
    run.e2e.update({"first_cpu_s": first.cpu_s,
                    "warm_cpu_s": median([c.work_cpu_s for c in warm])})
    run.details.update({"first": first._asdict(),
                        "warm": [c._asdict() for c in warm]})
    run.check(spark_sample_hash(plan["df"], corpus["sample"]) ==
              corpus["sample_hash"], "sample hash != oracle")

    if run.trace:
        # the untraced draws' wall times; the traced ones add the reads
        warm_wall = median(draws.untraced)
        run.layers.update(median_layers(draws.layers))
        run.layers.update({
            "wall.first_s": first.wall_s, "wall.warm_s": warm_wall,
            "wall.docs_per_s": corpus["n_docs"] / warm_wall,
            "cpu.jit_s": median([c.jit_s for c in warm])})
        run.layers["arrow.first_python_start_s"] = first_layers.get(
            "arrow.python_start_s", 0.0)
        run.layers["arrow.first_python_init_s"] = first_layers.get(
            "arrow.python_init_s", 0.0)
        run.layers["trace.overhead_s"] = draws.overhead()
        kernel_replay(run, spark, corpus)
        lineage_leg(run, spark, corpus, plan["df"], draws.reader)
        run.finish_layers(draws.reader)
        spark.stop()
        scaling_leg(run, corpus, warm_wall)


def scaling_leg(run: Run, corpus: dict, t_n: float) -> None:
    """The same warm draw at ``local[1]``, in the same JVM."""
    spark = run.start_session(1, launch=False)
    df = extracted(spark, corpus)

    def draw(i: int) -> Cost:
        with run.tracer.span("pipeline.extract.action", cores=1, draw=i):
            cost, got = measured(lambda: count_docs_spans(df))
        run.check(got == corpus["totals"], f"1-core draw {i}: {got}")
        return cost

    draw(-1)  # warm-up: a new SparkContext starts new Python workers
    t_1 = median([c.wall_s for c in warm_loop(draw, 2, run.seconds)])
    run.layers.update({"scaling.t1_s": t_1, "scaling.tn_s": t_n,
                       "scaling_eff": t_1 / (run.cores * t_n)})


def lineage_leg(run: Run, spark, corpus: dict, df, reader) -> None:
    """The CLI batch path, in a traced ``extract_read`` run:
    ``lineage.run_extract`` of the same extraction into a fresh directory
    per call, then a resume call that must find every bucket committed,
    then the written table and its lineage read back and checked."""
    import paddleocr_spark.lineage as L
    import paddleocr_spark.snapshots as S
    from pyspark.sql import functions as F

    docs, spans = corpus["totals"]
    restore = wrap_layer_calls(run, L, S)
    reader.skip()
    times, layers = [], []
    for i in range(WRITE_DRAWS):
        out = os.path.join(run.work, f"write{i}")
        with run.tracer.span("lineage.run_extract", draw=i):
            dt, res = timed(lambda: L.run_extract(
                spark, df, out, f"w{i}", n_buckets=BUCKETS))
        run.check((res["docs"], res["spans"], res["parts_done"]) ==
                  (docs, spans, BUCKETS), f"write {i}: {res}")
        times.append(dt)
        layers.append(extract_layers(reader.read()))
        if i:  # keep the disk small; the last one is checked below
            shutil.rmtree(os.path.join(run.work, f"write{i - 1}"))
    with run.tracer.span("lineage.resume") as resume:
        resume_s, res = timed(lambda: L.run_extract(
            spark, df, out, "resume", n_buckets=BUCKETS))
    restore()
    run.check(res["parts_done"] == 0 and res["parts_skipped"] == BUCKETS,
              f"resume: {res}")
    back = S.read_snapshot(spark, out)
    run.check(count_docs_spans(back) == (docs, spans), "read-back totals")
    run.check(spark_sample_hash(back, corpus["sample"]) ==
              corpus["sample_hash"], "read-back sample hash != oracle")
    lin = spark.read.parquet(os.path.join(out, "lineage")).agg(
        F.count("*"), F.sum("doc_count"), F.sum("span_count")).collect()[0]
    run.check(tuple(int(v) for v in lin) == (BUCKETS, docs, spans),
              f"lineage totals {tuple(lin)}")
    reader.skip()

    warm = median(times[1:])
    run.layers.update({k: v for k, v in median_layers(layers[1:]).items()
                       if k.startswith("lineage.")})
    commits = [s["end"] - s["start"] for s in run.tracer.spans
               if s["name"] == "snapshots.commit_snapshot"]
    run.layers.update({
        "lineage.first_s": times[0],
        "lineage.run_extract_s": warm,
        "lineage.docs_per_s": corpus["n_docs"] / warm,
        "snapshots.commit_snapshot_s": median(commits),
        "resume_s": resume_s,
        # the resume call's lookup is the one that reads a lineage table
        "lineage.committed_parts_s": sum(
            s["end"] - s["start"] for s in run.tracer.spans
            if s["name"] == "lineage.committed_parts"
            and s["parent"] == resume["id"]),
    })
    run.details.update({"write_times": times, "resume_s": resume_s})


def wrap_layer_calls(run: Run, lineage, snapshots) -> Callable[[], None]:
    """Record spans around ``lineage.committed_parts`` and
    ``snapshots.commit_snapshot``, which ``run_extract`` calls; returns
    the function that restores the originals."""
    originals = {(lineage, "committed_parts"): lineage.committed_parts,
                 (snapshots, "commit_snapshot"): snapshots.commit_snapshot}

    def wrap(module, attr, fn):
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        def traced(*args, **kwargs):
            with run.tracer.span(name):
                return fn(*args, **kwargs)
        setattr(module, attr, traced)

    for (module, attr), fn in originals.items():
        wrap(module, attr, fn)

    def restore() -> None:
        for (module, attr), fn in originals.items():
            setattr(module, attr, fn)
    return restore


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def curation_oracle(run: Run, sf_dir: str) -> dict:
    """Each query's expected ``(columns, sorted canonical rows)`` from its
    DuckDB twin over the same generated tables."""
    import duckdb

    from paddleocr_spark.entry_queries import oracle_sql
    parity = _load_tool(run.root, "parity_check")
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        sqls = oracle_sql()
        expected = {}
        for name in CURATION_QUERIES:
            rel = con.sql(sqls[name])
            expected[name] = parity.frame_repr(rel.columns, rel.fetchall())
    finally:
        con.close()
    return {"expected": expected, "frame_repr": parity.frame_repr}


def curation(run: Run) -> None:
    from paddleocr_spark.functions import bench_queries

    sf_dir = os.path.join(run.work, "sf")
    with run.tracer.span("generate"):
        gen.write_curation_tables(run.seed, sf_dir, **CURATION_SIZES)
    with run.tracer.span("oracle.duckdb"):
        oracle = curation_oracle(run, sf_dir)
    run.facts.update({"input_docs": CURATION_SIZES["n_docs"],
                      "input_vecs": CURATION_SIZES["n_vecs"]})
    queries = bench_queries()
    spark = run.launch(run.cores)
    reader = run.reader(spark)
    layers: dict[str, list[dict]] = {q: [] for q in CURATION_QUERIES}

    def run_query(name: str):
        df = queries[name](spark, sf_dir)
        return df.columns, df.collect()

    def one_pass(p: int, traced: bool) -> dict[str, Cost]:
        costs = {}
        for name in CURATION_QUERIES:
            with run.tracer.span(f"functions.{name}", draw=p):
                cost, (cols, got) = measured(lambda: run_query(name))
            run.check(oracle["frame_repr"](cols, [tuple(r) for r in got])
                      == oracle["expected"][name],
                      f"pass {p}: {name} differs from its twin")
            costs[name] = cost
            if reader is not None and not traced:
                reader.skip()
            elif reader is not None:
                ran = [s for e in reader.read(nodes=False) for s in e.ran()]
                layers[name].append({
                    "stages": float(len(ran)),
                    "shuffle_bytes": float(sum(
                        s.shuffle_write_bytes for s in ran))})
        return costs

    def total(costs: dict[str, Cost]) -> Cost:
        return sum(costs.values(), ZERO)

    run.calibrate()
    cold = one_pass(0, traced=True)
    for q in CURATION_QUERIES:
        layers[q].clear()
    for p in range(WARMUP_PASSES):
        one_pass(p + 1, traced=False)
    warm_passes: list[dict[str, Cost]] = []
    pass_totals: list[tuple[bool, float]] = []

    def warm_pass(i: int) -> Cost:
        traced = i % 2 == 0
        # the pass's wall time counts the status-store reads of a traced
        # pass; its cost counts the queries alone
        run.calibrate()
        wall, costs = timed(lambda: one_pass(WARMUP_PASSES + i + 1, traced))
        warm_passes.append(costs)
        pass_totals.append((traced, wall))
        return total(costs)

    warm = warm_loop(warm_pass, MIN_WARM_PASSES, run.seconds)
    # the sum of the per-query medians: a JIT or GC burst in one query of
    # a pass does not move it
    run.e2e.update({
        "first_cpu_s": total(cold).cpu_s,
        "warm_cpu_s": sum(median([p[q].work_cpu_s for p in warm_passes])
                          for q in CURATION_QUERIES)})
    run.details.update({
        "cold": {q: c._asdict() for q, c in cold.items()},
        "warm_passes": [{q: c._asdict() for q, c in p.items()}
                        for p in warm_passes]})

    if reader is not None:
        untraced = [t for tr, t in pass_totals if not tr]
        for q in CURATION_QUERIES:
            run.layers[f"q.{q}.cold_s"] = cold[q].wall_s
            run.layers[f"q.{q}.warm_s"] = median(
                [p[q].wall_s for p in warm_passes])
            for k, v in median_layers(layers[q]).items():
                run.layers[f"q.{q}.{k}"] = v
        run.layers.update({
            "wall.first_s": total(cold).wall_s,
            "wall.warm_s": median(untraced),
            "cpu.jit_s": median([c.jit_s for c in warm]),
            "trace.overhead_s": ab_overhead(
                [t for tr, t in pass_totals if tr], untraced)})
        run.finish_layers(reader)


WORKLOADS: dict[str, Callable[[Run], None]] = {
    "extract_read": extract_read,
    "curation": curation,
}
