"""The two workloads. Each `run_<name>` sets up, measures for the given
number of seconds, runs its output checks and returns a Result.

build  — cold `pipeline.run` of the seeded pages corpus, then the analyst
         query mix over the fresh stage views.
corpus — one pass of the textops/similarity training-data ops, written to
         parquet, then the query mix over the written tables.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from imc import pipeline, similarity, sqlviews, textops
from imc.config import IMCParams
from perfbench import checks, inputs, layers
from perfbench.harness import median, memory_mb, settle_heap

PARAMS = IMCParams()
N_QUERIES = 100           # per run: p90 then has 10 samples beyond it
# untimed queries first: the first queries of a JVM are slower, while the
# query path warms up
N_WARMUP_QUERIES = 10
# every workload's mix cycles through these kinds: point lookups, a range
# scan, a join and a filtered aggregate. With four kinds in equal shares
# the median falls on the boundary between two kinds' latencies and jumps
# between them from run to run; with five slots it falls inside one kind.
QUERY_MIX = ("point", "range", "point", "join", "agg")
SETUP_REPEATS = 3         # input generation is repeated; setup reports the median
ORACLE_VENUES = 2         # build: venues checked against fixtures/oracle.py


@dataclass
class Result:
    setup_s: float = 0.0
    check_s: float = 0.0                               # output checks, untimed
    op_s: list = field(default_factory=list)           # one per operation
    memory_mb: tuple = (0.0, 0.0)                      # harness.memory_mb
    query_ms: dict = field(default_factory=dict)       # kind -> [ms]
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    ctx: dict = field(default_factory=dict)            # for per-layer metrics

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=4)}")
            return None

    def check(self, what: str, fn, *args) -> None:
        """Run one output check; a raised error or a reported difference
        counts as a failed operation."""
        t0 = time.perf_counter()
        errs = self.attempt(what, fn, *args)
        self.check_s += time.perf_counter() - t0
        if errs:
            self.failed += 1
            self.errors.extend(errs)


# ------------------------------------------------------------------ queries

def _spatial_queries(rng, venues, n):
    """The analyst mix over the stage views, as (kind, sql) with seeded
    parameters drawn from small sets so expected answers are cheap."""
    stride = checks.VENUE_DIV
    boxes = [(x, y) for x in (0.0, 20.0) for y in (0.0, 20.0)]
    out = []
    for i in range(n):
        v = int(rng.choice(venues))
        vx, vy = (v % 10) * 1000.0, (v // 10) * 1000.0
        kind = QUERY_MIX[i % len(QUERY_MIX)]
        if kind == "point":
            sql = (f"SELECT count(*), sum(seg_id), sum(traj_id) "
                   f"FROM imc_segments WHERE venue = {v}")
        elif kind == "range":
            bx, by = boxes[int(rng.integers(len(boxes)))]
            sql = (f"SELECT count(*), sum(seq) FROM imc_points "
                   f"WHERE x BETWEEN {vx + bx - 1} AND {vx + bx + 21} "
                   f"AND y BETWEEN {vy + by - 1} AND {vy + by + 1}")
        elif kind == "join":
            sql = ("SELECT count(*), count(DISTINCT t.tile_id), sum(t.tile_id) "
                   "FROM imc_tile_assignments t JOIN imc_segments s "
                   f"ON t.seg_id = s.seg_id WHERE s.venue = {v}")
        else:
            sql = ("SELECT count(*), count(DISTINCT cluster_id), "
                   "sum(CAST(is_core AS INT)) FROM imc_assignments "
                   f"WHERE seg_id DIV {stride} = {v}")
        out.append((kind, sql))
    return out


def _corpus_queries(rng, n):
    out = []
    for i in range(n):
        kind = QUERY_MIX[i % len(QUERY_MIX)]
        if kind == "point":
            d = int(rng.integers(0, inputs.N_DOCS, dtype=np.int64) // 50 * 50)
            sql = ("SELECT count(*), sum(cluster_id), sum(CAST(is_keeper AS INT)) "
                   f"FROM corpus_dedup WHERE doc_id = {d}")
        elif kind == "range":
            lo = int(rng.integers(0, 4))
            sql = ("SELECT count(*), sum(n_tokens) FROM corpus_quality "
                   f"WHERE n_tokens >= {10 * lo} AND n_tokens < {10 * lo + 15}")
        elif kind == "join":
            r = int(rng.integers(0, 4))
            sql = ("SELECT count(*), sum(q.n_tokens) FROM corpus_quality q "
                   "JOIN corpus_dedup d ON q.doc_id = d.doc_id "
                   f"WHERE d.is_keeper AND q.doc_id % 4 = {r}")
        else:
            q = int(rng.integers(0, inputs.N_VECS // 50)) * 50
            sql = ("SELECT count(*), sum(neighbor_id) FROM corpus_ann_ivf "
                   f"WHERE query_id = {q}")
        out.append((kind, sql))
    return out


def _answer(row) -> tuple:
    return tuple(0 if v is None else int(v) for v in row)


def run_queries(spark, res: Result, tracer, queries, answers: dict,
                timed: bool = True) -> None:
    """Time each query (collect included); record its answer for the check."""
    for kind, sql in queries:
        def one():
            with tracer.span(f"query:{kind}" if timed else "query:warmup"):
                t0 = time.perf_counter()
                rows = spark.sql(sql).collect()
                dt = time.perf_counter() - t0
            if timed:
                res.query_ms.setdefault(kind, []).append(1000.0 * dt)
            answers.setdefault(sql, set()).add(_answer(rows[0]))
        res.attempt(f"query {kind}", one)


def warm_and_time(spark, res: Result, tracer, make, answers: dict) -> None:
    """N_WARMUP_QUERIES untimed queries, then N_QUERIES timed ones. The
    heap is settled first, so the operation's garbage and Spark's cleanup
    of its shuffles are not done, at a varying point, inside the queries."""
    settle_heap(spark)
    run_queries(spark, res, tracer, make(N_WARMUP_QUERIES), answers, timed=False)
    run_queries(spark, res, tracer, make(N_QUERIES), answers)


def check_answers(answers: dict, tables: dict) -> list[str]:
    """Every query answer equals the same query evaluated by duckdb over the
    pandas copies of the tables (views named as in Spark)."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, df in tables.items():
            con.register(name, df)
        errors = []
        for sql, got in answers.items():
            want = _answer(con.execute(sql.replace(" DIV ", " // ")).fetchone())
            if got != {want}:
                errors.append(f"query answer {sorted(got)} != {want}: {sql}")
        return errors
    finally:
        con.close()


def _stage_tables(out_dir: str) -> dict:
    return {f"imc_{s}": checks.read_table(os.path.join(out_dir, s))
            for s in ("points", "segments", "assignments", "tile_assignments")}


# ---------------------------------------------------------------- workloads

def _state_path(root: str, seed: int) -> str:
    tag = f"build-seed-{seed}-sf{inputs.PAGES_SF}-v{inputs.gen_pages.GEN_VERSION}"
    return os.path.join(root, ".perfbench", "state", f"{tag}.json")


def _record_digest(root: str, seed: int, digest: dict, res: Result):
    """Outputs of one seed must not change across runs in this checkout:
    compare with the digest an earlier run recorded, else record it."""
    path = _state_path(root, seed)
    if os.path.exists(path):
        with open(path) as f:
            res.check("digest vs earlier run", checks.compare_digest,
                      digest, json.load(f), "build vs earlier run")
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(digest, f)
    os.replace(path + ".tmp", path)


def _setup_inputs(make, *args):
    """Run input generation SETUP_REPEATS times; (median seconds, result)."""
    times, out = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = make(*args)
        times.append(time.perf_counter() - t0)
    return median(times), out


def run_build(spark, tracer, work, root, seed, seconds, t_spark) -> Result:
    res = Result()
    gen_s, pages_path = _setup_inputs(inputs.make_pages,
                                      os.path.join(work, "data"), seed)
    res.setup_s = t_spark + gen_s
    pages = spark.read.parquet(pages_path)
    layers.install(tracer)
    t_end = time.perf_counter() + seconds
    out = None
    while not res.op_s or time.perf_counter() < t_end:
        out = os.path.join(work, f"out{len(res.op_s)}")
        t0 = time.perf_counter()
        if res.attempt("build", pipeline.run, spark, pages, out, PARAMS) is None:
            break
        res.op_s.append(time.perf_counter() - t0)
    res.ctx.update(out_dir=out, ops=max(1, len(res.op_s)))
    answers: dict = {}
    if res.op_s:
        res.attempt("register views", sqlviews.register_stage_views, spark, out)
        rng = np.random.default_rng([seed, 31])
        warm_and_time(spark, res, tracer, lambda n: _spatial_queries(
            rng, range(inputs.n_venues()), n), answers)
    tracer.unwrap_all()
    res.memory_mb = memory_mb(spark)

    if res.op_s:
        digest = res.attempt("digest", checks.stage_digest, out)
        if digest:
            _record_digest(root, seed, digest, res)
        rng = np.random.default_rng([seed, 37])
        venues = sorted(int(v) for v in rng.choice(inputs.n_venues(), ORACLE_VENUES,
                                                    replace=False))
        res.check("venue oracle", checks.venue_oracle, out, venues, PARAMS)
        res.check("query answers", check_answers, answers, _stage_tables(out))
    return res


# query view -> corpus op whose output it serves
CORPUS_VIEWS = {"corpus_dedup": "dedup_clusters", "corpus_quality": "quality_scores",
                "corpus_ann_ivf": "ann_topk_ivf"}


def _corpus_op(name: str, docs, emb):
    mod, op = name.split(".")
    if mod == "similarity":
        return getattr(similarity, op)(emb, 5, 50)
    return getattr(textops, op)(docs)


def corpus_pass(spark, tracer, docs, emb, out_dir, res: Result) -> bool:
    """Every corpus op, each written to parquet; True if none failed."""
    ok = True
    for name in layers.CORPUS_OPS:
        def one(name=name):
            with tracer.span(name):
                _corpus_op(name, docs, emb).write.mode("overwrite").parquet(
                    os.path.join(out_dir, name.split(".")[1]))
            return True
        ok = res.attempt(name, one) is not None and ok
    return ok


def run_corpus(spark, tracer, work, root, seed, seconds, t_spark) -> Result:
    res = Result()
    gen_s, (docs_path, emb_path) = _setup_inputs(
        inputs.make_corpus, os.path.join(work, "data"), seed)
    res.setup_s = t_spark + gen_s
    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    out = os.path.join(work, "corpus")

    layers.install(tracer)
    t_end = time.perf_counter() + seconds
    while not res.op_s or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        if not corpus_pass(spark, tracer, docs, emb, out, res):
            break
        res.op_s.append(time.perf_counter() - t0)
    res.ctx.update(ops=max(1, len(res.op_s)))
    answers: dict = {}
    if res.op_s:
        with tracer.span("views.register"):
            for view, op in CORPUS_VIEWS.items():
                spark.read.parquet(os.path.join(out, op)).createOrReplaceTempView(view)
        rng = np.random.default_rng([seed, 31])
        warm_and_time(spark, res, tracer, lambda n: _corpus_queries(rng, n), answers)
    tracer.unwrap_all()
    res.memory_mb = memory_mb(spark)

    n_q = (inputs.N_VECS + 49) // 50
    res.check("row counts", checks.corpus_rows, out, {
        "quality_scores": inputs.N_DOCS, "dedup_clusters": inputs.N_DOCS,
        "boilerplate_scrub": inputs.N_DOCS, "substring_scrub": inputs.N_DOCS,
        "pack_sequences": inputs.N_DOCS, "top_terms": 10 * len(inputs.LANGS),
        "ann_topk_ivf": 5 * n_q, "ann_topk_pq": 5 * n_q})
    res.check("simhash pairs", checks.simhash_pairs, docs_path, out)
    res.check("dedup clusters", checks.dedup_invariants, out, inputs.N_DOCS)
    res.check("query answers", check_answers, answers, {
        view: checks.read_table(os.path.join(out, op))
        for view, op in CORPUS_VIEWS.items()})
    return res


WORKLOADS = {"build": run_build, "corpus": run_corpus}
