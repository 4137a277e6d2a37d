"""Closed-loop batch workload: one client runs a fixed list of registered
operator ids, in an order drawn from the seed, building each DataFrame
and fetching it with ``toPandas``, the fetch path ``tools/t2_mirror.py``
checks.

Run shape: set-up from process start -> untimed verification pass ->
untimed warm pass -> timed passes until the run's seconds are spent.  A
traced run also restarts the session twice after the first set-up, and
its timed passes alternate traced and untraced, so the tracing overhead
is measured inside the run."""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import common
from probes import ProcTree, SparkProbe, Tracer, engine_modules, median, self_times, tail

#: One pass of ``batch_mixed``.  The first four ids spend their time in
#: Spark execution and in pandas-UDF / block-kernel Python workers; the
#: last three spend theirs before the DataFrame exists (a stream replay,
#: the iterative connected-components loop, an eager staging build).
IDS = [
    "tpch_q1", "rec_item_item", "dedup_embed_cosine", "mm_image_pipeline",
    "stream_tumbling", "dedup_cluster", "layout_sorted_runs",
]

#: Set-ups in a traced run: the one from process start plus restarts.
SETUPS = 3
#: The warm-up pair that ends each set-up.
WARMUP = ("scan_parquet", "udf_scalar_pandas")


def _setup(corpus_dir: str):
    """One set-up: start (or restart) the session, check staging, and run
    the warm-up pair.  Returns (spark, {session_s, check_s, warmup_s})."""
    from recommend_spark.queries import QUERIES
    from recommend_spark.session import get_spark
    from tools.prewarm import _is_warm

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    if not _is_warm(corpus_dir):
        raise RuntimeError("staging is not warm")
    t2 = time.perf_counter()
    for qid in WARMUP:
        QUERIES[qid](spark, corpus_dir).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "check_s": t2 - t1, "warmup_s": t3 - t2}


def _install_tracer(tracer: Tracer) -> None:
    import recommend_spark.io as io
    import recommend_spark.streaming.replay as replay

    mods = engine_modules()
    tracer.wrap(io, "load_table", "io.load_table", also_in=mods)
    tracer.wrap(replay, "run_stream", "replay", also_in=mods)
    for fn in ("stats_memo", "disk_memo"):
        _wrap_memo(tracer, io, fn, mods)


def _wrap_memo(tracer: Tracer, io, fn: str, mods) -> None:
    """Span a memo and mark the span when its builder actually ran.  The
    builder is always the last positional argument of both memos."""
    orig = getattr(io, fn)
    name = f"io.{fn}"

    def wrapper(*args):
        *head, build = args

        def counted(*a, **k):
            if tracer.on and tracer._stack():
                tracer._stack()[-1]["miss"] = True
            return build(*a, **k)

        return tracer.span(name, orig, *head, counted)

    for mod in [io, *mods]:
        if getattr(mod, fn, None) is orig:
            setattr(mod, fn, wrapper)


def _layers(spans: list[dict], probe: SparkProbe) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    selfs = self_times(spans)
    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for s in spans:
        if "end" not in s:
            continue
        n, jobs = s["name"], s["job1"] - s["job0"]
        if n == "io.load_table":
            add("io.load_table.calls", 1)
            add("io.load_table.s", selfs[s["id"]])
            add("io.load_table.jobs", jobs)
        elif n == "io.stats_memo":
            add("io.stats_memo.calls", 1)
            add("io.stats_memo.misses", 1 if s.get("miss") else 0)
        elif n == "io.disk_memo":
            add("io.disk_memo.calls", 1)
            if s.get("miss"):
                add("io.disk_memo.builds", 1)
                add("io.disk_memo.build_s", s["end"] - s["start"])
        elif n == "replay":
            add("replay.calls", 1)
            add("replay.s", selfs[s["id"]])
        elif n == "query.build":
            add("query.build_s", selfs[s["id"]])
            add("query.build_jobs", jobs)
        elif n == "query.exec":
            add("query.exec_s", selfs[s["id"]])
            add("query.exec_jobs", jobs)
            tasks, failed = probe.tasks(s["job0"], s["job1"])
            add("query.tasks", tasks)
            add("query.failed_tasks", failed)
    return out


def _digest(pdf) -> str:
    from tools.t2_mirror import driver_canon

    return hashlib.sha256(repr(driver_canon(pdf)).encode()).hexdigest()


def _canon_check(qid, pdf, oracles, con, memo) -> str | None:
    """None when the output is right, else a one-line reason.

    Oracle ids are compared through ``tools/t2_mirror.driver_canon``
    against DuckDB on the same corpus.
    The oracle's answer depends only on its SQL and the fixed corpus, so
    it is computed once per checkout and kept in ``memo`` (some oracles
    are recursive CTEs that take tens of seconds)."""
    cols = sorted(pdf.columns)
    if qid in oracles:
        key = f"oracle:{hashlib.sha256(oracles[qid].encode()).hexdigest()[:16]}"
        if key not in memo:
            ref = con().execute(oracles[qid]).df()
            memo[key] = {"columns": sorted(ref.columns), "rows": len(ref), "digest": _digest(ref)}
        ref = memo[key]
        if cols != ref["columns"]:
            return f"columns {cols} != {ref['columns']}"
        if len(pdf) != ref["rows"]:
            return f"rows {len(pdf)} != {ref['rows']}"
        if _digest(pdf) != ref["digest"]:
            return "values differ from the DuckDB oracle"
        return None
    # rows-only: schema and a row count that repeats across runs
    shape = {"columns": [f"{c}:{pdf[c].dtype}" for c in cols], "rows": len(pdf), "digest": None}
    _digest(pdf)  # t2_mirror canons rows-only outputs too; it must not raise
    key = f"rows:{qid}"
    if key not in memo:
        memo[key] = shape
    elif memo[key] != shape:
        return f"rows-only shape {shape} != first seen {memo[key]}"
    return None


class _Ops:
    """Runs registered ids the way ``tools/t2_mirror.py`` does (build, then
    ``toPandas``) and counts attempts and failures."""

    def __init__(self, spark, corpus_dir: str, tracer: Tracer):
        from recommend_spark.queries import QUERIES

        self.queries, self.spark, self.corpus_dir = QUERIES, spark, corpus_dir
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def run(self, qid: str) -> dict:
        self.attempted += 1
        self.tracer.op = qid
        rec = {"id": qid}
        t0 = time.perf_counter()
        try:
            df = self.tracer.span("query.build", self.queries[qid], self.spark, self.corpus_dir)
            t1 = time.perf_counter()
            pdf = self.tracer.span("query.exec", df.toPandas)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, pdf=pdf)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.update(wall_s=time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:300])
            self.fail(f"{qid}: {rec['error']}")
        return rec


def _verify(ops: _Ops, order: list[str]) -> dict[str, tuple]:
    """Untimed verification pass (it also fills caches and warms the JIT).
    Returns each id's output shape, which every later pass must repeat."""
    import duckdb
    from recommend_spark.io import TABLES
    from recommend_spark.queries import ORACLES

    duck = []

    def con():
        if not duck:
            duck.append(duckdb.connect())
            for t in TABLES:
                duck[0].execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ops.corpus_dir}/{t}.parquet')"
                )
        return duck[0]

    memo_path = common.WORK / "corpus" / "checks.json"
    memo = json.loads(memo_path.read_text()) if memo_path.exists() else {}
    shapes = {}
    for qid in order:
        rec = ops.run(qid)
        if "pdf" not in rec:
            continue
        pdf = rec.pop("pdf")
        bad = _canon_check(qid, pdf, ORACLES, con, memo)
        if bad:
            ops.fail(f"{qid}: {bad}")
        shapes[qid] = (sorted(pdf.columns), len(pdf))
    memo_path.write_text(json.dumps(memo, indent=1))
    for c in duck:
        c.close()
    return shapes


def _check_shape(ops: _Ops, shapes: dict, rec: dict) -> None:
    """Count an output whose shape differs from the verified pass's."""
    pdf, shape = rec.pop("pdf", None), shapes.get(rec["id"])
    if pdf is not None and shape and shape != (sorted(pdf.columns), len(pdf)):
        ops.fail(f"{rec['id']}: output shape changed between passes")


def _timed(ops, shapes, rng, seconds, trace, tree, probe) -> list[dict]:
    """Timed passes until ``seconds`` are spent.  A traced run alternates
    untraced, traced, untraced, ... (at least three passes), so each traced
    pass sits between untraced ones."""
    tracer = ops.tracer
    passes = []
    t_start = time.perf_counter()
    while True:
        traced = trace and len(passes) % 2 == 1
        order = IDS[:]
        rng.shuffle(order)
        tracer.on = traced
        n_spans, n_batches = len(tracer.spans), len(probe.batches)
        cpu0, gc0 = tree.snapshot(), probe.gc_s()
        t0 = time.perf_counter()
        recs = [ops.run(qid) for qid in order]
        wall = time.perf_counter() - t0
        tracer.on = False
        p = {"wall_s": wall, "traced": traced, "cpu": tree.cpu_split(cpu0), "gc_s": probe.gc_s() - gc0}
        for rec in recs:
            _check_shape(ops, shapes, rec)
        p["ops"] = recs
        if traced:
            batches = probe.batches[n_batches:]
            p["layers"] = _layers(tracer.spans[n_spans:], probe)
            p["layers"]["stream.batches"] = len(batches)
            p["layers"]["stream.batch_s"] = sum(b[0] for b in batches) / 1e3
            p["layers"]["stream.state_rows"] = sum(b[1] for b in batches)
        passes.append(p)
        if time.perf_counter() - t_start >= seconds and (not trace or len(passes) >= 3):
            return passes


def run(workload: str, seed: int, seconds: float, trace: bool, t_proc: float):
    """One run of the batch workload; returns (result, detail)."""
    corpus_dir, gen_s = common.corpus()
    prep_s, prep = common.stage(corpus_dir)
    tree = ProcTree(os.getpid(), heap_log=common.heap_log).start()

    # set-up from process start; a traced run also times restarts
    spark, first = _setup(corpus_dir)
    setups = [{**first, "setup_s": time.time() - t_proc - gen_s - prep_s}]
    for _ in range(SETUPS - 1 if trace else 0):
        spark.stop()
        t0 = time.perf_counter()
        spark, again = _setup(corpus_dir)
        setups.append({**again, "setup_s": time.perf_counter() - t0})

    probe = SparkProbe(spark)
    tracer = Tracer(probe)
    if trace:
        probe.listen()
        _install_tracer(tracer)
    ops = _Ops(spark, corpus_dir, tracer)
    rng = random.Random(seed)
    t0 = time.perf_counter()
    shapes = _verify(ops, rng.sample(IDS, len(IDS)))
    # One more untimed pass: the JIT keeps compiling through the second
    # pass of a fresh JVM (its CPU per pass falls by a quarter until then).
    for rec in map(ops.run, rng.sample(IDS, len(IDS))):
        _check_shape(ops, shapes, rec)
    t1 = time.perf_counter()
    tree.reset_peaks()
    probe.reset_heap_peak()
    passes = _timed(ops, shapes, rng, seconds, trace, tree, probe)
    heap, heap_pools = probe.heap_mb(), probe.heap_peaks()
    heap_peak = sum(heap_pools.values())
    probe.close()
    tree.stop()
    tree.check_heap_logged()
    t2 = time.perf_counter()
    common.stop_spark(spark)
    phases = {"untimed_s": t1 - t0, "timed_s": t2 - t1, "stop_s": time.perf_counter() - t2}

    # -- metrics --------------------------------------------------------------
    plain = [p for p in passes if not p["traced"]]
    op_walls = [o["wall_s"] for p in passes for o in p["ops"]]
    e2e = {
        "setup_s": setups[0]["setup_s"],
        "pass_s": median([p["wall_s"] for p in plain]),
        "peak_mem_mb": (heap_peak + tree.peak_mem) / 2**20,
    }
    layers = {
        "cpu_s": median([sum(p["cpu"].values()) for p in plain]),
        "p50_s": median(op_walls),
        "goodput_rps": len(op_walls) / sum(p["wall_s"] for p in passes),
        "mem.heap_peak_mb": heap_peak / 2**20,
        "mem.offheap_mb": tree.peak_mem / 2**20,
        "mem.tree_rss_mb": tree.peak_rss / 2**20,
        "session.start_s": setups[0]["session_s"],
        "prewarm.check_s": median([s["check_s"] for s in setups]),
        "jvm.cpu_s": median([p["cpu"]["jvm"] for p in plain]),
        "pyworker.cpu_s": median([p["cpu"]["pyworker"] for p in plain]),
        "driver_py.cpu_s": median([p["cpu"]["driver_py"] for p in plain]),
        "jvm.gc_s": median([p["gc_s"] for p in plain]),
        "error_rate": ops.failed / ops.attempted,
    }
    traced = [p for p in passes if p["traced"]]
    if traced:
        for k in set().union(*(p["layers"] for p in traced)):
            layers[k] = median([p["layers"].get(k, 0.0) for p in traced])
        layers["trace.overhead"] = median([p["wall_s"] for p in traced]) / e2e["pass_s"] - 1
        layers["setup.restart_s"] = median([s["setup_s"] for s in setups[1:]])
        (common.WORK / "traces").mkdir(parents=True, exist_ok=True)
        (common.WORK / "traces" / f"{workload}_seed{seed}.json").write_text(
            json.dumps({"spans": tracer.spans}, default=str)
        )
    tail_v, tail_p, tail_n = tail(op_walls)
    context = common.host_context(seed, heap)
    detail = {
        "context": {**context, "workload": workload, "ids": IDS},
        "prep": {"corpus_gen_s": gen_s, "stage_s_this_run": prep_s, **prep},
        "setups": setups,
        "phases": phases,
        "heap_peaks": heap_pools,
        "passes": passes,
        "errors": ops.errors,
        "summary": {
            "workload": f"{workload} (closed loop, 1 client, {len(IDS)} ids/pass, "
            f"{len(passes)} timed passes, seed {seed})",
            "context": json.dumps(context),
            "error_rate": f"{ops.failed}/{ops.attempted}",
            "p50_s": f"{layers['p50_s']:.4f} s over {len(op_walls)} ops",
            "tail_s": f"{tail_v:.4f} s (p{tail_p}, n={tail_n})"
            if tail_v is not None
            else f"n/a: fewer than 11 ops (n={tail_n})",
            "errors": "; ".join(ops.errors[:5]) or "none",
        },
    }
    result = {"attempted": ops.attempted, "failed": ops.failed, "e2e": e2e, "layers": layers}
    return result, detail
