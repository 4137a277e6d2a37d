"""Open-loop serving workload over HTTP.

The benchmark process is the load generator.  It starts this same file
with ``--server`` as a child: that process owns the Spark session,
warm-starts ``RecommendationService.load`` from a saved model, and serves
it with ``http_api.serve``.  The model is fitted once per engine revision
by another child (``--fit``), as untimed preparation, so that every
server starts cold.  The generator
then sends a seeded schedule at a fixed rate over at most ``CONNECTIONS``
keep-alive connections and times every request from when it was due.

Control protocol on the server's stdin/stdout, one JSON object a line:
the server prints ``{"ready": ...}`` once listening (a traced run first
reloads the service twice more, to time ``load``); ``mark`` starts the
measured window, ``stats`` returns the window's server-side record, and
end-of-input shuts the server down.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import random
import shutil
import subprocess
import sys
import threading
import time

import common
from probes import ProcTree, SparkProbe, Tracer, engine_modules, median, self_times, tail

#: Offered load, fixed from a capacity probe on a 4-core host: an
#: unqueued top-N request takes ~2.5 s and ~3 cores once appends exist, so
#: one request every 3.3 s rarely queues behind another.
RATE = 0.3
#: A GET slower than this (from its due time) does not count as goodput.
LIMIT_S = 6.0
CONNECTIONS = 4
TOP_N = 10
#: Request kinds in schedule order, 60% top-N, 30% per-item, 10% POST.
#: A fixed interleave (the seed draws users and items) keeps the mix of
#: a short window identical across seeds.
KINDS = ("top", "item", "top", "top", "post", "top", "item", "top", "item", "top")
ZIPF_S = 1.1
RELOADS = 3
#: Untimed top-N reads before the window.  Top-N latency keeps falling
#: over a fresh server's first few reads while the JIT compiles.
WARM_TOPS = 4


# -- server process ---------------------------------------------------------------


def _server(corpus_dir: str, model_dir: str, trace: bool) -> None:
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # engine prints must not corrupt the protocol stream
    sys.stdout = sys.stderr

    from recommend_spark import http_api
    from recommend_spark import serving as serving_mod
    from recommend_spark.serving import RecommendationService
    from recommend_spark.session import get_spark

    tree = ProcTree(os.getpid(), heap_log=common.heap_log).start()
    t0 = time.perf_counter()
    spark = get_spark("perfbench-serve")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    probe = SparkProbe(spark)

    def start():
        t0 = time.perf_counter()
        svc = RecommendationService.load(spark, corpus_dir, model_dir)
        srv, port = http_api.serve(svc)
        return svc, srv, port, time.perf_counter() - t0

    svc, srv, port, load_s = start()
    first_ready = time.time()
    setups = [{"session_s": session_s, "load_s": load_s}]
    for _ in range(RELOADS - 1 if trace else 0):
        srv.shutdown()
        srv.server_close()
        svc, srv, port, load_s = start()
        setups.append({"load_s": load_s})

    tracer = Tracer()
    if trace:
        tracer.on = True
        cls = RecommendationService
        for fn in ("top_ratings", "ratings_for_items", "add_ratings"):
            tracer.wrap(cls, fn, f"serving.{fn}")
        tracer.wrap(serving_mod, "foldin_factors", "serving.foldin")
        import recommend_spark.io as io

        tracer.wrap(io, "load_table", "io.load_table", also_in=engine_modules())

    print(
        json.dumps(
            {
                "ready": port,
                "first_ready": first_ready,
                "setups": setups,
                "heap_mb": probe.heap_mb(),
            }
        ),
        file=proto,
    )
    mark = None
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            tree.reset_peaks()
            probe.reset_heap_peak()
            mark = (tree.snapshot(), probe.gc_s(), len(tracer.spans), tracer.overhead_s)
            print(json.dumps({"ok": True}), file=proto)
        elif cmd == "stats":
            tree.check_heap_logged()
            cpu0, gc0, n0, ov0 = mark
            spans = tracer.spans[n0:]
            selfs = self_times(spans)
            per: dict[str, list[float]] = {}
            for s in spans:
                if "end" in s:
                    per.setdefault(s["name"], []).append(s["end"] - s["start"])
            roots = sum(s["end"] - s["start"] for s in spans if "end" in s and s["parent"] is None)
            print(
                json.dumps(
                    {
                        "cpu": tree.cpu_split(cpu0),
                        "gc_s": probe.gc_s() - gc0,
                        "heap_peaks": probe.heap_peaks(),
                        "peak_mem": tree.peak_mem,
                        "peak_rss": tree.peak_rss,
                        "backlog": svc.pending_foldin_backlog,
                        "calls": per,
                        "load_table_self_s": sum(
                            selfs[s["id"]] for s in spans if s["name"] == "io.load_table" and "end" in s
                        ),
                        "trace_overhead": (tracer.overhead_s - ov0) / roots if roots else 0.0,
                    }
                ),
                file=proto,
            )
    srv.shutdown()
    srv.server_close()
    tree.stop()
    common.stop_spark(spark)


# -- load generator ----------------------------------------------------------------


class _Client:
    """Up to CONNECTIONS worker threads, each with one keep-alive
    connection, draining a queue of due requests."""

    def __init__(self, port: int):
        self.port = port
        self.q: queue.Queue = queue.Queue()
        self.done: list[dict] = []
        self._lock = threading.Lock()
        self.threads = [threading.Thread(target=self._work, daemon=True) for _ in range(CONNECTIONS)]
        for t in self.threads:
            t.start()

    def _work(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        while True:
            req = self.q.get()
            if req is None:
                conn.close()
                return
            req["sent"] = time.perf_counter()
            try:
                body = json.dumps(req["body"]) if "body" in req else None
                conn.request(req["method"], req["path"], body=body)
                resp = conn.getresponse()
                req["status"], req["payload"] = resp.status, json.loads(resp.read() or b"null")
            except Exception as e:  # noqa: BLE001 — counted as a failed request
                req["status"], req["error"] = 0, f"{type(e).__name__}: {e}"
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            req["end"] = time.perf_counter()
            with self._lock:
                self.done.append(req)

    def call(self, method: str, path: str, body=None) -> dict:
        """Synchronous request (verification phase)."""
        req = {"method": method, "path": path, "due": time.perf_counter()}
        if body is not None:
            req["body"] = body
        n = len(self.done)
        self.q.put(req)
        while len(self.done) == n:
            time.sleep(0.005)
        return req

    def close(self) -> None:
        for _ in self.threads:
            self.q.put(None)
        for t in self.threads:
            t.join(timeout=70)


def _corpus_facts(corpus_dir: str, min_audience: int):
    """Rated users, the popular item set and each user's seen items, from
    the corpus itself (the same definition the service serves)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT o_custkey AS u, l_partkey AS i
        FROM read_parquet('{corpus_dir}/lineitem.parquet') l
        JOIN read_parquet('{corpus_dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2"""
    ).fetchall()
    con.close()
    seen: dict[int, set] = {}
    audience: dict[int, int] = {}
    for u, i in rows:
        seen.setdefault(u, set()).add(i)
        audience[i] = audience.get(i, 0) + 1
    popular = {i for i, n in audience.items() if n >= min_audience}
    return sorted(seen), popular, seen


def _schedule(rng: random.Random, users: list[int], items: list[int], seconds: float) -> list[dict]:
    order = users[:]
    rng.shuffle(order)  # which users are hot is drawn by the seed
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(order))]
    out = []
    for k in range(max(1, int(seconds * RATE))):
        kind = KINDS[k % len(KINDS)]
        u = rng.choices(order, weights)[0]
        req = {"kind": kind, "offset": k / RATE, "user": u}
        if kind == "top":
            req.update(method="GET", path=f"/{u}/ratings/top/{TOP_N}")
        elif kind == "item":
            it = rng.choice(items)
            req.update(method="GET", path=f"/{u}/ratings/{it}", item=it)
        else:
            pairs = [[rng.choice(items), float(rng.randint(1, 5))] for _ in range(rng.randint(1, 5))]
            req.update(method="POST", path=f"/{u}/ratings", body=pairs)
        out.append(req)
    return out


def _check(req: dict, popular: set, seen: dict) -> str | None:
    if req.get("status") != 200:
        return f"HTTP {req.get('status')} {req.get('error', req.get('payload'))}"[:200]
    p = req["payload"]
    if req["kind"] == "top":
        if not isinstance(p, list) or not 0 < len(p) <= TOP_N:
            return f"top-N size {len(p) if isinstance(p, list) else p}"
        ids = [r["item_id"] for r in p]
        scores = [r["score"] for r in p]
        if any(i not in popular for i in ids):
            return "top-N holds an item below the popularity rule"
        if any(i in seen.get(req["user"], ()) for i in ids):
            return "top-N holds an item the user already rated"
        if scores != sorted(scores, reverse=True):
            return "top-N is not sorted by score"
    elif req["kind"] == "item":
        if not isinstance(p, list) or len(p) != 1 or p[0]["item_id"] != req["item"]:
            return f"per-item answer {p}"
    elif not isinstance(p, dict) or p.get("accepted") != len(req["body"]):
        return f"POST answer {p}"
    return None


def _fit(corpus_dir: str, model_dir: str) -> None:
    from recommend_spark.serving import RecommendationService
    from recommend_spark.session import get_spark

    spark = get_spark("perfbench-fit")
    tmp = f"{model_dir}.{os.getpid()}.tmp"
    RecommendationService(spark, corpus_dir).save(tmp)
    shutil.rmtree(model_dir, ignore_errors=True)
    os.replace(tmp, model_dir)
    open(os.path.join(model_dir, "_DONE"), "w").close()
    common.stop_spark(spark)


def run(seed: int, seconds: float, trace: bool, t_proc: float):
    corpus_dir, gen_s = common.corpus()
    model_dir = common.stage_dir() / "model"
    model_dir.parent.mkdir(parents=True, exist_ok=True)
    fit_s = 0.0
    if not (model_dir / "_DONE").exists():
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, __file__, "--fit", corpus_dir, str(model_dir)],
            stdout=sys.stderr,
            cwd=common.ROOT,
            check=True,
            timeout=600,
        )
        fit_s = time.perf_counter() - t0
    from recommend_spark.serving import MIN_AUDIENCE

    server = subprocess.Popen(
        [sys.executable, __file__, "--server", corpus_dir, str(model_dir), str(int(trace))],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        cwd=common.ROOT,
    )
    try:
        prep = {"corpus_gen_s": gen_s, "model_fit_s": fit_s}
        return _drive(server, seed, seconds, trace, t_proc, prep, corpus_dir, MIN_AUDIENCE)
    finally:
        if server.stdin and not server.stdin.closed:
            server.stdin.close()
        try:
            server.wait(timeout=40)
        except subprocess.TimeoutExpired:
            server.kill()
            server.wait()


def _ask(server, cmd: str | None = None) -> dict:
    if cmd:
        server.stdin.write(cmd + "\n")
        server.stdin.flush()
    line = server.stdout.readline()
    if not line:
        raise RuntimeError("serving process exited")
    return json.loads(line)


def _drive(server, seed, seconds, trace, t_proc, prep, corpus_dir, min_audience):
    users, popular, seen = _corpus_facts(corpus_dir, min_audience)
    ready = _ask(server)
    setups = ready["setups"]
    setup_s = ready["first_ready"] - t_proc - sum(prep.values())
    client = _Client(ready["ready"])
    attempted = failed = 0
    errors: list[str] = []

    def fail(msg):
        nonlocal failed
        failed += 1
        errors.append(msg)

    # -- untimed verification: warms the path and proves a POST is served --
    rng = random.Random(seed)
    items = sorted(popular)
    for u in rng.sample(users, WARM_TOPS):  # the first reads of a session are slow
        first = client.call("GET", f"/{u}/ratings/top/{TOP_N}")
        first.update(kind="top", user=u)
        attempted += 1
        bad = _check(first, popular, seen)
        if bad:
            fail(f"verify {first['path']}: {bad}")
    if not bad:
        # the top-N answer already holds the item's score before the POST
        x, before = first["payload"][0]["item_id"], first["payload"][0]["score"]
        post = client.call("POST", f"/{u}/ratings", body=[[x, 5.0]])
        after = client.call("GET", f"/{u}/ratings/{x}")
        post.update(kind="post", user=u)
        after.update(kind="item", user=u, item=x)
        for req in (post, after):
            attempted += 1
            bad = _check(req, popular, seen)
            if bad:
                fail(f"verify {req['path']}: {bad}")
        if not bad and (not after["payload"] or after["payload"][0]["score"] == before):
            fail(f"POST did not move user {u}'s score for item {x}")

    # -- timed open-loop window ---------------------------------------------
    sched = _schedule(rng, users, items, seconds)
    _ask(server, "mark")
    client.done.clear()
    t0 = time.perf_counter()
    for req in sched:
        req["due"] = t0 + req["offset"]
        delay = req["due"] - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        client.q.put(req)
    t_end = t0 + seconds
    time.sleep(max(0.0, t_end - time.perf_counter()))
    in_flight_end = sum(1 for r in sched if r["due"] <= t_end and r.get("end", 1e18) > t_end)
    deadline = time.perf_counter() + 90
    while len(client.done) < len(sched) and time.perf_counter() < deadline:
        time.sleep(0.01)
    stats = _ask(server, "stats")
    client.close()

    for req in sched:
        attempted += 1
        if "end" not in req:
            fail(f"{req['path']}: no answer within the drain deadline")
            continue
        bad = _check(req, popular, seen)
        if bad:
            fail(f"{req['path']}: {bad}")
            req["failed"] = True
    done = [r for r in sched if "end" in r]
    lat = {k: [r["end"] - r["due"] for r in done if r["kind"] == k] for k in set(KINDS)}
    reads = lat["top"] + lat["item"]
    good = sum(1 for r in done if not r.get("failed") and r["end"] - r["due"] <= LIMIT_S)
    calls = stats["calls"]
    svc_read = calls.get("serving.top_ratings", []) + calls.get("serving.ratings_for_items", [])
    sent_read = [r["end"] - r["sent"] for r in done if r["kind"] != "post"]
    tail_v, tail_p, tail_n = tail(reads)
    heap_peak = sum(stats["heap_peaks"].values())
    e2e = {
        "setup_s": setup_s,
        # service time of the whole schedule: each request from its due
        # time to its answer (the drain deadline for one never answered)
        "pass_s": sum(r.get("end", deadline) - r["due"] for r in sched),
        "peak_mem_mb": (heap_peak + stats["peak_mem"]) / 2**20,
    }
    layers = {
        "cpu_s": sum(stats["cpu"].values()),
        "p50_s": median(reads),
        "goodput_rps": good / seconds,
        "mem.heap_peak_mb": heap_peak / 2**20,
        "mem.offheap_mb": stats["peak_mem"] / 2**20,
        "mem.tree_rss_mb": stats["peak_rss"] / 2**20,
        "session.start_s": setups[0]["session_s"],
        "serving.load_s": median([s["load_s"] for s in setups]),
        "jvm.cpu_s": stats["cpu"]["jvm"],
        "pyworker.cpu_s": stats["cpu"]["pyworker"],
        "driver_py.cpu_s": stats["cpu"]["driver_py"],
        "jvm.gc_s": stats["gc_s"],
        "top_p50_s": median(lat["top"]),
        "item_p50_s": median(lat["item"]),
        "read_tail_s": tail_v if tail_v is not None else max(reads or [0.0]),
        "serving.backlog_rows": stats["backlog"],
        "http.post_s": median([r["end"] - r["sent"] for r in done if r["kind"] == "post"]),
        "loadgen.late_s": max([r["sent"] - r["due"] for r in done] or [0.0]),
        "loadgen.in_flight_end": in_flight_end,
        "error_rate": failed / attempted,
    }
    if trace:
        for name in ("top_ratings", "ratings_for_items", "add_ratings"):
            layers[f"serving.{name}.s"] = median(calls.get(f"serving.{name}", []))
        layers["serving.foldin.s"] = median(calls.get("serving.foldin", []))
        layers["http.overhead_s"] = median(sent_read) - median(svc_read) if svc_read else 0.0
        layers["io.load_table.calls"] = len(calls.get("io.load_table", []))
        layers["io.load_table.s"] = stats["load_table_self_s"]
        layers["trace.overhead"] = stats["trace_overhead"]
    context = common.host_context(
        seed, ready["heap_mb"], rate_rps=RATE, limit_s=LIMIT_S, connections=CONNECTIONS
    )
    detail = {
        "context": context,
        "prep": prep,
        "setups": setups,
        "requests": [
            {k: r.get(k) for k in ("kind", "path", "due", "sent", "end", "status")} for r in sched
        ],
        "server": stats,
        "errors": errors,
        "summary": {
            "workload": f"serve_mixed (open loop {RATE}/s for {seconds:g} s, "
            f"{len(sched)} requests, <= {CONNECTIONS} connections, seed {seed})",
            "context": json.dumps(context),
            "error_rate": f"{failed}/{attempted}",
            "top_p50_s": f"{layers['top_p50_s']:.4f} s (n={len(lat['top'])})",
            "item_p50_s": f"{layers['item_p50_s']:.4f} s (n={len(lat['item'])})",
            "read_tail_s": f"{tail_v:.4f} s (p{tail_p}, n={tail_n})"
            if tail_v is not None
            else f"n/a: fewer than 11 reads (n={tail_n}); max {layers['read_tail_s']:.4f} s",
            "goodput_rps": f"{layers['goodput_rps']:.4f} /s within {LIMIT_S} s",
            "errors": "; ".join(errors[:5]) or "none",
        },
    }
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers}, detail


if __name__ == "__main__" and len(sys.argv) > 1:
    sys.path.insert(0, str(common.ROOT))
    if sys.argv[1] == "--server":
        _server(sys.argv[2], sys.argv[3], sys.argv[4] == "1")
    elif sys.argv[1] == "--fit":
        _fit(sys.argv[2], sys.argv[3])
