"""Run context shared by the batch and serve workloads: the checkout
layout, the environment every Spark process of a run gets, per-revision
staging, process clean-up and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import shlex
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"

#: Corpus scale every workload reads (lineitem ~60k rows).
SF = 0.01
#: Cores and driver heap given to Spark, fixed so that runs on hosts with
#: more cores or RAM measure the same configuration.
CPUS = 4
DRIVER_MEM = "2g"

REQUIRED = ("recommend_spark/__init__.py", "tools/prewarm.py", "tools/t2_mirror.py")


def check_checkout() -> None:
    """Exit non-zero unless the engine sources sit beside the benchmark."""
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        sys.stderr.write(f"perfbench: not a checkout of the engine, missing {missing}\n")
        raise SystemExit(2)


def source_hash() -> str:
    """Digest of every engine source file, the staging tool and the corpus
    generator: staged artifacts and the saved model are keyed on it, so a
    changed builder never reads another revision's artifacts."""
    h = hashlib.sha256()
    files = sorted((ROOT / "recommend_spark").rglob("*.py")) + [
        ROOT / "tools" / "prewarm.py",
        BENCH / "fixtures.py",
    ]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return f"{h.hexdigest()[:16]}_sf{SF}"


def stage_dir() -> Path:
    return WORK / f"stage-{source_hash()}"


def configure_env(run_tmp: Path) -> None:
    """Environment for this process and every Spark process it starts.

    ``PYTHONPATH`` makes the checkout importable by Spark's Python
    workers wherever the benchmark is launched from; all scratch, spill
    and warehouse paths stay inside the checkout."""
    run_tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        PYTHONPATH=":".join(dict.fromkeys(paths)),
        RS_ART_ROOT=str(stage_dir() / "art"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(run_tmp / "spark"),
        TMPDIR=str(run_tmp),
        # ``defaultJavaOptions`` is prepended to the engine's own
        # ``extraJavaOptions``.  The driver JVM logs its heap's address
        # range, so ``probes.ProcTree`` can tell heap pages from the rest.
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={run_tmp / 'warehouse'}",
                "--conf "
                + shlex.quote(
                    f"spark.driver.defaultJavaOptions=-Djava.io.tmpdir={run_tmp}"
                    f" -Xlog:gc+heap+coops=debug:file={run_tmp}/jvm-heap-%p.log"
                ),
                "pyspark-shell",
            ]
        ),
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def heap_log(pid: int) -> str:
    """Where the driver JVM ``pid`` logged its heap address range."""
    return os.path.join(os.environ["TMPDIR"], f"jvm-heap-{pid}.log")


def corpus() -> tuple[str, float]:
    """(corpus dir, seconds spent generating it in this run)."""
    import fixtures

    t0 = time.perf_counter()
    d = fixtures.ensure(WORK / "corpus", SF)
    return d, time.perf_counter() - t0


def stage(corpus_dir: str) -> tuple[float, dict]:
    """Stage the corpus once per engine revision with the engine's own
    tool (``tools/prewarm.py``) in a child process.  Returns (seconds
    spent here, prep record); the record keeps the per-builder walls of
    the staging run that built this revision's artifacts."""
    st = stage_dir()
    rec_path = st / "prep.json"
    if rec_path.exists():
        return 0.0, json.loads(rec_path.read_text())
    t0 = time.perf_counter()
    (st / "art").mkdir(parents=True, exist_ok=True)
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "prewarm.py"), corpus_dir],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=800,
    )
    wall = time.perf_counter() - t0
    builders = {}
    for line in out.stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[2].endswith("s"):
            try:
                builders[parts[1]] = float(parts[2][:-1])
            except ValueError:
                pass
    if out.returncode != 0 or "ERR" in out.stdout:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise RuntimeError(f"staging failed (exit {out.returncode})")
    art_bytes = sum(f.stat().st_size for f in (st / "art").rglob("*") if f.is_file())
    rec = {"stage_s": wall, "artifact_mb": art_bytes / 2**20, "builders_s": builders}
    rec_path.write_text(json.dumps(rec, indent=1))
    return wall, rec


def host_context(seed: int, heap_mb: float | None, **extra) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "driver_heap_mb": heap_mb,
        "seed": seed,
        "sf": SF,
        **extra,
    }


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Kill and wait for any process this run left behind."""
    import signal

    from probes import descendants

    for pid in reversed(descendants(os.getpid())):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if not descendants(os.getpid()):
                return
            time.sleep(0.05)


def emit(result: dict, detail: dict, name: str) -> None:
    """Write the run's full record under the work dir, print a readable
    summary, and print the result object as the last stdout line."""
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{name}.json").write_text(json.dumps({**result, "detail": detail}, indent=1))
    summary = detail.get("summary", {})
    for k, v in summary.items():
        print(f"# {k}: {v}")
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
