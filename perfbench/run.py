"""End-to-end benchmark of ``sage_spark.pipeline.run_pipeline``.

    python3 perfbench/run.py --workload kg_fresh --seed 1 --seconds 30 --trace 0

Runs whole job submissions (``sample.py``, one process each) for about
``--seconds`` seconds, at least one, checks every submission's outputs and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
makes one traced submission and reports the per-layer ones.
See README.md in this directory for the workloads and metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import workloads as W  # noqa: E402

sys.path.insert(0, str(W.ROOT))

SAMPLE_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
RUN_BUDGET_S = 175  # a run (after any build) ends within this many seconds


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- processes ------------------------------------------------------------------
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM once its driver has exited, the
    PySpark worker daemon, which moves itself into a process group of its
    own) children of this process, so that reap_descendants finds them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reap_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended and been reaped: SIGTERM first, SIGKILL after grace_s."""
    sig, deadline = signal.SIGTERM, time.time() + grace_s
    while True:
        while True:  # reap whatever has exited (orphans are our children)
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = descendants()
        if not alive:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_child(args: list[str], timeout: float, log: Path) -> int | None:
    """Run a sample process; on exit or timeout, stop whatever it left
    behind (the JVM, Python workers) and wait until all of it is gone.
    Returns the exit code, None on timeout."""
    with log.open("ab") as out:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "sample.py"), *args],
            env=W.session_env(), stdout=out, stderr=out,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    reap_descendants()
    return code


BURN = """
import hashlib, sys, time
buf, n, end = b"x" * 65536, 0, time.perf_counter() + float(sys.argv[1])
while time.perf_counter() < end:
    hashlib.sha256(buf).digest()
    n += 1
print(n)
"""


def contention_control(procs: int, seconds: float = 0.25) -> float:
    """Aggregate sha256 rate of ``procs`` processes over one, per process:
    ~1.0 when the host delivers every core. Recorded for information only;
    it never drops or repeats a sample."""

    def rate(n: int) -> float:
        ps = [
            subprocess.Popen([sys.executable, "-c", BURN, str(seconds)], stdout=subprocess.PIPE, text=True)
            for _ in range(n)
        ]
        return sum(int(p.communicate()[0]) for p in ps)

    return rate(procs) / rate(1) / procs


def host_context(cpus: int) -> dict:
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=W.ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "git_commit": commit,
        "source_key": W.cache_key(),
        "nproc": cpus,
        "spark_version": pyspark.__version__,
        "driver_mem": W.driver_mem(),
        "cpu_control": round(contention_control(cpus), 3),
    }


# -- samples ----------------------------------------------------------------------
def build_base(log: Path) -> None:
    shutil.rmtree(W.WORK / "cache", ignore_errors=True)  # stores built from other sources
    out = W.WORK / "build.json"
    code = run_child(["--build", "--out", str(out)], BUILD_TIMEOUT_S, log)
    if code != 0:
        fail(f"building the base store failed (exit {code}); see {log}")


def one_sample(workload: str, seed: int, trace: bool, log: Path, deadline: float) -> dict | None:
    out = W.WORK / "sample.json"
    out.unlink(missing_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--trace", str(int(trace)), "--out", str(out)]
    code = run_child(args, min(SAMPLE_TIMEOUT_S, deadline - time.time()), log)
    if code != 0 or not out.exists():
        print(f"perfbench: sample {workload}/{seed} exited {code}; see {log}", file=sys.stderr)
        return None
    rec = json.loads(out.read_text())
    for p in rec["problems"]:
        print(f"perfbench: {workload}/{seed} check failed: {p[:2000]}", file=sys.stderr)
    return rec


def end_to_end(samples: list[dict]) -> dict:
    good = [s for s in samples if s["ok"]] or samples
    wall = statistics.median(s["wall_s"] for s in good)
    return {
        "wall_s": {"value": wall, "unit": "s"},
        "docs_per_s": {"value": good[0]["docs"] / wall, "unit": "docs/s"},
        "setup_s": {"value": statistics.median(s["setup_s"] for s in good), "unit": "s"},
        "store_mb": {"value": statistics.median(s["store_mb"] for s in good), "unit": "MB"},
    }


def per_layer(plain_wall: float, traced: dict, cpus: int) -> dict:
    from tracing import COMPUTE_SPANS, SPANS

    tr = traced["trace"]
    ledger, walls = tr["ledger"], tr["span_walls"]
    spans = ledger["spans"]
    m: dict[str, tuple[float, str]] = {}

    def span(name: str, key: str) -> float:
        return spans.get(name, {}).get(key, 0)

    for name in SPANS:
        m[f"span.{name}.wall_s"] = (walls.get(name, 0.0), "s")
        m[f"span.{name}.jobs"] = (span(name, "jobs"), "count")
        m[f"span.{name}.executor_run_s"] = (span(name, "executor_run_s"), "s")
    for name in COMPUTE_SPANS:
        for key in ("shuffle_write_bytes", "spill_bytes", "output_bytes"):
            m[f"span.{name}.{key}"] = (span(name, key), "bytes")

    wall = traced["wall_s"]
    executor = sum(s["executor_run_s"] for s in spans.values())
    # driver time outside any job; with split.* below it sums to the wall
    m["pipeline.other_s"] = (wall - ledger["job_union_s"], "s")
    m["spark.jobs"] = (ledger["jobs"], "count")
    m["spark.tasks"] = (sum(s["tasks"] for s in spans.values()), "count")
    m["spark.jvm_gc_s"] = (sum(s["jvm_gc_s"] for s in spans.values()), "s")
    m["spark.slot_busy_frac"] = (executor / (wall * cpus), "ratio")
    m["trace.unassigned_jobs"] = (ledger["unassigned_jobs"], "count")

    written = sum(span(f"upsert.{t}", "output_records") for t in tr["changed_rows"])
    changed = sum(tr["changed_rows"].values())
    m["store.rewrite_rows_per_update_row"] = (written / max(changed, 1), "ratio")
    m["store.files_per_bucket"] = (traced["files_per_bucket"], "count")

    kms, rows = tr["kernel_ms"], tr["kernel_rows"]
    m["kernel.pagetext.ms_per_doc"] = (kms["pagetext"], "ms")
    m["kernel.chunks.ms_per_doc"] = (kms["chunks"], "ms")
    m["kernel.claims.ms_per_doc"] = (kms["claims"], "ms")
    m["kernel.facts.ms_per_claim"] = (kms["facts"], "ms")
    kernel_s = {k: kms[k] * rows[k] / 1000.0 for k in kms}
    # each kernel runs inside one span; the rest of that span's executor
    # time is Arrow transport plus the span's own scan, shuffle and write
    stage_of = {"extract": "pagetext", "claims": "claims", "upsert.chunks": "chunks", "canonicalize": "facts"}
    transport = {name: span(name, "executor_run_s") - kernel_s[k] for name, k in stage_of.items()}
    for name, value in transport.items():
        m[f"transport.{name.replace('.', '_')}_s"] = (value, "s")

    jobs_s = ledger["job_union_s"]
    k_total, t_total = sum(kernel_s.values()), sum(transport.values())
    share = jobs_s / executor if executor else 0.0
    m["split.kernel_s"] = (k_total * share, "s")
    m["split.transport_s"] = (t_total * share, "s")
    m["split.shuffle_write_s"] = ((executor - k_total - t_total) * share, "s")
    m["mem.peak_rss_mb"] = (traced["peak_rss_mb"], "MB")
    m["trace.wall_s"] = (wall, "s")
    m["trace.overhead_s"] = (wall - plain_wall, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (W.ROOT / "sage_spark" / "pipeline.py").is_file():
        fail(f"no sage_spark package next to {HERE.name}/; run from a full checkout")

    started = time.time()
    become_subreaper()
    W.WORK.mkdir(exist_ok=True)
    log = W.WORK / "samples.log"
    log.write_text("")
    cpus = W.session_cpus()
    context = host_context(cpus)
    if not (W.cache_dir() / "meta.json").exists():
        build_base(log)
        started = time.time()  # the first run in a checkout may also build
    deadline = started + RUN_BUDGET_S

    samples: list[dict | None] = []
    if args.trace:
        # a plain submission of the same seed right before the traced one is
        # the reference for the tracing overhead
        for traced in (False, True):
            samples.append(one_sample(args.workload, args.seed, traced, log, deadline))
    else:
        measure_start = time.time()
        while True:
            t0 = time.time()
            samples.append(one_sample(args.workload, args.seed, False, log, deadline))
            took = time.time() - t0
            if time.time() - measure_start >= args.seconds or time.time() + took > deadline:
                break
    done = [s for s in samples if s is not None]
    failed = sum(1 for s in samples if s is None or not s["ok"])
    context["samples"] = [
        {k: s.get(k) for k in ("seed", "wall_s", "setup_s", "peak_rss_mb", "ok", "tables")} if s else None for s in samples
    ]
    print(json.dumps({"context": context}))
    if args.trace:
        if None in samples:
            fail("a trace-run submission did not finish; no per-layer metrics")
        metrics = per_layer(samples[0]["wall_s"], samples[1], cpus)
    else:
        if not done:
            fail("no submission finished; no metrics")
        metrics = end_to_end(done)
    shutil.rmtree(W.WORK / "sample", ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(samples), "failed": failed, "metrics": metrics,
    }))


def _terminated(signum, frame) -> None:
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminated)
    try:
        main()
    finally:
        reap_descendants()
