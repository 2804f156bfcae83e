"""One job submission: start a session, set up, time one ``run_pipeline``
call, check its outputs, write the measurements as JSON.

    python3 perfbench/sample.py --workload kg_fresh --seed 3 --trace 0 --out r.json
    python3 perfbench/sample.py --build --out meta.json

Each sample is its own process, so every timed call pays what a
``jobs/run_kg.py`` submission pays: a new JVM, new Python workers and cold
code caches. ``--build`` creates the cached base store that the
``kg_incremental`` and ``kg_resume`` workloads start from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import workloads as W  # noqa: E402

sys.path.insert(0, str(W.ROOT))

import oracle  # noqa: E402
from tracing import TABLES, TracingStore, parse_event_log  # noqa: E402


# -- process-tree memory from /proc -------------------------------------------
def tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            Path(f"/proc/{pid}/clear_refs").write_text("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def files_per_bucket(store: Path) -> float:
    dirs = [d for d in store.glob("*/__bucket=*") if d.is_dir()]
    files = sum(len(list(d.glob("*.parquet"))) for d in dirs)
    return files / max(len(dirs), 1)


# -- session ------------------------------------------------------------------
def start_session(app: str, event_log: Path | None):
    from sage_spark.session import build_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_spark(app_name=app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark) -> None:
    """Start one Python worker per core with the engine's operators
    imported, so worker start-up is set-up rather than part of the first
    timed stage. Workers are reused across jobs, but idle ones are stopped
    after a minute, so this runs just before the timed call."""

    def load(batches):
        import sage_spark.operators.canonicalize  # noqa: F401
        import sage_spark.operators.chunking  # noqa: F401
        import sage_spark.operators.extraction  # noqa: F401

        yield from batches

    n = W.session_cpus()
    spark.range(n, numPartitions=n).mapInPandas(load, "id long").collect()


def run_pipeline_on(spark, inputs: Path, store, run_id: str, run_ts: str):
    from sage_spark.pipeline import run_pipeline
    from sage_spark.sources.webtext import read_webtext

    return run_pipeline(
        spark, read_webtext(spark, str(inputs)), W.persons(), W.groups(), store,
        run_id=run_id, run_ts=run_ts,
    )


# -- the base store -----------------------------------------------------------
def build(out: Path) -> dict:
    """Create the cached base store: the base corpus ingested into an empty
    store, checked against the serial replay."""
    from sage_spark.store import TableStore

    target = W.cache_dir()
    tmp = W.fresh_dir(target.with_name(target.name + ".tmp"))
    t0 = time.perf_counter()
    spark = start_session("perfbench-build", None)
    pages = W.make_pages(list(range(W.BASE_DOCS)), W.BASE_SEED, W.persons())
    W.write_pages(pages, tmp / "inputs", W.session_cpus())
    run_pipeline_on(spark, tmp / "inputs", TableStore(tmp / "store", buckets=W.BUCKETS), "base", W.RUN_TS_BASE)
    spark.stop()
    state = oracle.replay_batch(
        None, pages, n_persons=W.N_PERSONS, persons_seed=W.PERSONS_SEED, run_ts=W.RUN_TS_BASE,
        clock=oracle.KernelClock(),
    )
    tables = oracle.read_store(tmp / "store")
    problems = oracle.check_against_oracle(tables, state) + [
        f"_staging not empty: {x}" for x in oracle.staging_leftovers(tmp / "store")
    ]
    if problems:
        raise RuntimeError("base store does not match the serial replay: " + "; ".join(problems))
    (tmp / "oracle_base.json").write_text(json.dumps(state))
    meta = {
        "store_digest": W.tree_digest(tmp / "store"),
        "tables": oracle.content_hashes(tables),
        "build_s": time.perf_counter() - t0,
        "docs": W.BASE_DOCS,
    }
    (tmp / "meta.json").write_text(json.dumps(meta))
    if target.exists():
        shutil.rmtree(target)
    tmp.rename(target)
    out.write_text(json.dumps(meta))
    return meta


# -- one timed submission -----------------------------------------------------
def sample(workload: str, seed: int, trace: bool, out: Path) -> None:
    from sage_spark.store import TableStore

    work = W.fresh_dir(W.WORK / "sample")
    event_log = W.fresh_dir(work / "eventlog") if trace else None
    needs_base = workload != "kg_fresh"
    cache = W.cache_dir()
    if needs_base and not (cache / "meta.json").exists():
        raise RuntimeError("base store cache missing; run the benchmark through run.py")
    meta = json.loads((cache / "meta.json").read_text()) if needs_base else None
    run_ts = W.RUN_TS_BATCH if needs_base else W.RUN_TS_BASE
    run_id = f"bench-{workload}-{seed}"
    people = W.persons()
    ids = W.batch_page_ids(workload, seed)

    started = t0 = time.perf_counter()
    spark = start_session(f"perfbench-{workload}", event_log)
    session_s = time.perf_counter() - t0

    # set up once: the batch as parquet, and the starting store
    t0 = time.perf_counter()
    pages = W.make_pages(ids, W.page_seed(workload, seed), people)
    inputs, store_dir = work / "inputs", work / "store"
    W.write_pages(pages, inputs, W.session_cpus())
    if needs_base:
        shutil.copytree(cache / "store", store_dir)
    setup_s = session_s + time.perf_counter() - t0
    if needs_base and W.tree_digest(store_dir) != meta["store_digest"]:
        raise RuntimeError("starting store is not a byte-identical copy of the cached base store")

    # expected outputs, computed while Spark is idle (not part of setup_s)
    clock = oracle.KernelClock()
    base_state = json.loads((cache / "oracle_base.json").read_text()) if needs_base else None
    expected = oracle.replay_batch(
        base_state, pages, n_persons=W.N_PERSONS, persons_seed=W.PERSONS_SEED, run_ts=run_ts, clock=clock
    )
    before_tables = oracle.read_store(store_dir) if trace and needs_base else {}
    t0 = time.perf_counter()
    warm_python_workers(spark)
    setup_s += time.perf_counter() - t0

    store = (
        TracingStore(store_dir, buckets=W.BUCKETS, spark=spark) if trace
        else TableStore(store_dir, buckets=W.BUCKETS)
    )
    reset_peak_rss(tree_pids(os.getpid()))
    error, result = None, None
    w0 = time.time()
    t0 = time.perf_counter()
    if trace:
        store.begin()
    try:
        result = run_pipeline_on(spark, inputs, store, run_id, run_ts)
    except Exception:  # noqa: BLE001 - a failed run is a measured outcome
        error = traceback.format_exc()
    wall = time.perf_counter() - t0
    if trace:
        store.end()
    w1 = time.time()
    rss = peak_rss_mb(tree_pids(os.getpid()))
    spark.stop()  # also flushes and closes the event log

    tables = oracle.read_store(store_dir)
    hashes = oracle.content_hashes(tables)
    if error:
        problems = [f"run_pipeline raised: {error}"]
    else:
        problems = check(workload, store_dir, tables, hashes, expected, meta, result, run_id)
    record = {
        "workload": workload,
        "seed": seed,
        "docs": len(ids),
        "wall_s": wall,
        "session_s": session_s,
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "store_mb": W.tree_bytes(store_dir) / 1e6,
        "files_per_bucket": files_per_bucket(store_dir),
        "ok": not problems,
        "problems": problems,
        "tables": hashes,
        "result": vars(result) if result is not None else None,
        "sample_s": time.perf_counter() - started,
    }
    if trace:
        record["trace"] = trace_record(store, event_log, (w0, w1), clock, pages, expected, before_tables, tables)
    out.write_text(json.dumps(record))


def check(workload, store_dir: Path, tables, hashes, expected, meta, result, run_id) -> list[str]:
    problems = [f"_staging not empty: {x}" for x in oracle.staging_leftovers(store_dir)]
    for name in ("documents", "chunks", "claims", "edges"):
        rows = hashes[name]["rows"] if name in hashes else None
        if getattr(result, name) != rows:
            problems.append(f"result.{name}={getattr(result, name)} but the table has {rows} rows")
    if workload == "kg_resume":
        for name, rec in meta["tables"].items():
            if name != "runs" and hashes.get(name) != rec:
                problems.append(f"resume changed table {name}")
        summary = [r for r in tables["runs"].to_pylist() if r["run_id"] == run_id and r["partition_id"] == -1]
        if len(summary) != 1 or summary[0]["docs_processed"] != 0:
            problems.append(f"resume run summary is {summary}, expected one row with docs_processed=0")
    else:
        problems += oracle.check_against_oracle(tables, expected)
    return problems


def trace_record(store, event_log, window, clock, pages, expected, before_tables, tables) -> dict:
    changed = {}
    for name in TABLES:
        cols = oracle.content_cols(tables[name])
        after = Counter(oracle.row_hashes(tables[name], cols).tolist())
        prior = Counter(oracle.row_hashes(before_tables[name], cols).tolist()) if name in before_tables else Counter()
        changed[name] = sum((after - prior).values())
    return {
        "span_walls": store.span_walls(),
        "ledger": parse_event_log(event_log, window),
        "kernel_ms": {name: clock.ms_per_item(name) for name in ("pagetext", "chunks", "claims", "facts")},
        "kernel_rows": {
            "pagetext": sum(1 for p in pages if p["lang"] == "en"),
            "chunks": expected["batch_docs"],
            "claims": expected["batch_docs"],
            "facts": expected["batch_claims"],
        },
        "changed_rows": changed,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.build:
        build(Path(args.out))
    else:
        sample(args.workload, args.seed, bool(args.trace), Path(args.out))


if __name__ == "__main__":
    main()
