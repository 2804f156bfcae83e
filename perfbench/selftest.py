"""Self-test of the benchmark at a tiny size (a few hundred docs).

    python3 perfbench/selftest.py

Checks that every workload runs traced and passes its output check, that
the event-log parser assigns every Spark job of a run to a span, and that
a store with one altered fact row fails the check. Uses its own work
directory, so the benchmark's cached base store is left alone. Takes a few
minutes: each workload is a separate Spark session.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import workloads as W  # noqa: E402

W.WORK = W.HERE / ".work" / "selftest"
W.FRESH_DOCS, W.BASE_DOCS, W.INCREMENTAL_DOCS = 200, 300, 60
os.environ.update(W.session_env())

import oracle  # noqa: E402
import sample  # noqa: E402


def alter_one_fact(store: Path) -> None:
    """Rewrite one facts file with its first row's support_count bumped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = next((store / "facts").rglob("*.parquet"))
    table = pq.read_table(path)
    counts = table.column("support_count").to_pylist()
    counts[0] += 1
    idx = table.schema.get_field_index("support_count")
    pq.write_table(table.set_column(idx, "support_count", pa.array(counts, pa.int64())), path)


def main() -> None:
    W.fresh_dir(W.WORK)
    sample.build(W.WORK / "build.json")
    failures = []
    for workload in ("kg_fresh", "kg_incremental", "kg_resume"):
        out = W.WORK / f"{workload}.json"
        sample.sample(workload, 5, True, out)
        rec = json.loads(out.read_text())
        ledger = rec["trace"]["ledger"]
        assigned = sum(s["jobs"] for s in ledger["spans"].values())
        print(
            f"{workload}: ok={rec['ok']} wall={rec['wall_s']:.1f}s jobs={ledger['jobs']} "
            f"assigned={assigned} unassigned={ledger['unassigned_jobs']}"
        )
        if not rec["ok"]:
            failures.append(f"{workload} failed its check: {rec['problems']}")
        if ledger["jobs"] == 0 or ledger["unassigned_jobs"] or assigned != ledger["jobs"]:
            failures.append(f"{workload}: {ledger['unassigned_jobs']} of {ledger['jobs']} jobs without a span")

        if workload == "kg_fresh":
            store = W.WORK / "sample" / "store"
            pages = W.make_pages(W.batch_page_ids(workload, 5), 5, W.persons())
            expected = oracle.replay_batch(
                None, pages, n_persons=W.N_PERSONS, persons_seed=W.PERSONS_SEED, run_ts=W.RUN_TS_BASE,
                clock=oracle.KernelClock(),
            )
            if oracle.check_against_oracle(oracle.read_store(store), expected):
                failures.append("the untouched kg_fresh store fails a re-check")
            alter_one_fact(store)
            problems = oracle.check_against_oracle(oracle.read_store(store), expected)
            print(f"altered fact row -> {problems}")
            if not problems:
                failures.append("a store with one altered fact row passed the check")
    if failures:
        print("SELFTEST FAILED:\n  " + "\n  ".join(failures))
        sys.exit(1)
    print("SELFTEST PASSED")


if __name__ == "__main__":
    main()
