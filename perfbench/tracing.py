"""Spans around the pipeline's store calls, and Spark's own accounting per span.

``TracingStore`` is a ``TableStore`` that names a span at each store call
and sets it as the Spark job description, so every job in the local event
log belongs to the span that was open when the job was submitted:

* ``overwrite`` of the staging tables: ``extract``, ``claims``,
  ``canonicalize`` (each stage's kernel runs inside its staging write);
* ``upsert(table)``: ``upsert.<table>``;
* ``read(table)``: ``read.<table>`` (``read.staging`` for staging re-reads).
  Reads are lazy, so a read span stays open until the next store call and
  takes the jobs that consume it: the final recounts. The two facts status
  counts run after ``read.claims`` opens, so they land there;
* everything else (lineage aggregates, glue between stages): ``pipeline``.

``parse_event_log`` reads the uncompressed event log and sums the task
metrics of each span's stages.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from sage_spark.store import TableStore

STAGE_SPANS = {"documents": "extract", "claims": "claims", "mutations": "canonicalize"}
TABLES = ["documents", "chunks", "claims", "claim_fact_edges", "facts", "edges", "runs"]
COMPUTE_SPANS = ["extract", "claims", "canonicalize"] + [f"upsert.{t}" for t in TABLES] + ["pipeline"]
READ_SPANS = [f"read.{t}" for t in ("documents", "chunks", "claims", "claim_fact_edges", "facts", "edges")] + ["read.staging"]
SPANS = COMPUTE_SPANS + READ_SPANS
OUTSIDE = "bench.outside"


def span_name(op: str, table: str) -> str:
    if table.startswith("_staging/"):
        stage = table.rsplit("/", 1)[-1]
        return STAGE_SPANS.get(stage, f"write.staging.{stage}") if op == "overwrite" else f"{op}.staging"
    return f"{op}.{table}"


class TracingStore(TableStore):
    def __init__(self, root, *, buckets, spark) -> None:
        super().__init__(root, buckets=buckets)
        self._sc = spark.sparkContext
        self._depth = 0
        self.spans: list[list] = []  # [name, start, end] in epoch seconds

    def _open(self, name: str) -> None:
        now = time.time()
        if self.spans and self.spans[-1][2] is None:
            self.spans[-1][2] = now
        self.spans.append([name, now, None])
        self._sc.setJobDescription(name)

    def begin(self) -> None:
        self._open("pipeline")

    def end(self) -> None:
        self.spans[-1][2] = time.time()
        self._sc.setJobDescription(OUTSIDE)

    def _call(self, name: str, fn, *args, keep_open: bool = False, **kwargs):
        if self._depth:  # nested store calls belong to the outer span
            return fn(*args, **kwargs)
        self._open(name)
        self._depth += 1
        try:
            return fn(*args, **kwargs)
        finally:
            self._depth -= 1
            if not keep_open:
                self._open("pipeline")

    def read(self, spark, table, schema=None):
        return self._call(span_name("read", table), super().read, spark, table, schema, keep_open=True)

    def overwrite(self, df, table):
        return self._call(span_name("overwrite", table), super().overwrite, df, table)

    def upsert(self, df, table, keys, **kwargs):
        return self._call(span_name("upsert", table), super().upsert, df, table, keys, **kwargs)

    def drop(self, table):
        return self._call("pipeline", super().drop, table)

    def span_walls(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, start, end in self.spans:
            out[name] = out.get(name, 0.0) + (end - start)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def parse_event_log(log_dir: Path, window: tuple[float, float]) -> dict:
    """Per-span Spark accounting for the jobs submitted inside ``window``
    (epoch seconds). A job in the window whose description is not a span
    name is counted in ``unassigned_jobs``."""
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one uncompressed event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_span: dict[tuple[int, int], str | None] = {}
    tasks: list[tuple[tuple[int, int], dict]] = []
    with files[0].open() as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                desc = (event.get("Properties") or {}).get("spark.job.description")
                jobs[event["Job ID"]] = {"span": desc, "start": event["Submission Time"] / 1000.0}
            elif kind == "SparkListenerJobEnd":
                jobs[event["Job ID"]]["end"] = event["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = event["Stage Info"]
                desc = (event.get("Properties") or {}).get("spark.job.description")
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = desc
            elif kind == "SparkListenerTaskEnd":
                tasks.append(((event["Stage ID"], event["Stage Attempt ID"]), event.get("Task Metrics") or {}))

    lo, hi = window
    in_window = [j for j in jobs.values() if lo <= j["start"] <= hi]
    spans: dict[str, dict] = {}

    def acc(name: str) -> dict:
        return spans.setdefault(name, {
            "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "jvm_gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "output_bytes": 0, "output_records": 0,
        })

    unassigned = 0
    for job in in_window:
        if job["span"] in SPANS:
            acc(job["span"])["jobs"] += 1
        else:
            unassigned += 1
    for stage, metrics in tasks:
        name = stage_span.get(stage)
        if name not in SPANS:
            continue
        s = acc(name)
        s["tasks"] += 1
        s["executor_run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
        s["jvm_gc_s"] += metrics.get("JVM GC Time", 0) / 1000.0
        s["shuffle_write_bytes"] += (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        s["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
        out = metrics.get("Output Metrics") or {}
        s["output_bytes"] += out.get("Bytes Written", 0)
        s["output_records"] += out.get("Records Written", 0)
    job_time = _union_length([(max(j["start"], lo), min(j.get("end", hi), hi)) for j in in_window])
    return {"spans": spans, "jobs": len(in_window), "unassigned_jobs": unassigned, "job_union_s": job_time}
