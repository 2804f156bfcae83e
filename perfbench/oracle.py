"""Serial oracle, table content hashes and the per-workload output checks.

The oracle is the serial replay of ``sage_spark/kernel/expected.py``
(its chunk and claim stages are called as they are), fed from explicit
page lists so a batch can be replayed on top of an existing store:
documents and chunks are unions, and each canonical key a batch touches
is replayed from its stored facts (``replay_key_mutations``) with support
re-derived from the SUPPORTS edge history, as
``operators/canonicalize.incremental_support`` does.

The kernel sections are timed here too: they are the benchmark's kernel
layer (``kernel.*`` metrics), measured without Spark.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter
from pathlib import Path
from typing import Any

import numpy as np

DOC_COLS = [
    "doc_id", "url", "sender", "receivers", "content", "summary", "timestamp", "source",
    "conversation_type", "conversation_id", "group_id", "lang",
]
CHUNK_COLS = ["chunk_id", "doc_id", "seq", "summary"]
# physical layout and lineage (bucket dirs, task partition ids) are not content
PHYSICAL_COLS = {"partition_id", "__bucket"}


def _schema(table: str):
    from pyspark.sql.pandas.types import to_arrow_schema

    from sage_spark import schema

    return to_arrow_schema({
        "documents": schema.DOCUMENTS_SCHEMA, "chunks": schema.CHUNKS_SCHEMA, "facts": schema.FACTS_SCHEMA,
    }[table])


def fact_cols() -> list[str]:
    return _schema("facts").names


# -- row hashes -----------------------------------------------------------------
def row_hashes(table, cols: list[str]) -> np.ndarray:
    """One uint64 per row over ``cols``; list columns are joined to strings
    first. Vectorised: a Python loop over 10^5 rows would dominate a run."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    if table.num_rows == 0:
        return np.zeros(0, dtype=np.uint64)
    parts = {}
    for c in cols:
        arr = table.column(c)
        if pa.types.is_list(arr.type):
            arr = pc.binary_join(arr.cast(pa.list_(pa.string())), "\x1f")
        parts[c] = arr.to_pandas()
    return pd.util.hash_pandas_object(pd.DataFrame(parts), index=False).to_numpy()


def table_hash(hashes: np.ndarray) -> str:
    """Order-independent content hash of a table: its sorted row hashes."""
    return hashlib.sha256(np.sort(hashes).tobytes()).hexdigest()


def expected_hashes(table: str, rows: list[dict[str, Any]], cols: list[str]) -> list[int]:
    """Row hashes of oracle rows, typed like the store's table."""
    import pyarrow as pa

    schema = pa.schema([_schema(table).field(c) for c in cols])
    return row_hashes(pa.Table.from_pylist([{c: r.get(c) for c in cols} for r in rows], schema=schema), cols).tolist()


def store_hashes(tables: dict, table: str, cols: list[str]) -> np.ndarray:
    """Row hashes of a store table, cast to the table schema's column types."""
    import pyarrow as pa

    t = tables.get(table)
    if t is None:
        return np.zeros(0, dtype=np.uint64)
    schema = _schema(table)
    t = pa.table({c: t.column(c).cast(schema.field(c).type) for c in cols})
    return row_hashes(t, cols)


# -- reading the store without Spark -----------------------------------------
def read_table(store: Path, table: str):
    import pyarrow.dataset as ds

    # explicit file list: the default discovery skips the ``__bucket=K`` dirs
    files = sorted(str(f) for f in (store / table).rglob("*.parquet"))
    data = ds.dataset(files, format="parquet", partitioning="hive", partition_base_dir=str(store / table)).to_table()
    return data.select([n for n in data.column_names if n != "__bucket"])


def read_store(store: Path) -> dict:
    """Every published table of the store (hidden and swap dirs excluded)."""
    names = sorted(
        p.name for p in store.iterdir()
        if p.is_dir() and not p.name.startswith(("_", ".")) and ".__" not in p.name
    )
    return {name: read_table(store, name) for name in names}


def content_cols(table) -> list[str]:
    return sorted(set(table.column_names) - PHYSICAL_COLS)


def content_hashes(tables: dict) -> dict[str, dict[str, Any]]:
    """Row count and order-independent content hash of every table."""
    return {
        name: {"rows": t.num_rows, "hash": table_hash(row_hashes(t, content_cols(t)))}
        for name, t in tables.items()
    }


# -- the serial replay --------------------------------------------------------
class KernelClock:
    """Accumulated seconds and item counts per kernel section."""

    def __init__(self) -> None:
        self.seconds: Counter[str] = Counter()
        self.items: Counter[str] = Counter()

    def add(self, name: str, t0: float, items: int) -> None:
        self.seconds[name] += time.perf_counter() - t0
        self.items[name] += items

    def ms_per_item(self, name: str) -> float:
        return 1000.0 * self.seconds[name] / max(self.items[name], 1)


def documents_from_pages(pages: list[dict], clock: KernelClock, lang_filter: str = "en") -> list[dict]:
    """Stage 1 + first-per-doc dedupe (min url), as extract_documents and
    pipeline._first_per_doc do."""
    from sage_spark.kernel.chunks import content_doc_id
    from sage_spark.kernel.pagetext import text_from_html
    from sage_spark.kernel.text import fallback_summary

    kept = [p for p in pages if p["lang"] == lang_filter]
    t0 = time.perf_counter()
    extracted = []
    for page in kept:
        text = text_from_html(page["html"]) if page["html"] is not None else (page["text"] or "")
        extracted.append((text, content_doc_id(text), fallback_summary(text)))
    clock.add("pagetext", t0, len(kept))
    by_doc: dict[str, dict] = {}
    for page, (text, doc_id, summary) in zip(kept, extracted):
        row = {
            "doc_id": doc_id,
            "url": page["url"],
            "sender": page["sender_id"],
            "receivers": list(page["receiver_ids"]),
            "content": text,
            "summary": summary,
            "timestamp": page["warc_ts"].isoformat() + "+00:00",
            "source": page["source"],
            "conversation_type": page["conversation_type"],
            "conversation_id": page["conversation_id"],
            "group_id": page["group_id"],
            "lang": page["lang"],
            "message_id": page["message_id"],
        }
        prev = by_doc.get(doc_id)
        if prev is None or row["url"] < prev["url"]:
            by_doc[doc_id] = row
    return sorted(by_doc.values(), key=lambda r: r["doc_id"])


def replay_batch(
    base: dict[str, Any] | None,
    pages: list[dict],
    *,
    n_persons: int,
    persons_seed: int,
    run_ts: str,
    clock: KernelClock,
) -> dict[str, Any]:
    """Expected store content after ingesting ``pages`` into the store the
    ``base`` state describes (None = empty store). The returned state has
    the same shape as ``base``, so replays chain. Chunks and claims come
    from ``kernel/expected.py``; only the facts replay is base-aware."""
    from sage_spark.kernel.expected import expected_chunks, expected_claims
    from sage_spark.kernel.facts import replay_key_mutations

    base = base or {"doc_ids": [], "documents": [], "chunks": [], "facts": [], "edges": []}
    known = set(base["doc_ids"])
    docs = [d for d in documents_from_pages(pages, clock) if d["doc_id"] not in known]

    t0 = time.perf_counter()
    chunks = expected_chunks(docs)
    clock.add("chunks", t0, len(docs))

    t0 = time.perf_counter()
    claims = expected_claims(docs, n_persons, persons_seed, run_ts=run_ts)
    clock.add("claims", t0, len(docs))

    t0 = time.perf_counter()
    facts = {f["fact_id"]: f for f in base["facts"]}
    stored_by_key: dict[str, list[dict]] = {}
    for f in base["facts"]:
        stored_by_key.setdefault(f["canonical_key"], []).append(f)
    by_key: dict[str, list[dict]] = {}
    for claim in claims:
        by_key.setdefault(claim["canonical_key"], []).append(claim)
    edges = {tuple(e) for e in base["edges"]}
    touched: set[str] = set()
    for key, group in by_key.items():
        ordered = sorted(group, key=lambda c: (c.get("sent_at") or "", c.get("doc_id") or "", c.get("claim_seq") or 0))
        stored = sorted(stored_by_key.get(key, []), key=lambda r: (r.get("first_seen_at") or "", r.get("fact_id") or ""))
        outcome = replay_key_mutations(stored, ordered, run_ts)
        for fact in outcome.facts:
            facts[fact["fact_id"]] = dict(fact)
            touched.add(fact["fact_id"])
        edges.update((e["claim_id"], e["fact_id"], e["relation_type"]) for e in outcome.edges)
    support = Counter(fid for _, fid, rel in edges if rel == "SUPPORTS")
    for fid in touched:
        facts[fid]["support_count"] = support.get(fid, 0)
    clock.add("facts", t0, len(claims))

    cols = fact_cols()
    return {
        "doc_ids": sorted(known | {d["doc_id"] for d in docs}),
        "documents": base["documents"] + expected_hashes("documents", docs, DOC_COLS),
        "chunks": base["chunks"] + expected_hashes("chunks", chunks, CHUNK_COLS),
        "facts": [{c: f.get(c) for c in cols} for f in facts.values()],
        "edges": sorted(edges),
        "batch_docs": len(docs),
        "batch_claims": len(claims),
    }


def check_against_oracle(tables: dict, expected: dict[str, Any]) -> list[str]:
    """Compare the documents, chunks and facts tables with the replay.
    Returns a list of mismatch descriptions (empty = pass)."""
    cols = fact_cols()
    wanted = {
        "documents": (DOC_COLS, expected["documents"]),
        "chunks": (CHUNK_COLS, expected["chunks"]),
        "facts": (cols, expected_hashes("facts", expected["facts"], cols)),
    }
    problems = []
    for table, (tcols, want) in wanted.items():
        got = store_hashes(tables, table, tcols).tolist()
        if sorted(got) != sorted(want):
            missing = sum((Counter(want) - Counter(got)).values())
            extra = sum((Counter(got) - Counter(want)).values())
            problems.append(f"{table}: {len(got)} rows vs {len(want)} expected ({missing} missing, {extra} unexpected)")
    return problems


def staging_leftovers(store: Path) -> list[str]:
    staging = store / "_staging"
    return [p.name for p in staging.iterdir()] if staging.exists() else []
