"""Seeded benchmark inputs: doc-id plans, parquet generation, reference digests.

Every input is a pure function of (workload shape, size, seed,
``CORPUS_VERSION``): doc ids are planned here and each document is built
by ``corpus.generate_doc(doc_id, seed)``, giant docs at GIANT_SEED.
Generation runs in a small spawn-context process pool that writes parquet
parts with pyarrow, so the program under test only ever sees the finished
table. A finished table is gated by ``_SUCCESS`` and reused by later runs
with the same key.

When the seed has no pinned digest, the same pool also computes the
reference output digest in-process with the library's pure batch
function (``operators.extract.extract_batch_rows``), independent of
Spark.
"""

from __future__ import annotations

import gc
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from go_readability_spark.corpus import CORPUS_VERSION, POPULATIONS, generate_doc

import digest

MIB = 1024 * 1024

_SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False), ("spans", pa.list_(_SPAN))]
)

# documents per parquet part (one row group each); giants get a part each
_PART_DOCS = 128
# bump when plan_doc_ids or the part layout changes: cached inputs are keyed by it
PLAN_VERSION = 2


@dataclass(frozen=True)
class Shape:
    """How a workload's input is made."""

    n_docs: int
    giant_every: int = 0  # one syn-giant doc per this many docs (0 = none)
    render_ref: bool = False  # also pin/compute the rendered-output digest

    def key(self, name: str, seed: int) -> str:
        return (
            f"{name}-n{self.n_docs}-g{self.giant_every}-s{seed}"
            f"-v{CORPUS_VERSION}-p{PLAN_VERSION}"
        )


# Giant docs are built at this seed whatever the run's seed: their bytes and
# their place in the salted shuffle (a hash of the doc id) then stay the
# same from seed to seed, which otherwise moved a giants pass's wall by up
# to 1.8x. The seed varies every other doc.
GIANT_SEED = 42


def _doc_seed(doc_id: str, seed: int) -> int:
    return GIANT_SEED if doc_id.startswith("syn-giant-") else seed


def _giant_target_mib(doc_id: str) -> int:
    # the giant generator's first draw picks the target size in MiB
    # (corpus._gen_giant); generated sizes are verified after the fact
    from go_readability_spark.corpus import _rng

    return _rng(doc_id, GIANT_SEED).randint(1, 8)


def plan_doc_ids(shape: Shape) -> list[str]:
    """Doc ids of one input: populations round-robin, fixture-001 first,
    and every ``giant_every``-th slot a syn-giant doc.

    Giants are stratified by size: the slots cycle through 1..8 MiB, and
    each slot takes the next syn-giant id whose size at GIANT_SEED is that
    class."""
    names = list(POPULATIONS)
    ids = ["fixture-001"]
    n_giants = (shape.n_docs - 1) // shape.giant_every if shape.giant_every else 0
    pools: dict[int, list[str]] = {c: [] for c in range(1, 9)}
    next_candidate = 0
    giants = []
    for g in range(n_giants):
        want = g % 8 + 1
        while not pools[want]:
            doc_id = f"syn-giant-{next_candidate:06d}"
            pools[_giant_target_mib(doc_id)].append(doc_id)
            next_candidate += 1
        giants.append(pools[want].pop(0))
    i = 0
    while len(ids) < shape.n_docs:
        i += 1
        if shape.giant_every and i % shape.giant_every == 0 and giants:
            ids.append(giants.pop(0))
        else:
            ids.append(f"{names[i % len(names)]}-{i:06d}")
    return ids


def doc_bytes(spans: list[dict]) -> int:
    """The program's doc_bytes: UTF-8 bytes of every span's text and ref."""
    return sum(
        len((s["text"] or "").encode("utf-8", "surrogatepass"))
        + len((s["media_ref"] or "").encode("utf-8", "surrogatepass"))
        for s in spans
    )


def _build_part(task: tuple) -> dict:
    """Pool task: generate one part's docs, write it, optionally digest it."""
    path, doc_ids, seed, want_ref, render_ref = task
    docs = [(d, generate_doc(d, _doc_seed(d, seed))) for d in doc_ids]
    sizes = [doc_bytes(s) for _, s in docs]
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs], schema=DOCS_SCHEMA
    )
    pq.write_table(table, path, row_group_size=_PART_DOCS)
    out = {
        "docs": len(docs),
        "bytes": sum(sizes),
        "giant_sizes": {
            d: b for (d, _), b in zip(docs, sizes) if d.startswith("syn-giant-")
        },
        "spans": sum(len(s) for _, s in docs),
    }
    if want_ref:
        out["ref"] = digest.reference_digests(docs, sizes, render_ref)
    return out


def _check_giant_sizes(giant_sizes: dict) -> None:
    for doc_id, size in giant_sizes.items():
        want = _giant_target_mib(doc_id)
        if not want * MIB <= size < (want + 1) * MIB:
            raise RuntimeError(
                f"{doc_id} is {size} bytes, planned {want} MiB: "
                "the giant generator changed, update plan_doc_ids"
            )


def _stop_resource_tracker() -> None:
    """Stop the process that the pool's semaphores started and wait for it.

    multiprocessing's resource tracker otherwise outlives the benchmark
    process, and its RSS would count in the runs that build an input. The
    pool's semaphores must be freed first (the caller drops the pool), or
    freeing them later would start it anew."""
    from multiprocessing import resource_tracker

    gc.collect()
    resource_tracker._resource_tracker._stop()


def ensure_input(
    root: str, name: str, shape: Shape, seed: int, want_ref: bool, workers: int
) -> tuple[str, dict]:
    """Path of the input table and its meta (sizes, reference digests).

    Reuses a finished table with the same key; builds it otherwise."""
    path = os.path.join(root, shape.key(name, seed))
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("ref") or not want_ref:
            return path, meta
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ids = plan_doc_ids(shape)
    tasks = []
    chunk: list[str] = []
    for doc_id in ids:
        if doc_id.startswith("syn-giant-"):
            tasks.append([doc_id])
            continue
        chunk.append(doc_id)
        if len(chunk) == _PART_DOCS:
            tasks.append(chunk)
            chunk = []
    if chunk:
        tasks.append(chunk)
    # giants first: the longest tasks start before the short ones
    tasks.sort(key=len)
    args = [
        (
            os.path.join(path, f"part-{k:05d}.parquet"),
            t,
            seed,
            want_ref,
            shape.render_ref,
        )
        for k, t in enumerate(tasks)
    ]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        parts = pool.map(_build_part, args, chunksize=1)
    del pool
    _stop_resource_tracker()
    giant_sizes = {d: b for p in parts for d, b in p["giant_sizes"].items()}
    _check_giant_sizes(giant_sizes)
    n_bytes = sum(p["bytes"] for p in parts)
    meta = {
        "docs": sum(p["docs"] for p in parts),
        "mb": n_bytes / 1e6,
        "giants": len(giant_sizes),
        "giant_byte_share": sum(giant_sizes.values()) / n_bytes,
        "spans_per_doc": sum(p["spans"] for p in parts) / len(ids),
        "doc_ids": ids,
    }
    if want_ref:
        meta["ref"] = digest.combine_reference([p["ref"] for p in parts])
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path, meta


def read_docs(path: str, doc_ids: list[str]) -> list[tuple[str, list[dict]]]:
    """(doc_id, spans) of every doc, in ``doc_ids`` order, read back from
    the input table."""
    table = pq.read_table(
        [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")],
        schema=DOCS_SCHEMA,
    )
    by_id = dict(zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()))
    return [(d, by_id[d]) for d in doc_ids]
