"""Output check: an order-independent digest of extracted rows.

A row hashes to the first 128 bits of the SHA-256 of a canonical JSON of
(doc_id, spans_out, meta, metrics without ``elapsed_ms``), plus the four
rendered columns for a rendering call. Floats are hashed by their exact
``float.hex`` value. The digest of a table is the row count and the sum
of its row hashes mod 2**128, so row order does not matter but a
duplicated, missing or changed row does.

The same ``row_hash`` runs on both sides: inside a Spark job over the
program's output (``spark_hashes``) and in-process over the library's
pure batch function (``reference_digests``).
"""

from __future__ import annotations

import functools
import hashlib
import json
from dataclasses import dataclass

MOD = 1 << 128
_META = ("title", "byline", "page_type", "node_count")
_METRICS = (
    "candidate_count",
    "pruned_nodes",
    "prune_ratio",
    "top_score",
    "link_density",
    "is_probably_content",
)
_RENDER = ("html", "markdown", "text", "metadata_json")


def _exact(v):
    return v.hex() if isinstance(v, float) else v


def row_hash(row: dict, render: bool = False) -> int:
    canon = [
        row["doc_id"],
        [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in row["spans_out"]],
        [row["meta"][k] for k in _META],
        [_exact(row["metrics"][k]) for k in _METRICS],
    ]
    if render:
        canon.append([row[k] for k in _RENDER])
    blob = json.dumps(canon, ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(
        hashlib.sha256(blob.encode("utf-8", "surrogatepass")).digest()[:16], "big"
    )


def reference_digests(docs: list, sizes: list, render: bool) -> dict:
    """Partial reference digests of (doc_id, spans) docs, in-process."""
    from go_readability_spark.operators.extract import extract_batch_rows

    rows = extract_batch_rows(
        [d for d, _ in docs], [s for _, s in docs], sizes, render=render
    )
    out = {"extract": [len(rows), sum(row_hash(r) for r in rows) % MOD]}
    if render:
        out["render"] = [len(rows), sum(row_hash(r, True) for r in rows) % MOD]
    out["errors"] = sum(r["error"] is not None for r in rows)
    return out


def combine_reference(parts: list[dict]) -> dict:
    out = {}
    for kind in ("extract", "render"):
        if kind in parts[0]:
            n = sum(p[kind][0] for p in parts)
            h = sum(p[kind][1] for p in parts) % MOD
            out[kind] = f"{n}:{h:032x}"
    out["errors"] = sum(p["errors"] for p in parts)
    return out


_HASH_FIELDS = [
    ("doc_id", "string"),
    ("h", "string"),
    ("error", "string"),
    ("page_type", "string"),
    ("doc_bytes", "bigint"),
    ("n_spans_out", "int"),
    ("candidate_count", "int"),
    ("prune_ratio", "double"),
    ("link_density", "double"),
    ("is_probably_content", "boolean"),
]
HASH_SCHEMA = ", ".join(f"{n} {t}" for n, t in _HASH_FIELDS)


def hashed_row(r: dict, render: bool = False) -> tuple:
    """What the check keeps of one output row: its hash and the fields
    metrics_rollup aggregates."""
    return (
        r["doc_id"],
        f"{row_hash(r, render):032x}",
        r["error"],
        r["meta"]["page_type"],
        r["doc_bytes"],
        len(r["spans_out"]),
        r["metrics"]["candidate_count"],
        r["metrics"]["prune_ratio"],
        r["metrics"]["link_density"],
        r["metrics"]["is_probably_content"],
    )


def _hash_batches(batches, render: bool):
    import pyarrow as pa

    arrow = {"string": pa.string(), "bigint": pa.int64(), "int": pa.int32(),
             "double": pa.float64(), "boolean": pa.bool_()}
    schema = pa.schema([(n, arrow[t]) for n, t in _HASH_FIELDS])
    for batch in batches:
        rows = [hashed_row(r, render) for r in batch.to_pylist()]
        yield pa.RecordBatch.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        )


def spark_hashes(df, render: bool = False) -> list:
    """Collect hashed_row for every row of ``df``."""
    return [
        tuple(r)
        for r in df.mapInArrow(
            functools.partial(_hash_batches, render=render), HASH_SCHEMA
        ).collect()
    ]


def rollup_of(rows: list) -> dict:
    """metrics_rollup's per-page_type figures, from checked rows:
    n_docs, n_errors, total_bytes, n_probably_content, then the sums
    behind avg_candidates, avg_prune_ratio, avg_link_density and
    avg_spans_out."""
    groups: dict = {}
    for _, _, err, page, size, n_spans, cand, prune, link, content in rows:
        g = groups.setdefault(page, [0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0])
        g[0] += 1
        g[1] += err is not None
        g[2] += size
        g[3] += bool(content)
        g[4] += cand
        g[5] += prune
        g[6] += link
        g[7] += n_spans
    return groups


def rollup_matches(spark_rows: list, checked: dict) -> bool:
    """Counts equal exactly; averages equal to summation-order rounding."""
    got = {r["page_type"]: r for r in spark_rows}
    if got.keys() != checked.keys():
        return False
    for page, g in checked.items():
        r = got[page]
        if (r["n_docs"], r["n_errors"], r["total_bytes"], r["n_probably_content"]) != tuple(g[:4]):
            return False
        for avg, total in zip(
            (r["avg_candidates"], r["avg_prune_ratio"], r["avg_link_density"], r["avg_spans_out"]),
            g[4:],
        ):
            if abs(avg * g[0] - total) > 1e-9 * max(1.0, abs(total)):
                return False
    return True


@dataclass
class Verdict:
    ok: bool
    rows: int
    errors: int
    missing: int
    duplicates: int
    digest: str

    @property
    def failed(self) -> int:
        return self.errors + self.missing + self.duplicates


def check_rows(rows: list, doc_ids: list[str], want_digest: str) -> Verdict:
    """One row per input doc, no error rows, and the expected digest."""
    seen: dict[str, int] = {}
    for r in rows:
        seen[r[0]] = seen.get(r[0], 0) + 1
    expected = set(doc_ids)
    missing = len(expected - seen.keys())
    # a row for a doc that was never input counts as a duplicate
    duplicates = sum(c - 1 for c in seen.values()) + len(seen.keys() - expected)
    errors = sum(1 for r in rows if r[2] is not None)
    got = f"{len(rows)}:{sum(int(r[1], 16) for r in rows) % MOD:032x}"
    return Verdict(
        ok=(
            missing == 0
            and duplicates == 0
            and errors == 0
            and len(rows) == len(doc_ids)
            and got == want_digest
        ),
        rows=len(rows),
        errors=errors,
        missing=missing,
        duplicates=duplicates,
        digest=got,
    )


def self_test() -> None:
    """Show that check_rows fires: tamper with real extracted rows."""
    from go_readability_spark.corpus import generate_doc
    from go_readability_spark.operators.extract import extract_batch_rows

    ids = ["syn-article-000001", "syn-media-heavy-000007", "syn-edge-000008"]
    docs = [generate_doc(d, 1) for d in ids]
    rows = extract_batch_rows(ids, docs, [0] * len(ids))
    ref = reference_digests(list(zip(ids, docs)), [0] * len(ids), False)
    want = combine_reference([ref])["extract"]

    def hashed(rs):
        return [hashed_row(r) for r in rs]

    if not check_rows(hashed(rows), ids, want).ok:
        raise RuntimeError("self-test: untouched rows fail the check")
    tampered = [dict(r) for r in rows]
    tampered[1]["spans_out"] = [dict(s) for s in tampered[1]["spans_out"]]
    tampered[1]["spans_out"][0]["text"] += "x"
    bad_float = [dict(r) for r in rows]
    bad_float[0]["metrics"] = dict(
        bad_float[0]["metrics"],
        prune_ratio=bad_float[0]["metrics"]["prune_ratio"] + 1e-15,
    )
    # a timed pass's rollup is held to the rollup of checked rows
    checked = rollup_of(hashed(rows))
    spark_like = [
        {"page_type": page, "n_docs": g[0], "n_errors": g[1], "total_bytes": g[2],
         "n_probably_content": g[3], "avg_candidates": g[4] / g[0],
         "avg_prune_ratio": g[5] / g[0], "avg_link_density": g[6] / g[0],
         "avg_spans_out": g[7] / g[0]}
        for page, g in checked.items()
    ]
    if not rollup_matches(spark_like, checked):
        raise RuntimeError("self-test: an untouched rollup fails the check")
    spark_like[0]["avg_spans_out"] += 0.5
    if rollup_matches(spark_like, checked):
        raise RuntimeError("self-test: a tampered rollup passes the check")
    for label, rs in (
        ("tampered span text", tampered),
        ("tampered float", bad_float),
        ("duplicated row", rows[:2] + rows[:1]),
        ("missing row", rows[:2]),
    ):
        if check_rows(hashed(rs), ids, want).ok:
            raise RuntimeError(f"self-test: a {label} passes the check")
