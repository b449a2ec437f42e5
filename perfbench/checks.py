"""Output checks made apart from the program: the expected values come
from the generator's truth columns, from plain Python over the input
tables, and from DuckDB running each query's oracle SQL. From the
program only the structure fold (``kernels.fold.fold_document``, fed the
TRUTH labels rather than the pipeline's) is used.

Every check reports the operations it condemns: pages for the extraction
checks (a document-level fault fails all of the document's pages, a
checkpoint fault all of its bucket's pages), queries for the query check.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter, defaultdict
from decimal import Decimal

import pyarrow.parquet as pq

ROOT_PARENT = -1


def load_truth(corpus_dir: str) -> dict:
    """Input pages and documents, keyed the way the checks need them."""
    blobs = pq.read_table(
        os.path.join(corpus_dir, "page_blobs.parquet"),
        columns=["media_ref", "truth_border", "truth_labels", "truth_skew"],
    ).to_pylist()
    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet")).to_pylist()
    pages = {b["media_ref"]: b for b in blobs}
    doc_pages, doc_spans = {}, {}
    for d in docs:
        ordered = sorted(d["spans"], key=lambda s: s["offset"])
        doc_spans[d["doc_id"]] = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "order": i}
            for i, s in enumerate(ordered)
        ]
        doc_pages[d["doc_id"]] = [s["media_ref"] for s in ordered if s["kind"] == "page_image"]
    return {"pages": pages, "doc_pages": doc_pages, "doc_spans": doc_spans}


def _read(out_dir: str, name: str) -> list[dict]:
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def check_pages(truth: dict, page_rows: list[dict]) -> set[str]:
    """Clean-tier exact recovery: one row per input page, error null,
    border/labels/skew equal to the generator's truth. Returns the failing
    pages."""
    bad = set()
    seen = Counter(r["media_ref"] for r in page_rows)
    for m in truth["pages"]:
        if seen[m] != 1:
            bad.add(m)
    for r in page_rows:
        t = truth["pages"].get(r["media_ref"])
        if t is None:
            continue  # a page the input does not have: no input page to fail
        if (
            r["error"] is not None
            or list(r["labels"] or []) != list(t["truth_labels"])
            or r["skew"] != t["truth_skew"]
            or list(r["border"] or []) != list(t["truth_border"])
        ):
            bad.add(r["media_ref"])
    return bad


def check_spans(truth: dict, span_rows: list[dict]) -> set[str]:
    """extracted_spans equal the input spans sorted by offset (one row per
    document). Returns the failing documents."""
    got = defaultdict(list)
    for r in span_rows:
        got[r["doc_id"]].append(r["spans"])
    return {
        d for d, want in truth["doc_spans"].items() if got.get(d) != [want]
    }


def check_structure(truth: dict, struct_rows: list[dict]) -> set[str]:
    """doc_structure links every page once in page order, every parent is
    the root or an earlier div, and the whole structure equals the fold
    of the TRUTH labels. Returns the failing documents."""
    from ocrd_anybaseocr_spark.kernels.fold import fold_document

    got = defaultdict(list)
    for r in struct_rows:
        got[r["doc_id"]].append(r)
    bad = set()
    for d, pages in truth["doc_pages"].items():
        rows = got.get(d, [])
        if len(rows) != 1:
            bad.add(d)
            continue
        divs = [(x["log_id"], x["label"], x["parent_id"]) for x in rows[0]["divs"]]
        links = [(x["log_id"], x["media_ref"]) for x in rows[0]["links"]]
        earlier: set[int] = set()
        parents_ok = True
        for log_id, _, parent in divs:
            parents_ok &= parent == ROOT_PARENT or parent in earlier
            earlier.add(log_id)
        want = fold_document([(m, list(truth["pages"][m]["truth_labels"])) for m in pages])
        if (
            not parents_ok
            or [m for _, m in links] != pages
            or (divs, links) != (list(want[0]), list(want[1]))
        ):
            bad.add(d)
    return bad


def check_checkpoints(truth: dict, ckpt_rows: list[dict], page_rows: list[dict],
                      n_buckets: int) -> set[int]:
    """One checkpoint row per committed bucket, each reconciling with the
    bucket's committed pages and documents, and the sums equal to the
    input's page and document counts. Returns the failing buckets."""
    pages_in = defaultdict(int)
    docs_in = defaultdict(set)
    for r in page_rows:
        pages_in[r["part_bucket"]] += 1
        docs_in[r["part_bucket"]].add(r["doc_id"])
    ids = Counter(r["partition_id"] for r in ckpt_rows)
    by_id = {r["partition_id"]: r for r in ckpt_rows}
    bad = {b for b in set(ids) | set(pages_in) if ids[b] != 1 or not 0 <= b < n_buckets}
    for b, r in by_id.items():
        if r["row_count"] != pages_in.get(b, 0) or r["doc_count"] != len(docs_in.get(b, ())):
            bad.add(b)
    if (
        sum(r["row_count"] for r in ckpt_rows) != len(truth["pages"])
        or sum(r["doc_count"] for r in ckpt_rows) != len(truth["doc_pages"])
    ):
        bad |= set(ids) | set(pages_in)
    return bad


def check_no_duplicates(page_rows: list[dict]) -> set[str]:
    """After a resume no (doc_id, media_ref) pair may be committed twice."""
    c = Counter((r["doc_id"], r["media_ref"]) for r in page_rows)
    return {m for (_, m), n in c.items() if n > 1}


def check_extraction(truth: dict, out_dir: str, n_buckets: int) -> dict:
    """All extraction checks over one pass's output. ``failed_pages`` is
    the set of input pages condemned by any check, ``failed`` its size and
    ``by_check`` the count each check condemns."""
    page_rows = _read(out_dir, "page_results")
    by_check: dict[str, set[str]] = {
        "pages": check_pages(truth, page_rows),
        "duplicates": check_no_duplicates(page_rows),
    }
    doc_pages = truth["doc_pages"]
    for name, docs in (
        ("spans", check_spans(truth, _read(out_dir, "extracted_spans"))),
        ("structure", check_structure(truth, _read(out_dir, "doc_structure"))),
    ):
        by_check[name] = {m for d in docs for m in doc_pages[d]}
    buckets = check_checkpoints(truth, _read(out_dir, "checkpoints"), page_rows, n_buckets)
    bucket_of = {r["media_ref"]: r["part_bucket"] for r in page_rows}
    by_check["checkpoints"] = {m for m in truth["pages"] if bucket_of.get(m) in buckets}
    failed = set().union(*by_check.values()) & set(truth["pages"])
    return {
        "attempted": len(truth["pages"]),
        "failed": len(failed),
        "failed_pages": failed,
        "by_check": {k: len(v) for k, v in by_check.items()},
    }


# ---------------------------------------------------------------------------
# queries: row count, column names and an order-insensitive hash against
# DuckDB running the query's oracle SQL on the same parquet files
# ---------------------------------------------------------------------------
def _cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _cell(x)) for k, x in sorted(v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def table_digest(table) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, md5 over the sorted canonical rows)."""
    cols = tuple(sorted(table.column_names))
    data = table.select(list(cols)).to_pylist()
    rows = sorted(repr(tuple(_cell(r[c]) for c in cols)) for r in data)
    return len(rows), cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
            )
    return con


def oracle_digests(sf_dir: str, queries, cache_dir: str) -> dict:
    """Digest of each query's DuckDB oracle result on ``sf_dir``. The
    inputs are fixed files, so the digests are computed once per
    (oracle SQL, input bytes) and kept in ``cache_dir``."""
    import json

    from ocrd_anybaseocr_spark.queries import ORACLE

    key = hashlib.md5()
    for q in queries:
        key.update(f"{q}\0{ORACLE[q]}\0".encode())
    for f in sorted(os.listdir(sf_dir)):
        key.update(f.encode() + open(os.path.join(sf_dir, f), "rb").read())
    path = os.path.join(cache_dir, f"oracle_{key.hexdigest()}.json")
    if os.path.exists(path):
        return {q: tuple(tuple(x) if isinstance(x, list) else x for x in v)
                for q, v in json.load(open(path)).items()}
    con = oracle_connection(sf_dir)
    out = {q: table_digest(con.execute(ORACLE[q]).fetch_arrow_table()) for q in queries}
    con.close()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
