"""Falsifiers for the benchmark's output checks: each planted fault must
be counted as failed by its check, and a faultless output must pass.

    python3 -m pytest -q perfbench/test_checks.py

No Spark: the "pipeline output" here is written with pyarrow from the
generator's truth, in the layout run_pipeline commits."""

from __future__ import annotations

import copy
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import (  # noqa: E402
    check_extraction,
    load_truth,
    oracle_connection,
    oracle_digests,
    table_digest,
)
from tracing import Tracer, covered_share, self_times  # noqa: E402

N_BUCKETS = 4


@pytest.fixture(scope="module")
def truth_dir(tmp_path_factory):
    from ocrd_anybaseocr_spark.synth import generate_corpus

    d = str(tmp_path_factory.mktemp("corpus"))
    generate_corpus(d, 6, seed=7)
    return d


def _expected_tables(truth: dict) -> dict[str, list[dict]]:
    """A faultless output, computed from the truth alone."""
    from ocrd_anybaseocr_spark.kernels.fold import fold_document

    bucket = {d: i % N_BUCKETS for i, d in enumerate(sorted(truth["doc_pages"]))}
    pages, spans, structure = [], [], []
    for d, refs in truth["doc_pages"].items():
        for no, m in enumerate(refs):
            t = truth["pages"][m]
            pages.append({"doc_id": d, "media_ref": m, "page_no": no,
                          "border": t["truth_border"], "labels": t["truth_labels"],
                          "skew": t["truth_skew"], "error": None, "part_bucket": bucket[d]})
        spans.append({"doc_id": d, "spans": truth["doc_spans"][d], "part_bucket": bucket[d]})
        divs, links = fold_document([(m, truth["pages"][m]["truth_labels"]) for m in refs])
        structure.append({
            "doc_id": d,
            "divs": [{"log_id": a, "label": b, "parent_id": c} for a, b, c in divs],
            "links": [{"log_id": a, "media_ref": b} for a, b in links],
            "part_bucket": bucket[d],
        })
    ckpt = []
    for b in sorted(set(bucket.values())):
        rows = [p for p in pages if p["part_bucket"] == b]
        ckpt.append({"partition_id": b, "doc_count": len({p["doc_id"] for p in rows}),
                     "row_count": len(rows), "latency_ms": 0, "lineage": "{}"})
    return {"page_results": pages, "extracted_spans": spans,
            "doc_structure": structure, "checkpoints": ckpt}


def _write(out: str, tables: dict[str, list[dict]]) -> str:
    shutil.rmtree(out, ignore_errors=True)
    for name, rows in tables.items():
        if name == "checkpoints":
            os.makedirs(os.path.join(out, name))
            pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, name, "part-0.parquet"))
            continue
        for b in sorted({r["part_bucket"] for r in rows}):
            part = [{k: v for k, v in r.items() if k != "part_bucket"}
                    for r in rows if r["part_bucket"] == b]
            d = os.path.join(out, name, f"part_bucket={b}")
            os.makedirs(d)
            pq.write_table(pa.Table.from_pylist(part), os.path.join(d, "part-0.parquet"))
    return out


@pytest.fixture()
def case(truth_dir, tmp_path):
    truth = load_truth(truth_dir)
    return truth, _expected_tables(truth), str(tmp_path / "out")


def _failed(truth, tables, out) -> dict:
    return check_extraction(truth, _write(out, tables), N_BUCKETS)


def _doc_with(truth, min_pages: int) -> str:
    return next(d for d, refs in sorted(truth["doc_pages"].items()) if len(refs) >= min_pages)


def test_faultless_output_passes(case):
    truth, tables, out = case
    r = _failed(truth, tables, out)
    assert r["attempted"] == len(truth["pages"]) and r["failed"] == 0, r


@pytest.mark.parametrize("edge,shift", [
    (0, 1),
    (3, 7),  # the kernels' known fault: the bottom edge put on the ruler bar below the frame
])
def test_wrong_border_fails_its_page(case, edge, shift):
    truth, tables, out = case
    row = tables["page_results"][0]
    row["border"] = list(row["border"])
    row["border"][edge] += shift
    r = _failed(truth, tables, out)
    assert r["failed"] == 1 and r["failed_pages"] == {row["media_ref"]}, r


def test_swapped_span_fails_its_document(case):
    truth, tables, out = case
    doc = _doc_with(truth, 1)
    row = next(r for r in tables["extracted_spans"] if r["doc_id"] == doc)
    s = copy.deepcopy(row["spans"])
    s[0], s[1] = s[1], s[0]
    row["spans"] = s
    r = _failed(truth, tables, out)
    assert r["failed"] == len(truth["doc_pages"][doc]) and r["by_check"]["spans"] == r["failed"], r


def test_wrong_fold_parent_fails_its_document(case):
    truth, tables, out = case
    doc = _doc_with(truth, 2)
    row = next(r for r in tables["doc_structure"] if r["doc_id"] == doc)
    row["divs"][-1]["parent_id"] = row["divs"][-1]["log_id"]  # itself: not an earlier div
    r = _failed(truth, tables, out)
    assert r["failed"] == len(truth["doc_pages"][doc]), r
    assert r["by_check"]["structure"] == r["failed"], r


def test_dropped_checkpoint_row_fails_its_bucket(case):
    truth, tables, out = case
    dropped = tables["checkpoints"].pop(0)
    r = _failed(truth, tables, out)
    # the sums no longer reconcile either, so every committed page fails
    assert r["failed"] >= dropped["row_count"] > 0 and r["by_check"]["checkpoints"] == r["failed"], r


def test_duplicated_page_after_resume_fails(case):
    truth, tables, out = case
    tables["page_results"].append(dict(tables["page_results"][0]))
    r = _failed(truth, tables, out)
    assert r["by_check"]["duplicates"] == 1 and r["failed"] >= 1, r


def test_perturbed_query_row_fails(tmp_path):
    from ocrd_anybaseocr_spark.queries import ORACLE

    q, sf = "dedup_exact_normalized", os.path.join(HERE, "data", "sf0.01")
    want = oracle_digests(sf, [q], str(tmp_path))[q]
    assert oracle_digests(sf, [q], str(tmp_path))[q] == want  # read back from the cache
    good = oracle_connection(sf).execute(ORACLE[q]).fetch_arrow_table()
    assert table_digest(good) == want
    rows = good.to_pylist()
    key = next(k for k, v in rows[0].items() if isinstance(v, int))
    rows[0][key] += 1
    assert table_digest(pa.Table.from_pylist(rows, schema=good.schema)) != want
    assert table_digest(good.slice(1)) != want  # a dropped row, too


def test_digest_ignores_row_and_column_order():
    t = pa.table({"a": [1, 2], "b": [0.5, None]})
    u = pa.table({"b": [None, 0.5], "a": [2, 1]})
    assert table_digest(t) == table_digest(u)


def test_self_time_counts_concurrent_children_once():
    tr = Tracer("t", enabled=True)
    tr.add("pass", 0.0, 10.0, None)
    tr.add("a", 1.0, 5.0, 0)
    tr.add("b", 2.0, 6.0, 0)  # overlaps a
    tr.add("c", 7.0, 8.0, 0)
    assert self_times(tr.spans)[0] == pytest.approx(10.0 - 6.0)
    assert covered_share(tr.spans, 0) == pytest.approx(0.6)


def test_run_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0 and p.stdout.strip() == "", (p.returncode, p.stdout)


def test_seed_lays_out_the_same_pages(tmp_path):
    from corpus import ensure_corpus, known_faults

    def pages(seed):
        d = ensure_corpus(str(tmp_path), seed, 4, 2)
        t = pq.read_table(os.path.join(d, "page_blobs.parquet"), columns=["media_ref", "image"])
        return d, dict(zip(t.column("media_ref").to_pylist(), t.column("image").to_pylist()))

    d1, p1 = pages(1)
    d2, p2 = pages(2)
    assert sorted(p1.values()) == sorted(p2.values()) and set(p1) != set(p2)
    assert pages(1)[1] == p1  # the same seed gives the same inputs
    for d, p in ((d1, p1), (d2, p2)):
        assert known_faults(d) <= set(p) and len(known_faults(d)) == 1
