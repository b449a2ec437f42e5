"""Seeded benchmark inputs, made once per key and cached under the
benchmark's own work directory (never inside a timed step).

The page corpus is a fixed *pool* of generated documents, laid out by
``--seed``:

- the pool is documents 0 .. n_docs-1 of ``synth.generate_doc(POOL_SEED, i,
  bench=True)`` plus FAULT_DOC. Its pixels, and so the kernel work and the
  kernels' results, are the same for every ``--seed``;
- ``--seed`` shuffles the pool's documents and gives them new ids. The ids
  decide each document's output bucket (``hash(doc_id)``) and the salt of
  each page's task, and the order decides the row groups of the blob scan,
  so the seed changes how the work is laid out over tasks and buckets, not
  how much work there is or which pages a kernel fault hits.

Drawing the pages themselves from ``--seed`` would let the seed decide both
the total work (a corpus of a few hundred pages swings by more than ten per
cent in pages and pixels from seed to seed) and whether the known kernel
fault below shows at all (it hits about one page in 700).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import random
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq

POOL_SEED = 42
# A document with one page on which the kernels miss exact recovery: the
# border's bottom edge is put on the ruler bar drawn just below the frame
# (y2 720 against truth 713). The page check counts it as failed in every
# pass; KNOWN_FAULT_PAGES names it by its page suffix.
FAULT_DOC = (103, 5)
KNOWN_FAULT_PAGES = ((FAULT_DOC, "p001"),)


def _draw(key):
    from ocrd_anybaseocr_spark.synth import generate_doc

    return generate_doc(*key, bench=True)


def _split(ref: str) -> tuple[str, str]:
    doc, page = ref.rsplit("_", 1)
    return doc, page


def _pool(work: str, n_docs: int, procs: int) -> str:
    """The pool's documents and pages, generated once per (n_docs,
    SYNTH_VERSION) in key order (see ensure_corpus)."""
    from ocrd_anybaseocr_spark import schema as S
    from ocrd_anybaseocr_spark.synth import SYNTH_VERSION
    from pyspark.sql.pandas.types import to_arrow_schema

    d = os.path.join(work, f"pool_d{n_docs}_v{SYNTH_VERSION}")
    if os.path.exists(os.path.join(d, ".complete")):
        return d
    keys = [(POOL_SEED, i) for i in range(n_docs)] + [FAULT_DOC]
    # fork, not spawn: spawn would leave multiprocessing's resource-tracker
    # process running after the benchmark exits. Fork is safe here because
    # the inputs are made before the run starts Spark or any other thread.
    if threading.active_count() != 1:
        raise RuntimeError("corpus generation must run before any thread starts")
    with mp.get_context("fork").Pool(procs) as pool:
        drawn = pool.map(_draw, keys, chunksize=8)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist([doc for doc, _ in drawn], schema=to_arrow_schema(S.DOCUMENTS)),
                   os.path.join(d, "documents.parquet"))
    pq.write_table(
        pa.Table.from_pylist([b for _, pages in drawn for b in pages],
                             schema=to_arrow_schema(S.PAGE_BLOBS)),
        os.path.join(d, "page_blobs.parquet"),
    )
    with open(os.path.join(d, "keys.json"), "w") as f:
        json.dump({"keys": keys, "pages": [len(pages) for _, pages in drawn]}, f)
    open(os.path.join(d, ".complete"), "w").write("ok")
    return d


def ensure_corpus(work: str, seed: int, n_docs: int, procs: int) -> str:
    """Path of the corpus for (seed, n_docs, SYNTH_VERSION), made if absent.
    ``origin.json`` in it maps each document id to its pool key."""
    from ocrd_anybaseocr_spark.synth import SYNTH_VERSION

    d = os.path.join(work, f"corpus_s{seed}_d{n_docs}_v{SYNTH_VERSION}")
    if os.path.exists(os.path.join(d, ".complete")):
        return d
    pool = _pool(work, n_docs, procs)
    with open(os.path.join(pool, "keys.json")) as f:
        meta = json.load(f)
    keys = [tuple(k) for k in meta["keys"]]
    docs = pq.read_table(os.path.join(pool, "documents.parquet"))
    blobs = pq.read_table(os.path.join(pool, "page_blobs.parquet"))
    order = list(range(len(keys)))
    rng = random.Random(seed)
    rng.shuffle(order)
    ids = [f"doc{n:06d}" for n in rng.sample(range(10**6), len(keys))]

    # pages of pool document i are the rows first_page[i] .. first_page[i+1]-1
    refs = blobs.column("media_ref").to_pylist()
    first_page = [0]
    for n in meta["pages"]:
        first_page.append(first_page[-1] + n)
    rows = [r for i in order for r in range(first_page[i], first_page[i + 1])]
    pages = blobs.take(rows)
    doc_rows = docs.take(order).to_pylist()
    new_refs = []
    for new_id, i, doc in zip(ids, order, doc_rows):
        doc["doc_id"] = new_id
        for s in doc["spans"]:
            if s["media_ref"] is not None:
                s["media_ref"] = f"{new_id}_{_split(s['media_ref'])[1]}"
        new_refs += [f"{new_id}_{_split(refs[r])[1]}" for r in range(first_page[i], first_page[i + 1])]
    pages = pages.set_column(pages.schema.get_field_index("media_ref"), pages.schema.field("media_ref"),
                             pa.array(new_refs, pa.string()))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(doc_rows, schema=docs.schema),
                   os.path.join(d, "documents.parquet"))
    # the same ~2 MB row groups generate_corpus writes, so scans split alike
    pq.write_table(pages, os.path.join(d, "page_blobs.parquet"), row_group_size=64)
    with open(os.path.join(d, "origin.json"), "w") as f:
        json.dump({ids[k]: keys[i] for k, i in enumerate(order)}, f)
    open(os.path.join(d, ".complete"), "w").write("ok")
    return d


def _origin(corpus_dir: str) -> dict[str, tuple[int, int]]:
    with open(os.path.join(corpus_dir, "origin.json")) as f:
        return {k: tuple(v) for k, v in json.load(f).items()}


def known_faults(corpus_dir: str) -> set[str]:
    """KNOWN_FAULT_PAGES under this corpus's document ids."""
    by_key = {v: k for k, v in _origin(corpus_dir).items()}
    return {f"{by_key[key]}_{page}" for key, page in KNOWN_FAULT_PAGES}


def degraded_pages(corpus_dir: str, media_refs: list[str]) -> dict[str, bytes]:
    """The same pages on the generator's degraded tier (scanner noise,
    shading, bleed-through), regenerated from their pool keys."""
    from ocrd_anybaseocr_spark.synth import generate_doc

    origin = _origin(corpus_dir)
    wanted = set(media_refs)
    out: dict[str, bytes] = {}
    for doc_id in sorted({_split(m)[0] for m in media_refs}):
        _, blobs = generate_doc(*origin[doc_id], bench=True, degraded=True)
        for b in blobs:
            m = f"{doc_id}_{_split(b['media_ref'])[1]}"
            if m in wanted:
                out[m] = b["image"]
    return out
