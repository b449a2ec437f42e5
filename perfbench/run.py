#!/usr/bin/env python3
"""Benchmark of the extraction engine on local[nproc] from one driver.

    python3 perfbench/run.py --workload extract_full --seed 42 --seconds 10 --trace 0

Each run starts a session, runs one full unmeasured pass of its workload
(the cold-worker pass, counted in ``setup_s``), then times whole passes
until ``--seconds`` of pass wall time have elapsed and reports throughput
over their total wall. Outputs are checked against values computed apart
from the program. The last stdout line is one JSON object; ``--trace 1``
reports the per-layer metrics instead of the end-to-end ones, adds one
resumed pass to ``extract_full`` and writes the run's spans to
``perfbench/.work/trace_<workload>_s<seed>.json``.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
QUERY_DIR = os.path.join(HERE, "data", "sf0.01")

N_DOCS = 180  # bench-profile pool documents (+1 fault document): 554 pages, 16 buckets
RESUME_EVERY = 4  # buckets b % 4 == 0 are left for the resumed pass
KERNEL_SAMPLE = 40  # pages in the single-process traced kernel pass
KERNEL_REPS = 3
QUERY_LIST = (
    "dedup_exact_normalized",
    "dedup_jaccard_ngram",
    "dedup_minhash_verified",
    "dedup_incremental",
    "dedup_clusters",
    "dedup_paragraph",
    "token_windows",
    "lm_bigram_cross_entropy",
    "collocations_pmi",
    "ann_pq_adc",
    "dedup_embedding_clusters",
)
KERNEL_STAGES = {
    # process_page's callees, wrapped where process_page looks them up
    ("oracle", "decode_gray"): "png.decode_gray",
    ("binarize", "normalize_gray"): "binarize.normalize_gray",
    ("binarize", "otsu_stats"): "binarize.otsu_stats",
    ("oracle", "otsu_threshold"): "binarize.otsu_stats",
    ("oracle", "runs_from_image"): "components.runs",
    ("components", "close_runs"): "components.runs",
    ("oracle", "zoom_runs"): "components.runs",
    ("oracle", "estimate_shear_from_runs"): "deskew.shear",
    ("oracle", "unshear_runs"): "deskew.shear",
    ("oracle", "unshear"): "deskew.shear",
    ("oracle", "labeled_runs"): "components.labeled_runs",
    ("oracle", "detect_ruler"): "crop.border",
    ("oracle", "detect_border"): "crop.border",
    ("oracle", "classify_page"): "classify.classify_page",
}
STAGE_NAMES = sorted(set(KERNEL_STAGES.values()))
PHASES = {
    # run_pipeline's timings -> layer metric names
    "count_docs": "pipeline.count_docs_s",
    "ckpt_probe": "pipeline.ckpt_probe_s",
    "page_results_write": "pipeline.page_results_write_s",
    "extracted_write": "extract.extracted_write_s",
    "metrics_collect": "pipeline.metrics_collect_s",
    "fold_write": "fold.fold_write_s",
    "checkpoint_append": "pipeline.checkpoint_append_s",
}
# a resumed pass's layers, reported as resume.<name after the dot>
RESUME_LAYERS = ("pipeline.pass_s", "pipeline.page_results_write_s",
                 "pipeline.kernel_ms_per_page", "pipeline.udf_overhead_ms_per_page",
                 "trace.pass_accounted_share")
# phases run_pipeline overlaps: (blocking-path phase, concurrent phase)
CONCURRENT = (("page_results_write", "extracted_write"), ("fold_write", "metrics_collect"))
PHASE_ORDER = ("count_docs", "ckpt_probe", CONCURRENT[0], CONCURRENT[1], "checkpoint_append")

PER_LAYER_UNITS = {
    **{f"{s}_ms": "ms" for s in STAGE_NAMES},
    "oracle.process_page_ms": "ms",
    "oracle.process_page_degraded_ms": "ms",
    "pipeline.kernel_ms_per_page": "ms",
    "pipeline.udf_overhead_ms_per_page": "ms",
    **{v: "s" for v in PHASES.values()},
    "pipeline.output_mb": "MB",
    "resume.pass_s": "s",
    "resume.page_results_write_s": "s",
    "resume.kernel_ms_per_page": "ms",
    "resume.udf_overhead_ms_per_page": "ms",
    "resume.pass_accounted_share": "ratio",
    **{f"queries.{q}_s": "s" for q in QUERY_LIST},
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.persisted_rdds": "count",
    "tables.session_start_s": "s",
    "setup.first_pass_s": "s",
    "proc.jvm_peak_rss_mb": "MB",
    "proc.worker_peak_rss_mb": "MB",
    "trace.pass_accounted_share": "ratio",
    "trace.kernel_accounted_share": "ratio",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _environment(cores: int, run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the program from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"
        f" --driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " pyspark-shell"
    )


def _import_program():
    sys.path.insert(0, ROOT)
    try:
        import ocrd_anybaseocr_spark
    except ImportError as e:
        sys.exit(f"perfbench: the program is not in this checkout ({e})")
    if not os.path.abspath(ocrd_anybaseocr_spark.__file__).startswith(ROOT + os.sep):
        sys.exit("perfbench: ocrd_anybaseocr_spark was imported from outside the checkout")


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# workloads: first_pass() once, then prepare() + run_pass() + check() per pass
# ---------------------------------------------------------------------------
class Extract:
    def __init__(self, spark, tracer, corpus: str, truth: dict, run_dir: str,
                 cores: int, resume: bool):
        from ocrd_anybaseocr_spark.operators.pipeline import derive_buckets

        self.spark, self.tracer, self.corpus, self.truth = spark, tracer, corpus, truth
        self.resume, self.n_parts = resume, cores * 8
        self.n_buckets = derive_buckets(len(truth["doc_pages"]))
        self.out = os.path.join(run_dir, "out")
        # the unmeasured pass writes here; resumed passes start from a
        # three-quarter snapshot cut from it
        self.snapshot = os.path.join(run_dir, "snapshot")
        self.summaries: list[dict] = []

    def _run(self, out: str, resume: bool) -> dict:
        from ocrd_anybaseocr_spark.operators.pipeline import run_pipeline

        return run_pipeline(self.spark, self.corpus, out, n_parts=self.n_parts, resume=resume)

    def first_pass(self) -> None:
        self._run(self.snapshot, resume=False)
        if self.resume:
            with self.tracer.span("setup.snapshot"):
                self.cut_snapshot()

    def cut_snapshot(self) -> None:
        """Three quarters of the buckets committed and checkpointed; the
        other quarter crashed after its page and span commits, before its
        fold and checkpoint: their doc_structure partitions are gone and
        their checkpoint rows were never appended."""
        import pyarrow.parquet as pq

        todo = {b for b in range(self.n_buckets) if b % RESUME_EVERY == 0}
        for b in todo:
            shutil.rmtree(os.path.join(self.snapshot, "doc_structure", f"part_bucket={b}"),
                          ignore_errors=True)
        ck = os.path.join(self.snapshot, "checkpoints")
        rows = pq.read_table(ck)
        keep = rows.filter([p not in todo for p in rows.column("partition_id").to_pylist()])
        shutil.rmtree(ck)
        os.makedirs(ck)
        pq.write_table(keep, os.path.join(ck, "part-00000.parquet"))

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        if self.resume:
            shutil.copytree(self.snapshot, self.out)

    def run_pass(self) -> int:
        s = self._run(self.out, resume=self.resume)
        self.summaries.append(s)
        return s["pages"]

    def check(self) -> tuple[int, int, int, dict]:
        """(attempted, failed, failed beyond the known faults, by check)."""
        from checks import check_extraction

        r = check_extraction(self.truth, self.out, self.n_buckets)
        unexpected = r["failed_pages"] - self.truth["known_faults"]
        return r["attempted"], r["failed"], len(unexpected), r["by_check"]


class Queries:
    """The query list, timed from a fresh session: no unmeasured pass
    (see README, "Run budget"). Every timed result is collected and
    checked, so the sink is toArrow rather than noop."""

    first_pass = None

    def __init__(self, spark, tracer):
        import ocrd_anybaseocr_spark.queries  # noqa: F401 — a session loads the surface once

        self.spark, self.tracer = spark, tracer
        self.results: dict = {}
        self.errors: dict[str, str] = {}
        self.expected: dict | None = None

    def prepare(self) -> None:
        # every pass starts from empty session caches, as a fresh driver would
        from ocrd_anybaseocr_spark.operators import dedup, media, similarity, textstats, tokenize

        for m in (dedup, media, similarity, textstats, tokenize):
            m.clear_caches()

    def run_pass(self) -> int:
        from ocrd_anybaseocr_spark.queries import QUERIES

        self.results = {}
        for q in QUERY_LIST:
            with self.tracer.span(f"queries.{q}"):
                try:
                    self.results[q] = QUERIES[q](self.spark, QUERY_DIR).toArrow()
                except Exception as e:  # noqa: BLE001 — counted as a failed query
                    self.errors.setdefault(q, f"{type(e).__name__}: {e}"[:300])
        return len(self.results)

    def check(self) -> tuple[int, int, int, dict]:
        from checks import oracle_digests, table_digest

        if self.expected is None:
            self.expected = oracle_digests(QUERY_DIR, QUERY_LIST, WORK)
        bad = {q for q in QUERY_LIST if q not in self.results}
        bad |= {q for q, t in self.results.items() if table_digest(t) != self.expected[q]}
        if bad:
            print(f"perfbench: queries failing their oracle: {sorted(bad)} {self.errors}",
                  file=sys.stderr)
        return len(QUERY_LIST), len(bad), len(bad), {"oracle": len(bad), "errors": len(self.errors)}


# ---------------------------------------------------------------------------
# traced-only layers
# ---------------------------------------------------------------------------
def kernel_layers(tracer, corpus: str) -> dict:
    """Single-process traced passes over a fixed sample of the corpus's
    pages, clean and degraded, with every kernel stage wrapped where
    process_page calls it. Returns ms/page medians over the passes."""
    import pyarrow.parquet as pq
    from corpus import degraded_pages
    from tracing import self_times

    import ocrd_anybaseocr_spark.kernels.binarize as binarize
    import ocrd_anybaseocr_spark.kernels.components as components
    import ocrd_anybaseocr_spark.oracle as oracle

    blobs = pq.read_table(os.path.join(corpus, "page_blobs.parquet"),
                          columns=["media_ref", "image"]).to_pylist()
    step = max(1, len(blobs) // KERNEL_SAMPLE)
    sample = blobs[::step][:KERNEL_SAMPLE]
    degraded = degraded_pages(corpus, [b["media_ref"] for b in sample])
    tiers = {"clean": [b["image"] for b in sample],
             "degraded": [degraded[b["media_ref"]] for b in sample]}
    modules = {"oracle": oracle, "binarize": binarize, "components": components}
    saved = {(m, f): getattr(modules[m], f) for m, f in KERNEL_STAGES}
    for (m, f), name in KERNEL_STAGES.items():
        setattr(modules[m], f, tracer.wrap(name, saved[(m, f)]))
    process_page = tracer.wrap("oracle.process_page", oracle.process_page)
    per_pass: dict[str, list[float]] = {}
    try:
        for rep in range(KERNEL_REPS):
            for tier, pages in tiers.items():
                with tracer.span(f"kernel_pass.{tier}", rep=rep) as sp:
                    for png in pages:
                        process_page(png)
                if tier != "clean":
                    name = "oracle.process_page_degraded_ms"
                    dur = sum(s["end"] - s["start"] for s in tracer.spans[sp["id"]:]
                              if s["name"] == "oracle.process_page")
                    per_pass.setdefault(name, []).append(dur * 1e3 / len(pages))
                    continue
                spans = tracer.spans[sp["id"]:]
                selfs = self_times(spans)
                by = dict.fromkeys(STAGE_NAMES, 0.0)
                for s in spans:
                    if s["name"] in by:
                        by[s["name"]] += selfs[s["id"]]
                pp = sum(s["end"] - s["start"] for s in spans if s["name"] == "oracle.process_page")
                for stage in STAGE_NAMES:
                    per_pass.setdefault(f"{stage}_ms", []).append(by[stage] * 1e3 / len(pages))
                per_pass.setdefault("oracle.process_page_ms", []).append(pp * 1e3 / len(pages))
                per_pass.setdefault("trace.kernel_accounted_share", []).append(sum(by.values()) / pp)
    finally:
        for (m, f), fn in saved.items():
            setattr(modules[m], f, fn)
    return {k: _median(v) for k, v in per_pass.items()}


def _phase_spans(tracer, pass_span: dict, timings: dict) -> float:
    """Lay run_pipeline's phase timings out along its blocking path as
    child spans of the pass (concurrent phases side by side) and return
    the share of the pass wall they account for."""
    from tracing import covered_share

    t = pass_span["start"]
    for step in PHASE_ORDER:
        names = step if isinstance(step, tuple) else (step,)
        longest = 0.0
        for n in names:
            if n in timings:
                tracer.add(PHASES[n], t, t + timings[n], pass_span["id"], derived=True)
                longest = max(longest, timings[n])
        t += longest
    return covered_share(tracer.spans, pass_span["id"])


def _pipeline_layers(wl: Extract, passes: list[dict]) -> dict:
    """Medians over the passes of run_pipeline's phase timings, the in-UDF
    kernel time and the page stage's executor time beyond it."""
    out = {}
    summ = [p["summary"] for p in passes]
    for phase, name in PHASES.items():
        out[name] = _median([s["timings"].get(phase, 0.0) for s in summ])
    out["pipeline.kernel_ms_per_page"] = _median([s["kernel_ms"] / s["pages"] for s in summ])
    # the page stage: the pass's stage with n_parts tasks (the salted
    # repartition) that ran longest
    over = []
    for s, p in zip(summ, passes):
        page = [x for x in p["stats"]["stages"] if x[2] == wl.n_parts]
        if page:
            over.append((max(x[3] for x in page) - s["kernel_ms"]) / s["pages"])
    out["pipeline.udf_overhead_ms_per_page"] = _median(over)
    out["pipeline.pass_s"] = _median([p["wall"] for p in passes])
    out["trace.pass_accounted_share"] = _median([p["share"] for p in passes])
    return out


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_full", "extract_resume", "dedup_queries"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    _import_program()
    sys.path.insert(0, HERE)
    import probes
    from tracing import Tracer, covered_share

    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    os.makedirs(WORK, exist_ok=True)
    for d in os.listdir(WORK):  # leftovers of runs that were killed
        if d.startswith("run_") and not os.path.exists(f"/proc/{d[4:]}"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    _environment(cores, run_dir)

    extract = args.workload.startswith("extract")
    gen_s = 0.0
    if extract:
        from checks import load_truth
        from corpus import ensure_corpus, known_faults

        t = time.monotonic()
        corpus = ensure_corpus(WORK, args.seed, N_DOCS, cores)
        truth = load_truth(corpus)
        truth["known_faults"] = known_faults(corpus)
        gen_s = time.monotonic() - t

    from ocrd_anybaseocr_spark.sources.tables import spark_session

    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", enabled=trace)
    sampler = probes.RssSampler().start() if trace else None
    layers: dict[str, float] = {}
    with tracer.span("setup"):
        with tracer.span("tables.session_start"):
            t = time.monotonic()
            spark = spark_session(cores=cores, shuffle_partitions=max(cores, 16))
            layers["tables.session_start_s"] = time.monotonic() - t
        spark.sparkContext.setLogLevel("ERROR")
        if extract:
            wl = Extract(spark, tracer, corpus, truth, run_dir, cores,
                         resume=args.workload == "extract_resume")
        else:
            wl = Queries(spark, tracer)
        if wl.first_pass:
            with tracer.span("setup.first_pass"):
                t = time.monotonic()
                wl.first_pass()
                layers["setup.first_pass_s"] = time.monotonic() - t
    setup_s = time.monotonic() - T_START - gen_s

    store = probes.StatusStore(spark) if trace else None
    resumed = None
    attempted = failed = unexpected = 0
    by_check: dict[str, int] = {}

    def timed_pass(label: str) -> dict:
        """One prepared, timed and checked pass; its readings."""
        nonlocal attempted, failed, unexpected
        wl.prepare()
        if store:
            store.begin(f"perfbench.{args.workload}.{label}")
        c0 = probes.tree_cpu_s()
        with tracer.span("pass", label=label) as sp:
            t = time.monotonic()
            n = wl.run_pass()
            p = {"wall": time.monotonic() - t, "items": n}
        p["cpu"] = probes.tree_cpu_s() - c0
        if store:
            p["stats"] = store.end()
            p["persisted"] = store.persisted_rdds()
            if extract:
                p["share"] = _phase_spans(tracer, sp, wl.summaries[-1]["timings"])
                p["summary"] = wl.summaries[-1]
            else:
                p["share"] = covered_share(tracer.spans, sp["id"])
        a, f, u, bc = wl.check()
        attempted, failed, unexpected = attempted + a, failed + f, unexpected + u
        for k, v in bc.items():
            by_check[k] = by_check.get(k, 0) + v
        return p

    passes: list[dict] = []
    while sum(p["wall"] for p in passes) < args.seconds or not passes:
        passes.append(timed_pass(f"pass{len(passes)}"))
    walls = [p["wall"] for p in passes]
    items = sum(p["items"] for p in passes)
    end_to_end = {
        "items_per_sec": {"value": items / sum(walls), "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s_per_item": {"value": sum(p["cpu"] for p in passes) / max(1, items), "unit": "s"},
    }

    if trace:
        stats = [p["stats"] for p in passes]
        if extract:
            layers.update(_pipeline_layers(wl, passes))
            layers["pipeline.output_mb"] = _dir_mb(wl.out)
            r = layers
            if not wl.resume:
                # the probe and the resume-only paths (done-bucket filter,
                # appends to existing checkpoints) run only when resuming:
                # one resumed pass from the cold pass's output gives them
                # figures on this workload too
                with tracer.span("setup.snapshot"):
                    wl.cut_snapshot()
                wl.resume = True
                resumed = timed_pass("resume")
                r = _pipeline_layers(wl, [resumed])
                layers["pipeline.ckpt_probe_s"] = r["pipeline.ckpt_probe_s"]
            for k in RESUME_LAYERS:
                layers[f"resume.{k.split('.', 1)[1]}"] = r[k]
            layers.update(kernel_layers(tracer, corpus))
        else:
            for q in QUERY_LIST:
                durs = [s["end"] - s["start"] for s in tracer.spans if s["name"] == f"queries.{q}"]
                layers[f"queries.{q}_s"] = _median(durs)
            layers["trace.pass_accounted_share"] = _median([p["share"] for p in passes])
        for k in ("tasks", "executor_run_s", "input_mb", "shuffle_write_mb",
                  "shuffle_read_mb", "spill_mb", "task_skew"):
            layers[f"spark.{k}"] = _median([s[k] for s in stats])
        layers["spark.persisted_rdds"] = passes[-1]["persisted"]

    t_stop = time.monotonic()
    _stop_session(spark)
    t_stop = time.monotonic() - t_stop
    if sampler:
        sampler.stop()
        layers["proc.jvm_peak_rss_mb"] = sampler.jvm_peak_mb
        layers["proc.worker_peak_rss_mb"] = sampler.worker_peak_mb
    if trace:
        path = os.path.join(WORK, f"trace_{args.workload}_s{args.seed}.json")
        tracer.write(path, {"end_to_end": end_to_end, "layers": layers, "by_check": by_check,
                            "passes": [{k: v for k, v in p.items() if k != "summary"}
                                       for p in passes + [resumed] if p]})
    shutil.rmtree(run_dir, ignore_errors=True)
    left = probes.descendants()
    if left:
        print(f"perfbench: child processes still running: {left}", file=sys.stderr)

    if trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = end_to_end
    print(f"perfbench: inputs={gen_s:.1f}s setup={setup_s:.1f}s passes={len(walls)} "
          f"walls={[round(w, 2) for w in walls]} stop={t_stop:.1f}s "
          f"total={time.monotonic() - T_START:.1f}s checks={by_check}", file=sys.stderr)
    # every failed operation is counted in `failed`; `correct` is false when
    # one fails beyond the known kernel fault (corpus.KNOWN_FAULT_PAGES)
    print(json.dumps({"correct": unexpected == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
