"""The two workloads and the run loop that measures them.

Both are closed loops with one client at ``local[4]``: the next call starts
when the previous one has returned. Every timer wraps public calls of the
program only; inputs and oracle expectations are staged before the first
timer starts, and outputs are checked after each call's timer stops.

* ``bulk_extract`` — ``DocprocSpark.extract_table`` jobs over a staged span
  corpus with no mega document, each consumed by a per-document md5
  projection of the markdown and the span sequence (every output byte is
  read on the executors) and checked against ``oracle.flagship_summary``.
* ``files_resume`` — a generated directory of PDF, DOCX, PPTX, XLSX and HTML
  files with exact and near duplicates and one large page that the
  pipeline routes to its salted mega-document path: ``load_files`` → ``extract_table`` →
  ``first_wins_dedupe`` + ``minhash_neardup_pairs`` →
  ``export_markdown_files``. Its traced run adds a ``run_with_lineage``
  job crashed part-way with ``fail_after`` and resumed, and a direct
  ``extract_salted`` call on the routed rows.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import time

from perfbench import host, inputs
from perfbench.eventlog import event_log_conf, read_events, stage_metrics
from perfbench.tracing import JobCounter, Tracer

CORES = 4

# The benchmark's own size parameters: "full" is what BENCHMARK.json runs,
# "tiny" is for the smoke test. "call_s" is the nominal seconds of one call
# on 4 CPUs: a run makes max(MIN_CALLS, ceil(--seconds / call_s)) calls, so
# the number of calls, and with it each call's place in the JIT warm-up, is
# the same in every run.
SIZES = {
    "bulk_extract": {
        "full": {"n_docs": 3000, "n_files": 8, "call_s": 5.0},
        "tiny": {"n_docs": 48, "n_files": 2, "call_s": 5.0},
    },
    "files_resume": {
        "full": {"n_files": 40, "dup": 0.1, "near": 0.1, "call_s": 10.0},
        "tiny": {"n_files": 10, "dup": 0.2, "near": 0.2, "call_s": 10.0},
    },
}

SETUPS = 2  # set-ups per untraced run; setup_s is their median
MIN_CALLS = 1  # measured calls per untraced run at least


class Ctx:
    """What one unit of work needs: the live session, the tracer and, in
    the traced session, the job-group counter."""

    def __init__(self, spark, eng, tracer: Tracer, jobs: JobCounter | None,
                 corrupt: bool):
        self.spark, self.eng, self.tracer, self.jobs = spark, eng, tracer, jobs
        self.corrupt = corrupt

    def group(self, name: str) -> None:
        if self.jobs is not None:
            self.jobs.set_group(name)


def _force_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


# ---------------------------------------------------------------------------
# bulk_extract
# ---------------------------------------------------------------------------
class BulkExtract:
    def __init__(self, work: str, seed: int, size: dict):
        self.seed, self.size = seed, size
        base = os.path.join(work, "inputs", f"bulk-s{seed}-n{size['n_docs']}")
        self.corpus = os.path.join(base, "corpus")
        meta = inputs.stage_span_corpus(
            self.corpus, size["n_docs"], seed, n_files=size["n_files"]
        )
        if meta["routed"]:
            raise RuntimeError(f"seed {seed} made documents over the mega threshold: "
                               f"{meta['routed'][:5]}")
        self.expected = meta["expected"]

    def _projected(self, ctx: Ctx, path: str):
        from pyspark.sql import functions as F

        res = ctx.eng.extract_table(ctx.spark.read.parquet(path))
        span_strs = F.transform(
            F.col("spans"),
            lambda s: F.concat_ws(
                "\x1f", s["kind"], s["text"], F.coalesce(s["media_ref"], F.lit("")),
                s["offset"].cast("string"),
            ),
        )
        return res.select(
            "doc_id", "n_pages", F.size("spans").alias("n_spans"),
            F.md5(F.col("markdown")).alias("md_hash"),
            F.md5(F.array_join(span_strs, "\x1e")).alias("span_hash"),
        )

    def warmup(self, ctx: Ctx) -> None:
        self._projected(ctx, self.corpus).collect()

    def unit(self, ctx: Ctx, tag: str) -> dict:
        tr = ctx.tracer
        t0 = host.stamp()
        ctx.group(f"{tag}-construct")
        with tr.span("pipeline.construct"):
            proj = self._projected(ctx, self.corpus)
        ctx.group(f"{tag}-plan")
        with tr.span("pipeline.plan"):
            _force_plan(proj)
        ctx.group(f"{tag}-exec")
        with tr.span("pipeline.exec"):
            rows = proj.collect()
        wall, cpu = host.since(t0)
        got = [(r["doc_id"], (r["n_pages"], r["n_spans"], r["md_hash"], r["span_hash"]))
               for r in rows]
        _break_first(ctx, got)
        return {"wall": wall, "cpu": cpu, "docs": len(self.expected),
                "failed": _mismatches(got, self.expected)}

    def kernel_texts(self) -> tuple[list[str], list[str]]:
        return inputs.sample_texts(self.size["n_docs"], self.seed)

    def traced_extras(self, ctx: Ctx) -> dict:
        return {"failed": 0, "attempted": 0, "counts": {}, "layer_times": {}}


def _summaries(rows) -> list[tuple[str, tuple]]:
    """(doc_id, (n_pages, n_spans, md_hash, span_hash)) per collected
    output row."""
    return [(r["doc_id"], (r["n_pages"], len(r["spans"] or []),
                           *inputs.summary_hashes(r["markdown"], r["spans"] or [])))
            for r in rows]


def _break_first(ctx: Ctx, got: list[tuple[str, tuple]]) -> None:
    """Corrupt the first row's span hash in the first call of a session made
    with ``corrupt`` set (the smoke test's one bad row)."""
    if ctx.corrupt and got:
        got[0] = (got[0][0], got[0][1][:3] + ("0" * 32,))
        ctx.corrupt = False


def _mismatches(got: list[tuple[str, tuple]], expected: dict) -> int:
    """Docs whose output differs from the oracle, plus docs missing from the
    output and docs emitted more than once."""
    seen: set[str] = set()
    bad = 0
    for doc_id, val in got:
        if doc_id in seen or tuple(val) != tuple(expected.get(doc_id, ())):
            bad += 1
        seen.add(doc_id)
    return bad + len(set(expected) - seen)


# ---------------------------------------------------------------------------
# files_resume
# ---------------------------------------------------------------------------
class FilesResume:
    N_PARTS = 2  # lineage buckets; the crash comes after the first

    def __init__(self, work: str, seed: int, size: dict):
        self.seed, self.size, self.work = seed, size, work
        base = os.path.join(work, "inputs", f"files-s{seed}-n{size['n_files']}")
        self.dir = os.path.join(base, "dir")
        self.meta = inputs.make_file_dir(
            self.dir, size["n_files"], seed, size["dup"], size["near"], big_page=True
        )
        self.expected = self.meta["expected"]
        self.exact = {tuple(p) for p in self.meta["exact_dups"]}
        self.routed = set(self.meta["routed"])
        self.one_shot: dict[str, tuple] = {}

    def _ok_docs(self, ctx: Ctx, path: str):
        from pyspark.sql import functions as F

        return ctx.eng.load_files(path).filter(F.col("parse_error").isNull())

    def _curate(self, ctx: Ctx, path: str, md_dir: str, tag: str):
        from docproc_spark.operators.dedupe import first_wins_dedupe, minhash_neardup_pairs
        from docproc_spark.sources.writers import export_markdown_files

        tr = ctx.tracer
        ctx.group(f"{tag}-construct")
        with tr.span("sources.load_files"):
            docs = self._ok_docs(ctx, path)
        with tr.span("pipeline.construct"):
            res = ctx.eng.extract_table(docs)
        ctx.group(f"{tag}-plan")
        with tr.span("pipeline.plan"):
            _force_plan(res)
        ctx.group(f"{tag}-exec")
        with tr.span("pipeline.exec"):
            table = res.localCheckpoint(eager=True)
        ctx.group(f"{tag}-dedupe")
        with tr.span("dedupe.first_wins"):
            kept = first_wins_dedupe(table, text_col="markdown")
            kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        with tr.span("dedupe.minhash_neardup"):
            pairs = minhash_neardup_pairs(table, text_col="markdown").collect()
        ctx.group(f"{tag}-write")
        with tr.span("writers.export_markdown"):
            n_written = export_markdown_files(kept, md_dir)
        return table, kept_ids, pairs, n_written

    def warmup(self, ctx: Ctx) -> None:
        md_dir = os.path.join(self.work, "run", "md-warmup")
        self._curate(ctx, self.dir, md_dir, "warmup")[0].unpersist()
        shutil.rmtree(md_dir, ignore_errors=True)

    def unit(self, ctx: Ctx, tag: str) -> dict:
        md_dir = os.path.join(self.work, "run", f"md-{tag}")
        persisted_before = _persisted(ctx)
        t0 = host.stamp()
        table, kept_ids, pairs, n_written = self._curate(ctx, self.dir, md_dir, tag)
        wall, cpu = host.since(t0)
        rows = table.select("doc_id", "markdown", "n_pages", "spans").collect()
        got = _summaries(rows)
        _break_first(ctx, got)
        self.one_shot = dict(got)
        failed = _mismatches(got, self.expected)
        # dedupe: exactly the exact copies drop, and each copy pairs with
        # its original in the near-duplicate output
        dropped = set(self.expected) - kept_ids
        failed += len(dropped ^ {dup for _, dup in self.exact})
        found = {(r["a"], r["b"]) for r in pairs} | {(r["b"], r["a"]) for r in pairs}
        failed += sum(1 for p in self.exact if p not in found)
        failed += _md_file_mismatches(md_dir, kept_ids, self.expected, n_written)
        md_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(md_dir, "*.md")))
        table.unpersist()
        del table, rows
        shutil.rmtree(md_dir, ignore_errors=True)
        self.last = {
            "dedupe.dropped_docs": float(len(dropped)),
            "dedupe.neardup_pairs": float(len(pairs)),
            "writers.md_bytes_per_doc": md_bytes / max(n_written, 1),
            "operators.persisted_rdds_after": float(_persisted(ctx) - persisted_before),
        }
        return {"wall": wall, "cpu": cpu, "docs": len(self.expected), "failed": failed}

    def kernel_texts(self) -> tuple[list[str], list[str]]:
        texts, htmls = [], []
        for name in sorted(self.expected):
            with open(os.path.join(self.dir, name), "rb") as f:
                doc = inputs.parse_file(name, f.read())
            if doc["raw_html"]:
                htmls.append(doc["raw_html"])
            texts += [s["text"] for s in doc["spans"] or ()
                      if s["text"] and not s["text"].isascii()]
        return texts, htmls

    def traced_extras(self, ctx: Ctx) -> dict:
        """Crash-and-resume through run_with_lineage, a quarantine count,
        then extract_salted on the routed rows."""
        from pyspark.sql import functions as F

        from docproc_spark.pipeline_salted import extract_salted
        from docproc_spark.sources.lineage import run_with_lineage

        tr = ctx.tracer
        run_dir = os.path.join(self.work, "run")
        out, lin = os.path.join(run_dir, "lineage-out"), os.path.join(run_dir, "lineage")
        progress = os.path.join(run_dir, "progress.jsonl")
        failed = 0
        ctx.group("lineage-crash")
        with tr.span("lineage.crash_run"):
            try:
                run_with_lineage(self._ok_docs(ctx, self.dir), out, lin,
                                 ctx.eng.extract_table, n_parts=self.N_PARTS,
                                 fail_after=1, progress_path=progress)
                failed += 1  # the simulated crash did not happen
            except RuntimeError as e:
                if "simulated failure" not in str(e):
                    raise
        with open(progress) as f:
            done = [json.loads(x)["part"] for x in f if '"bucket"' in x]
        pending = [p for p in range(self.N_PARTS) if p not in done]
        ctx.group("lineage-resume")
        t0 = time.perf_counter()
        with tr.span("lineage.resume"):
            redone = run_with_lineage(self._ok_docs(ctx, self.dir), out, lin,
                                      ctx.eng.extract_table, n_parts=self.N_PARTS,
                                      progress_path=progress)
        resume_s = time.perf_counter() - t0
        failed += int(redone != pending)
        rows = ctx.spark.read.parquet(out).collect()
        failed += _mismatches(_summaries(rows), self.one_shot)  # resumed == one-shot
        with open(progress) as f:
            walls = [json.loads(x)["wall_s"] for x in f if '"bucket"' in x]
        out_bytes = sum(os.path.getsize(p) for p in
                        glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True))

        ctx.group("quarantine")
        quarantined = ctx.eng.load_files(self.dir).filter(
            F.col("parse_error").isNotNull()).count()
        failed += quarantined  # every generated file is well-formed

        ctx.group("salted")
        t0 = time.perf_counter()
        with tr.span("pipeline_salted.extract_salted"):
            mega = extract_salted(
                self._ok_docs(ctx, self.dir).filter(F.col("doc_id").isin(*self.routed))
            ).collect()
        salted_s = time.perf_counter() - t0
        failed += _mismatches(_summaries(mega), {k: self.expected[k] for k in self.routed})
        return {
            "failed": failed,
            "attempted": len(self.expected) + len(self.routed),
            "counts": {
                "sources.quarantined": float(quarantined),
                "lineage.buckets_redone": float(len(redone)),
                "lineage.out_bytes_per_doc": out_bytes / max(len(rows), 1),
            },
            "layer_times": {
                "lineage.resume_s": resume_s,
                "lineage.bucket_s_p50": statistics.median(walls),
                "lineage.bucket_s_max": max(walls),
                "pipeline_salted.extract_salted_s": salted_s,
            },
        }

    def parser_times(self) -> dict:
        """Single-process parse speed per format family on this input."""
        from docproc_spark.sources.html import decode_html_bytes
        from docproc_spark.sources.ooxml import parse_one
        from docproc_spark.sources.pdf import parse_pdf_bytes

        fams = {"pdf": [], "ooxml": [], "html": []}
        for name in sorted(self.expected):
            fmt = name.rsplit(".", 1)[1]
            fam = fmt if fmt in ("pdf", "html") else "ooxml"
            with open(os.path.join(self.dir, name), "rb") as f:
                fams[fam].append((fmt, f.read()))
        calls = {
            "pdf": lambda fmt, b: parse_pdf_bytes(b),
            "ooxml": parse_one,
            "html": lambda fmt, b: decode_html_bytes(b),
        }
        out = {}
        for fam, items in fams.items():
            mb = sum(len(b) for _, b in items) / 1e6
            t0 = time.perf_counter()
            for fmt, b in items:
                calls[fam](fmt, b)
            key = "html_decode" if fam == "html" else f"parse_{fam}"
            out[f"sources.{key}_s_per_mb"] = (time.perf_counter() - t0) / mb if mb else 0.0
        return out


def _persisted(ctx: Ctx) -> int:
    """Persistent RDDs registered in the session right now."""
    return len(ctx.spark.sparkContext._jsc.getPersistentRDDs())


def _md_file_mismatches(md_dir: str, kept_ids: set, expected: dict, n_written: int) -> int:
    bad = abs(n_written - len(kept_ids))
    for doc_id in kept_ids:
        path = os.path.join(md_dir, f"{doc_id}.md")
        if not os.path.exists(path):
            bad += 1
            continue
        with open(path, encoding="utf-8") as f:
            md = hashlib.md5(f.read().encode("utf-8")).hexdigest()
        bad += int(md != expected.get(doc_id, ("",) * 4)[2])
    return bad


WORKLOADS = {"bulk_extract": BulkExtract, "files_resume": FilesResume}

# per-layer metrics of the layers only files_resume runs, with their units
FILES_ONLY = {
    "pipeline_salted.extract_salted_s": "s",
    "sources.load_files_s": "s",
    "sources.parse_pdf_s_per_mb": "s/MB",
    "sources.parse_ooxml_s_per_mb": "s/MB",
    "sources.html_decode_s_per_mb": "s/MB",
    "sources.quarantined": "count",
    "lineage.resume_s": "s",
    "lineage.bucket_s_p50": "s",
    "lineage.bucket_s_max": "s",
    "lineage.buckets_redone": "count",
    "lineage.out_bytes_per_doc": "bytes",
    "dedupe.first_wins_s": "s",
    "dedupe.minhash_neardup_s": "s",
    "dedupe.dropped_docs": "count",
    "operators.persisted_rdds_after": "count",
    "writers.export_markdown_s": "s",
    "writers.md_bytes_per_doc": "bytes",
}


# ---------------------------------------------------------------------------
# kernels, timed in this process on the workload's own texts
# ---------------------------------------------------------------------------
def kernel_times(texts: list[str], htmls: list[str], min_s: float = 0.3) -> dict:
    import pandas as pd

    from docproc_spark.kernels.html import html_main_blocks
    from docproc_spark.kernels.sanitize import sanitize_series

    s = pd.Series(texts)
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    reps, t0 = 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < min_s:
        sanitize_series(s)
        reps += 1
    san = (time.perf_counter() - t0) / reps / mb if mb else 0.0
    reps, t0 = 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < min_s:
        for h in htmls:
            html_main_blocks(h)
        reps += 1
    per_doc = (time.perf_counter() - t0) / reps / len(htmls) if htmls else 0.0
    return {"kernels.sanitize_series_s_per_mb": san,
            "kernels.html_main_blocks_s_per_doc": per_doc}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------
# The reference job: REF_TASKS Spark tasks of a fixed pure-Python loop on the
# session's Python workers, run before and after the measured calls. Each
# task returns the CPU seconds its loop took. It runs no code of the
# program. REF_NOMINAL_CPU_S is about its CPU seconds on a 4-vCPU KVM guest
# of a 2.1 GHz Intel Xeon (Sapphire Rapids) host.
REF_TASKS = 16
REF_N = 1_000_000
REF_NOMINAL_CPU_S = 1.5


def _ref_loop(n: int) -> float:
    t0 = time.thread_time()
    s = 0
    for i in range(n):
        s += i * i % 7
    return time.thread_time() - t0


def reference_cpu_s(ctx: Ctx, n: int = REF_N) -> float:
    """CPU seconds the reference job's loops took, summed over its tasks."""
    rdd = ctx.spark.sparkContext.parallelize([n] * REF_TASKS, REF_TASKS)
    return sum(rdd.map(_ref_loop).collect())


def _session(extra: dict | None = None):
    from docproc_spark.facade import DocprocSpark
    from docproc_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    return spark, DocprocSpark(spark)


def _setup(wl, tracer: Tracer, corrupt: bool, extra: dict | None = None):
    """get_spark plus the first warm-up call, one whole unit of work on the
    measured input: with a smaller warm-up input the first measured
    ``files_resume`` call was 30% slower than the next (Python workers and
    compiled code for the larger task count). Returns (ctx, get_spark wall
    seconds, set-up wall seconds, set-up CPU seconds of the process tree)."""
    t0 = host.stamp()
    spark, eng = _session(extra)
    get_spark_s = time.perf_counter() - t0[0]
    ctx = Ctx(spark, eng, tracer, None, corrupt)
    wl.warmup(ctx)
    wall, cpu = host.since(t0)
    return ctx, get_spark_s, wall, cpu


def run_untraced(wl, seconds: float, corrupt: bool, report: dict) -> dict:
    """SETUPS set-ups (the first starts the JVM, the others make a new
    session in it), then the measured calls in the last session, with the
    reference job before and after them.

    The metrics count CPU seconds, not wall time. The 4-vCPU VM this
    benchmark was built on shares its physical cores with other guests:
    the hypervisor stole up to 17% of its CPU time within minutes, and the
    same call's wall time stretched by up to 1.7x, while its CPU seconds
    held. The VM's CPUs also ran at speeds up to 2x apart, which CPU
    seconds do see: so CPU seconds are divided by the speed factor, the
    mean CPU seconds of the two reference runs ÷ ``REF_NOMINAL_CPU_S``."""
    tracer = Tracer("untraced", enabled=False)
    setups, gs = [], []
    ctx = None
    for _ in range(SETUPS):
        if ctx is not None:
            ctx.spark.stop()  # the next set-up makes a new session in this JVM
        ctx, g, wall, cpu = _setup(wl, tracer, corrupt)
        setups.append((wall, cpu))
        gs.append(g)
    n_calls = max(MIN_CALLS, math.ceil(seconds / wl.size["call_s"]))
    reference_cpu_s(ctx, 1000)  # the workers load the job's code
    refs = [reference_cpu_s(ctx)]
    calls = [wl.unit(ctx, f"call{i}") for i in range(n_calls)]
    refs.append(reference_cpu_s(ctx))
    ctx.spark.stop()
    factor = statistics.mean(refs) / REF_NOMINAL_CPU_S
    walls = [c["wall"] for c in calls]
    cpus = [c["cpu"] for c in calls]
    per_call = sum(c["docs"] for c in calls) / len(calls)
    report.update({
        "setups_wall_s": [w for w, _ in setups],
        "setups_cpu_s": [c for _, c in setups], "get_spark_s": gs,
        "call_walls_s": walls, "call_cpu_s": cpus, "calls": len(calls),
        "ref_cpu_s": refs, "speed_factor": factor,
        "docs_per_s": per_call / statistics.median(walls),
        "docs_per_cpu_s_measured": per_call / statistics.median(cpus),
    })
    return {
        "metrics": {
            "setup_s": (statistics.median(c for _, c in setups) / factor, "s"),
            "docs_per_cpu_s": (per_call * factor / statistics.median(cpus), "docs/cpu_s"),
        },
        "attempted": sum(c["docs"] for c in calls),
        "failed": sum(c["failed"] for c in calls),
    }


def run_traced(wl, work: str, seconds: float, corrupt: bool, report: dict) -> dict:
    """One session with Spark's event log on. After the set-up the unit runs
    untraced, then traced, so the tracing overhead compares adjacent calls
    in the same warm JVM. Per-layer metrics come from the traced call."""
    log_dir = os.path.join(work, "run", "eventlog")
    tracer = Tracer(report["run_id"], enabled=False)
    ctx, gs, _, _ = _setup(wl, tracer, corrupt, event_log_conf(log_dir))
    ctx.jobs = JobCounter(ctx.spark)
    before = wl.unit(ctx, "untraced")
    tracer.enabled = True
    with tracer.span("unit"):
        traced = wl.unit(ctx, "traced")
    counts = {k: ctx.jobs.counts(f"traced-{k}") for k in ("construct", "plan", "exec")}
    unit_self = sum(tracer.self_times().values())  # only the unit's spans so far
    tracer.enabled = False
    untraced_wall = before["wall"]
    calls = [before, traced]
    eff = 0.0
    if isinstance(wl, BulkExtract):
        # the same call in the same warm session with every thread of this
        # process, the driver JVM and the Python workers pinned to one CPU
        all_cpus = os.sched_getaffinity(0)
        host.pin_tree(os.getpid(), {min(all_cpus)})
        try:
            one = wl.unit(ctx, "one_cpu")
        finally:
            host.pin_tree(os.getpid(), all_cpus)
        calls.append(one)
        eff = one["wall"] / (len(all_cpus) * untraced_wall)
        report["scaling"] = {"wall_1cpu_s": one["wall"], "cpus": len(all_cpus),
                             "wall_ncpu_s": untraced_wall, "eff": eff}
    tracer.enabled = True
    extras = wl.traced_extras(ctx)
    failed = sum(c["failed"] for c in calls) + extras["failed"]
    attempted = sum(c["docs"] for c in calls) + extras["attempted"]
    ctx.spark.stop()
    events = read_events(log_dir)
    stage = stage_metrics(events, {f"traced-{k}" for k in
                                   ("construct", "plan", "exec", "dedupe", "write")})

    texts, htmls = wl.kernel_texts()
    kern = kernel_times(texts, htmls)
    layer = dict(extras["layer_times"])
    if isinstance(wl, FilesResume):
        layer.update(wl.parser_times())
        layer.update({
            "sources.load_files_s": tracer.total("sources.load_files"),
            "dedupe.first_wins_s": tracer.total("dedupe.first_wins"),
            "dedupe.minhash_neardup_s": tracer.total("dedupe.minhash_neardup"),
            "writers.export_markdown_s": tracer.total("writers.export_markdown"),
        })
    unit_span = next(s for s in tracer.spans if s["name"] == "unit")
    overhead = traced["wall"] - untraced_wall
    report["self_times_s"] = {k: round(v, 4) for k, v in tracer.self_times().items()}
    # the unit's self times add up to the traced call; they reconcile with
    # the untraced calls to within the tracing overhead
    report["reconcile"] = {"unit_self_sum_s": unit_self,
                           "unit_span_s": unit_span["end"] - unit_span["start"],
                           "traced_wall_s": traced["wall"],
                           "untraced_wall_s": untraced_wall,
                           "overhead_s": overhead}
    tracer.dump(os.path.join(work, f"spans.{report['workload']}.jsonl"))
    last = {**getattr(wl, "last", {}), **extras["counts"]}
    report["unit_counts"] = last
    files = {**layer, **last}

    m = {
        "session.get_spark_s": (gs, "s"),
        "pipeline.construct_s": (tracer.total("pipeline.construct"), "s"),
        "pipeline.plan_s": (tracer.total("pipeline.plan"), "s"),
        "pipeline.exec_s": (tracer.total("pipeline.exec"), "s"),
        "pipeline.construct_jobs": (float(counts["construct"]["jobs"]), "count"),
        "pipeline.jobs": (float(sum(c["jobs"] for c in counts.values())), "count"),
        "pipeline.stages": (float(sum(c["stages"] for c in counts.values())), "count"),
        "pipeline.tasks": (float(sum(c["tasks"] for c in counts.values())), "count"),
        "pipeline.tasks_failed": (float(sum(c["tasks_failed"] for c in counts.values())),
                                  "count"),
        "kernels.sanitize_series_s_per_mb": (kern["kernels.sanitize_series_s_per_mb"], "s/MB"),
        "kernels.html_main_blocks_s_per_doc": (kern["kernels.html_main_blocks_s_per_doc"],
                                               "s/doc"),
        # layers only files_resume runs; 0 on bulk_extract
        **{name: (float(files.get(name, 0.0)), unit) for name, unit in FILES_ONLY.items()},
        "stage.task_s": (stage["stage.task_s"], "s"),
        "stage.cpu_s": (stage["stage.cpu_s"], "s"),
        "stage.gc_s": (stage["stage.gc_s"], "s"),
        "stage.shuffle_write_bytes": (stage["stage.shuffle_write_bytes"], "bytes"),
        "stage.spill_bytes": (stage["stage.spill_bytes"], "bytes"),
        "stage.task_skew": (stage["stage.task_skew"], "ratio"),
        "scaling.eff_1_to_4": (eff, "ratio"),
        "trace.overhead_s": (overhead, "s"),
    }
    return {"metrics": m, "attempted": attempted, "failed": failed}
