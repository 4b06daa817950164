"""extract() is cheap to construct: every call makes few py4j round trips,
calls with different options each match the oracle, the memo of Columns
and pandas UDFs (pipeline._program) builds each entry once and is rebuilt
by a new SparkContext in the same JVM, and the routing probe names its
job."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest
from py4j.clientserver import ClientServerConnection

from docproc_spark import corpus, oracle
from docproc_spark.kernels.assembly import assemble_document
from docproc_spark.kernels.sanitize import DROP_KINDS_DEFAULT
from docproc_spark.pipeline import _program, extract, extract_map
from tests.test_footer_routing import _write

REPO = Path(__file__).resolve().parent.parent


def _tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _got(df) -> dict:
    return {
        r["doc_id"]: (r["markdown"], r["n_pages"], _tuples(r["spans"]))
        for r in df.collect()
    }


def _want(docs: list[dict], **opts) -> dict:
    want = {}
    for d in docs:
        spans = list(d["spans"] or [])
        if d.get("raw_html"):
            spans += oracle.html_to_spans(d["raw_html"])
        md, out = assemble_document(spans, **opts)
        n_pages = max(s["page"] for s in out) + 1 if out else 0
        want[d["doc_id"]] = (md, n_pages, _tuples(out))
    return want


def _round_trips(monkeypatch, fn) -> int:
    """py4j commands the calling thread sends while ``fn()`` runs. py4j's
    finalizer thread deletes the JVM objects of earlier, dead Columns and
    DataFrames whenever it gets to them; those commands are not counted."""
    n = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counted(self, command):
        n[0] += threading.get_ident() == caller
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        fn()
    return n[0]


def test_repeated_extract_makes_few_round_trips(spark, monkeypatch):
    docs = corpus.corpus_df(spark, 24, seed=23, mega_spans=200, partitions=2)
    # an option set no other test uses
    opts = dict(drop_kinds=frozenset({"questions"}))
    first = _round_trips(monkeypatch, lambda: extract_map(docs, **opts))
    again = _round_trips(monkeypatch, lambda: extract_map(docs, **opts))
    # extract's own DataFrame calls are py4j commands, so a counter that
    # counts nothing reads 0 here
    assert 0 < first <= 200, first
    assert 0 < again <= 200, again


def test_concurrent_callers_build_each_entry_once():
    keys = [("concurrent callers", i) for i in range(4)]
    builds = []
    got = {k: set() for k in keys}

    def build():
        builds.append(1)
        time.sleep(0.002)  # widens the window between lookup and store
        return object()

    def caller(i):
        for j in range(40):
            k = keys[(i + j) % len(keys)]
            got[k].add(id(_program(k, build)))

    threads = [threading.Thread(target=caller, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == len(keys)
    assert all(len(ids) == 1 for ids in got.values())


def test_alternating_options_each_match_the_oracle(spark):
    n, seed = 48, 29
    docs = corpus.corpus_df(spark, n, seed=seed, mega_spans=200, partitions=2)
    rows = [corpus.gen_doc(i, seed=seed, mega_spans=200) for i in range(n)]
    a = dict(drop_kinds=DROP_KINDS_DEFAULT, drop_exact_duplicates=True)
    b = dict(drop_kinds=frozenset(), drop_exact_duplicates=False)
    want_a, want_b = _want(rows, **a), _want(rows, **b)
    assert want_a != want_b, "the sample must tell the option sets apart"
    for opts, want in ((a, want_a), (b, want_b), (a, want_a)):
        assert _got(extract_map(docs, **opts)) == want


@pytest.mark.parametrize("caller_desc", ["caller job", None], ids=["set", "unset"])
def test_routing_probe_names_its_job(spark, tmp_path, monkeypatch, caller_desc):
    # a parquet file without statistics: the footers cannot bound the
    # routing estimate, so the probe runs as a job
    gen = (corpus.gen_doc(i, seed=31, mega_spans=200) for i in range(12))
    rows = [{**d, "n_spans": len(d["spans"] or [])} for d in gen]
    docs = spark.read.parquet(_write(rows, str(tmp_path / "docs"), write_statistics=False))
    assert "n_spans" in docs.columns
    sc = spark.sparkContext
    seen = []
    first = type(docs).first

    def spy(self):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return first(self)

    monkeypatch.setattr(type(docs), "first", spy)
    sc.setJobDescription(caller_desc)
    try:
        extract(docs)
        assert seen == ["docproc extract: routing probe"]
        assert sc.getLocalProperty("spark.job.description") == caller_desc
    finally:
        sc.setJobDescription(None)


# A new SparkContext in the same JVM: the second extract() must not plan
# with Columns or pandas UDFs built under the stopped context. Run in its
# own process so the shared `spark` fixture is not stopped.
_JOB = r"""
import json, sys
from pyspark.sql import functions as F
from docproc_spark import corpus, pipeline
from docproc_spark.functions import text
from docproc_spark.session import get_spark

UDFS = {"html_spans_udf": pipeline.html_spans_udf,
        "lang_id_ngram_udf": text.lang_id_ngram_udf,
        "_mojibake_fix_udf": text._mojibake_fix_udf}
n, seed = int(sys.argv[1]), int(sys.argv[2])
runs = []
for _ in range(2):
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    docs = corpus.corpus_df(spark, n, seed=seed, mega_spans=200, partitions=2)
    rows = pipeline.extract_map(docs).collect()
    text.lang_id_ngram_udf(F.col("t")), text._mojibake_fix_udf(F.col("t"))
    own = spark.sparkContext._javaAccumulator
    runs.append({
        "jvm": spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid(),
        "memo_is_current": pipeline._PROGRAM_CONTEXT is spark.sparkContext,
        "own_accumulator": {k: u.udf()._unwrapped._judf.func().accumulator().equals(own)
                            for k, u in UDFS.items()},
        "rows": {r["doc_id"]: [r["markdown"], r["n_pages"],
                               [[s["kind"], s["text"], s["media_ref"], s["offset"]]
                                for s in r["spans"]]] for r in rows},
    })
    spark.stop()
print("RESULT " + json.dumps(runs))
"""


def test_new_context_in_same_jvm_rebuilds_the_program(tmp_path):
    n, seed = 90, 37
    rows = [corpus.gen_doc(i, seed=seed, mega_spans=200) for i in range(n)]
    # the sample holds HTML pages and non-ASCII spans
    assert any(d["raw_html"] for d in rows)
    assert any(
        s["text"] and not s["text"].isascii() for d in rows for s in d["spans"] or []
    )
    want = {
        k: [md, pages, [list(t) for t in spans]]
        for k, (md, pages, spans) in _want(rows).items()
    }
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, str(job), str(n), str(seed)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    first, second = json.loads(lines[-1][len("RESULT "):])
    assert first["jvm"] == second["jvm"]
    assert first["memo_is_current"] and second["memo_is_current"]
    # the package's pandas UDFs report to the live context's accumulator,
    # not to the one PySpark cached them with under the stopped context
    assert all(first["own_accumulator"].values()), first["own_accumulator"]
    assert all(second["own_accumulator"].values()), second["own_accumulator"]
    assert first["rows"] == want
    assert second["rows"] == want
