"""Tests of the benchmark's own stager, oracle and checks (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import zlib

import pyarrow as pa

from perfbench import corpus, ops
from perfbench.trace import (become_subreaper, descendants, end_descendants,
                             metric_value, tree_cpu_s)


def _stage_rows(seed: int, n: int = 60):
    """What one staging worker produces for docs 0..n-1."""
    return corpus.gen_chunk("gen", seed, 0, n).to_pylist()


def test_stager_is_deterministic_per_seed():
    a, b, c = _stage_rows(1), _stage_rows(1), _stage_rows(2)
    assert corpus.input_digest(a) == corpus.input_digest(b)
    assert a == b
    assert corpus.input_digest(a)["payload_sha256"] != \
        corpus.input_digest(c)["payload_sha256"]
    # the composition is positional: the same ids are quarantine docs
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in c]
    assert sum(r["doc_id"].startswith("bad-") for r in a) == 1
    assert {r["status"] for r in a} == {"ok", "quarantined"}


def _kernel_batch(seed: int, n: int = 30):
    docs = [corpus.generate("gen", seed, i) for i in range(n)]
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [d[0] for d in docs],
        "width": pa.array([d[2] for d in docs], pa.int32()),
        "height": pa.array([d[3] for d in docs], pa.int32()),
        "media_ref": [d[4] for d in docs],
        "json_text": [d[1] for d in docs],
    })
    return docs, batch


def test_fingerprint_matches_kernel_span_fp():
    from t2p_spark.kernel import extract_kernel

    docs, batch = _kernel_batch(seed=3)
    out = [r for b in extract_kernel(iter([batch])) for r in b.to_pylist()]
    assert len(out) == len(docs)
    for (doc_id, text, w, h, ref), row in zip(docs, out):
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in row["spans"]]
        assert corpus.span_fingerprint(doc_id, spans) == row["span_fp"]
        status, oracle_spans = corpus.oracle_doc(text, w, h, ref)
        assert status == row["status"]
        assert corpus.span_fingerprint(doc_id, oracle_spans) == row["span_fp"]


def _job_buckets(rows):
    """Per-bucket metrics the way the job reports them (bucket by a stable
    hash here; the check compares bucket tuples, not the hash)."""
    return corpus.bucket_oracle([
        dict(r, bucket=zlib.crc32(r["doc_id"].encode()) % 8) for r in rows])


def test_output_check_fails_when_one_span_changes():
    from t2p_spark.kernel import extract_kernel

    docs, batch = _kernel_batch(seed=5)
    out = [r for b in extract_kernel(iter([batch])) for r in b.to_pylist()]
    want = _job_buckets([
        dict(doc_id=d[0], status=s, n_spans=len(sp),
             span_fp=corpus.span_fingerprint(d[0], sp))
        for d in docs for s, sp in [corpus.oracle_doc(*d[1:])]])
    assert corpus.check_buckets(_job_buckets(out), want) == []

    victim = next(r for r in out if r["n_spans"] > 3)
    spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
             for s in victim["spans"]]
    kind, text, ref, off = spans[2]
    spans[2] = (kind, text + "x", ref, off)
    victim["span_fp"] = corpus.span_fingerprint(victim["doc_id"], spans)
    errs = corpus.check_buckets(_job_buckets(out), want)
    assert len(errs) == 1


def test_xxhash64_matches_spark():
    # values of Spark's xxhash64(<string>) (seed 42), one per input-length path
    assert corpus.xxhash64(b"abc") == 1423657621850124518
    assert corpus.xxhash64(b"") == -7444071767201028348
    assert corpus.xxhash64(b"gen-00000001") == -6645144910166511638
    assert corpus.xxhash64(b"x" * 40) == -5348608777870439244
    assert corpus.xxhash64(b"0123456789abcdef0123456789abcdefXYZ12") \
        == -1731295558986824485


def test_digest_is_order_free_and_rounds_floats():
    t1 = pa.table({"b": [2.0000001, 1.0], "a": ["y", "x"]})
    t2 = pa.table({"a": ["x", "y"], "b": [1.0, 2.0000002]})
    assert ops.digest(t1) == ops.digest(t2)
    assert ops.digest(t1) != ops.digest(pa.table({"a": ["x"], "b": [1.0]}))


def test_metric_value_parses_spark_metric_strings():
    assert metric_value("total (min, med, max (stageId: taskId))\n"
                        "1.5 s (0 ms, 10 ms, 1.0 s (stage 3.0: task 7))") == 1.5
    assert metric_value("total (min, med, max)\n2.0 MiB (1 KiB, ...)") \
        == 2.0 * (1 << 20)
    assert metric_value("1,234") == 1234


def test_end_descendants_stops_children_and_their_orphans():
    become_subreaper()
    me = os.getpid()
    # the shell exits at once and leaves two sleepers behind; they
    # re-parent to this process, which must still find and stop them
    subprocess.run(["sh", "-c", "sleep 60 & sleep 60 & exit 0"], check=True)
    assert len(descendants(me)) >= 2
    end_descendants(grace=0.5)
    assert descendants(me) == []


def test_tree_cpu_counts_children_that_ended():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.25
