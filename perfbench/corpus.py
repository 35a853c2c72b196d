"""Reference-free corpus stager and extraction oracle for the benchmark.

A corpus is a pure function of (family, seed, n_docs). Generation runs in a
pool of worker processes, one per core, outside the measured Spark JVM (so
staging a new seed leaves no heap, JIT or RSS behind in it), and uses only
``synth.generate_doc``, ``generate_skew_doc``, ``generate_quarantine_doc``
and ``fixtures.doc_row``, so no reference fixture is ever read. The composition is fixed by position (which index is
a quarantine or a skew doc does not depend on the seed); the seed changes
only the content. That keeps the work per run the same from seed to seed.

The same pass computes the oracle: every doc's unchunked JSON goes through
``convert.convert_doc_safe`` and the span fingerprint re-implemented below,
independently of the Spark kernel. The staged corpus, its oracle and its
input digest are cached on disk per (family, seed, n_docs).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Dict, Iterable, List, Tuple

N_BUCKETS = 64
CHUNK_SIZE = 1 << 16  # payload split into text spans, reassembled by offset

# family -> (quarantine period, skew period): doc i is a quarantine doc when
# i % q == q // 2 and a skew doc when i % s == 0; 0 disables the kind.
FAMILIES = {
    "gen": (50, 0),    # 2% generate_quarantine_doc, rest generate_doc
    "skew": (0, 50),   # 2% generate_skew_doc (2k/4k/6k lines), rest generate_doc
}


def doc_kind(family: str, i: int) -> str:
    q, s = FAMILIES[family]
    if q and i % q == q // 2:
        return "bad"
    if s and i % s == 0:
        return "skew"
    return "gen"


def generate(family: str, seed: int, i: int) -> Tuple[str, str, int, int, str]:
    """The i-th doc: (doc_id, json_text, width, height, media_ref)."""
    from t2p_spark import synth

    doc_seed = seed * 1_000_003 + i
    kind = doc_kind(family, i)
    doc_id = f"{kind}-{i:08d}"
    if kind == "bad":
        aws, w, h, ref = synth.generate_quarantine_doc(doc_id, doc_seed)
    elif kind == "skew":
        n_lines = 2000 + (i // FAMILIES[family][1] % 3) * 2000
        aws, w, h, ref = synth.generate_skew_doc(doc_id, doc_seed, n_lines)
    else:
        aws, w, h, ref = synth.generate_doc(doc_id, doc_seed)
    return doc_id, json.dumps(aws, separators=(",", ":")), w, h, ref


def span_fingerprint(doc_id: str, spans: Iterable) -> int:
    """The documented 63-bit span fingerprint (kernel ``span_fp``).

    md5 over the UTF-8 of doc_id followed, per span, by
    ``\\x1d kind \\x1e text \\x1e media_ref \\x1e offset``; the first 8 digest
    bytes big-endian, top bit cleared. Written here field by field so the
    check does not share code with the kernel it checks.
    """
    h = hashlib.md5(doc_id.encode("utf-8"))
    for kind, text, media_ref, offset in spans:
        for sep, field in (("\x1d", kind), ("\x1e", text),
                           ("\x1e", media_ref), ("\x1e", str(offset))):
            h.update(sep.encode("utf-8"))
            h.update(field.encode("utf-8"))
    return int.from_bytes(h.digest()[:8], "big") & ((1 << 63) - 1)


def oracle_doc(json_text: str, width: int, height: int,
               media_ref: str) -> Tuple[str, List]:
    """(status, spans) the extraction must produce for one unchunked doc."""
    from t2p_spark.convert import convert_doc_safe

    status, spans, _ = convert_doc_safe(json.loads(json_text), width,
                                        height, media_ref)
    return status, spans


def _schema():
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([
        ("doc_id", pa.string()), ("spans", pa.list_(span)),
        ("payload_bytes", pa.int64()), ("payload_md5", pa.string()),
        ("status", pa.string()), ("n_spans", pa.int32()),
        ("span_fp", pa.int64())])


def gen_chunk(family: str, seed: int, lo: int, hi: int):
    """Docs lo..hi-1 with their oracle columns, as one Arrow table."""
    import pyarrow as pa

    from t2p_spark.fixtures import doc_row

    cols: Dict[str, list] = {name: [] for name in _schema().names}
    for i in range(lo, hi):
        doc_id, text, w, h, ref = generate(family, seed, i)
        _, spans = doc_row(doc_id, text, w, h, ref, CHUNK_SIZE)
        status, out = oracle_doc(text, w, h, ref)
        raw = text.encode("utf-8")
        cols["doc_id"].append(doc_id)
        cols["spans"].append([
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in spans])
        cols["payload_bytes"].append(len(raw))
        cols["payload_md5"].append(hashlib.md5(raw).hexdigest())
        cols["status"].append(status)
        cols["n_spans"].append(len(out))
        cols["span_fp"].append(span_fingerprint(doc_id, out))
    return pa.Table.from_pydict(cols, schema=_schema())


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int: Spark's ``xxhash64``
    (seed 42) of a string column, which places a doc in its bucket."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for k in range(4):
                lane = int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little")
                v[k] = _round(v[k], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(doc_id: str) -> int:
    """``pmod(xxhash64(doc_id), 64)``, the job's bucket column."""
    return xxhash64(doc_id.encode("utf-8")) % N_BUCKETS


def bucket_oracle(rows) -> Dict[int, Tuple[int, int, int, int, int]]:
    """Per bucket: (n_docs, n_ok, n_quarantined, n_spans, span_checksum)."""
    out: Dict[int, List[int]] = {}
    for r in rows:
        acc = out.setdefault(int(r["bucket"]), [0, 0, 0, 0, 0])
        acc[0] += 1
        acc[1] += r["status"] == "ok"
        acc[2] += r["status"] == "quarantined"
        acc[3] += int(r["n_spans"])
        acc[4] ^= int(r["span_fp"])
    return {b: tuple(v) for b, v in out.items()}


def input_digest(rows) -> Dict:
    """Doc count, payload bytes and an order-free hash of the payloads."""
    lines = sorted(f"{r['doc_id']}:{r['payload_md5']}" for r in rows)
    return {
        "n_docs": len(lines),
        "payload_bytes": sum(int(r["payload_bytes"]) for r in rows),
        "payload_sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest(),
    }


def output_digest(buckets: Dict[int, Tuple]) -> Dict:
    items = sorted(buckets.items())
    return {
        "n_docs": sum(v[0] for _, v in items),
        "n_ok": sum(v[1] for _, v in items),
        "n_spans": sum(v[3] for _, v in items),
        "buckets_sha256": hashlib.sha256(
            repr(items).encode()).hexdigest(),
    }


def stage(cache_root: str, family: str, seed: int, n_docs: int,
          workers: int = 4) -> Dict:
    """Generate (or reuse) the corpus; returns its paths, oracle and digests.

    The parquet corpus is partitioned by ``bucket = pmod(xxhash64(doc_id),
    64)``, the FIXTURES.md §1 layout the extract job prunes and clusters on.
    """
    key = f"{family}-s{seed}-n{n_docs}"
    root = os.path.join(cache_root, key)
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        import pyarrow as pa
        import pyarrow.dataset as ds

        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        step = -(-n_docs // (workers * 4))
        bounds = [(lo, min(lo + step, n_docs)) for lo in range(0, n_docs, step)]
        with ProcessPoolExecutor(
                workers, mp_context=multiprocessing.get_context("spawn")) as pool:
            futures = [pool.submit(gen_chunk, family, seed, lo, hi)
                       for lo, hi in bounds]
            table = pa.concat_tables([f.result() for f in futures])
        buckets = [bucket_of(d) for d in table.column("doc_id").to_pylist()]
        table = table.append_column("bucket", pa.array(buckets, pa.int32()))
        ds.write_dataset(
            table.select(["doc_id", "spans", "bucket"]),
            os.path.join(tmp, "corpus"), format="parquet",
            partitioning=ds.partitioning(
                pa.schema([("bucket", pa.int32())]), flavor="hive"))
        rows = table.drop_columns(["spans"]).to_pylist()
        by_bucket = bucket_oracle(rows)
        meta = {
            "family": family, "seed": seed, "n_docs": n_docs,
            "input": input_digest(rows),
            "output": output_digest(by_bucket),
            "buckets": {str(b): list(v) for b, v in sorted(by_bucket.items())},
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["buckets"] = {int(b): tuple(v) for b, v in meta["buckets"].items()}
    meta["corpus"] = os.path.join(root, "corpus")
    return meta


def _render_chunk(family: str, seed: int, lo: int, hi: int) -> List:
    """(status, n_bytes, canon_md5) per doc, as ``render_kernel`` emits them,
    from each doc's unchunked JSON."""
    from t2p_spark.render_xml import canonical_md5, render_page_xml

    out = []
    for i in range(lo, hi):
        _, text, w, h, ref = generate(family, seed, i)
        try:
            xml = render_page_xml(json.loads(text), w, h, ref)
        except Exception:  # noqa: BLE001 — the kernel quarantines these too
            out.append(("quarantined", 0, ""))
        else:
            out.append(("ok", len(xml.encode()), canonical_md5(xml)))
    return out


def render_digest(rows) -> Dict:
    """Count, ok count, XML bytes and the xor of the canonical md5s."""
    xor = 0
    for _, _, md5 in rows:
        xor ^= int(md5 or "0", 16)
    return {"n_docs": len(rows),
            "n_ok": sum(status == "ok" for status, _, _ in rows),
            "xml_bytes": sum(n for _, n, _ in rows),
            "canon_md5_xor": f"{xor:032x}"}


def render_oracle(cache_root: str, family: str, seed: int, n_docs: int,
                  workers: int = 4) -> Dict:
    """The PAGE-XML render digest of a staged corpus, cached beside it."""
    path = os.path.join(cache_root, f"{family}-s{seed}-n{n_docs}",
                        "render.json")
    if not os.path.exists(path):
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        step = -(-n_docs // (workers * 4))
        with ProcessPoolExecutor(
                workers, mp_context=multiprocessing.get_context("spawn")) as pool:
            futures = [pool.submit(_render_chunk, family, seed, lo,
                                   min(lo + step, n_docs))
                       for lo in range(0, n_docs, step)]
            rows = [r for f in futures for r in f.result()]
        with open(path + ".tmp", "w") as f:
            json.dump(render_digest(rows), f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def check_buckets(got: Dict[int, Tuple], want: Dict[int, Tuple]) -> List[str]:
    """Mismatches between a job's per-bucket metrics and the oracle."""
    errs = []
    for b in sorted(set(got) | set(want)):
        if got.get(b) != want.get(b):
            errs.append(f"bucket {b}: got {got.get(b)} want {want.get(b)}")
    return errs
