"""In-process, one-core replay of the extraction kernel's layers.

Times the public functions the kernel is built from over a fixed sample of
docs, so the traced run can split the opaque Python UDF time into parse,
model build, span emit and the kernel's own work (fingerprint, Arrow build,
GC), plus the PAGE-XML emitter and its canonical hash.
"""

from __future__ import annotations

import gc
import json
import statistics
import time
from typing import Callable, Dict, List, Tuple

try:  # the kernel parses with orjson when the worker has it
    import orjson

    _loads = orjson.loads
except ImportError:  # pragma: no cover
    _loads = json.loads


def _timed(fn: Callable[[], object], repeats: int) -> float:
    """Median seconds of ``fn`` with the cycle GC off, as the kernel runs
    its batches; the kernel's own per-batch ``gc.collect()`` is therefore
    part of ``kernel_rest``."""
    runs = []
    for _ in range(repeats):
        gc.collect()
        gc.disable()
        try:
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        finally:
            gc.enable()
    return statistics.median(runs)


def _each(fn, items) -> None:
    for item in items:
        try:
            fn(*item)
        except Exception:  # noqa: BLE001 — quarantine docs raise by design
            pass


def replay(docs: List[Tuple[str, str, int, int, str]],
           repeats: int = 3) -> Dict[str, float]:
    """docs: (doc_id, json_text, width, height, media_ref). Seconds per
    layer for the whole sample, median of ``repeats``."""
    import pyarrow as pa

    from t2p_spark.convert import build_model, convert_doc_safe
    from t2p_spark.kernel import extract_kernel
    from t2p_spark.render_xml import canonical_md5, render_page_xml

    parsed = [(_loads(text), w, h, ref) for _, text, w, h, ref in docs]
    batch = pa.RecordBatch.from_pydict({
        "doc_id": [d[0] for d in docs],
        "width": pa.array([d[2] for d in docs], pa.int32()),
        "height": pa.array([d[3] for d in docs], pa.int32()),
        "media_ref": [d[4] for d in docs],
        "json_text": [d[1] for d in docs],
    })
    xmls = []
    for aws, w, h, ref in parsed:
        try:
            xmls.append((render_page_xml(aws, w, h, ref),))
        except Exception:  # noqa: BLE001
            pass

    parse = _timed(lambda: [_loads(d[1]) for d in docs], repeats)
    build = _timed(lambda: _each(lambda aws, *_: build_model(aws), parsed),
                   repeats)
    convert = _timed(lambda: [convert_doc_safe(*p) for p in parsed], repeats)
    kernel = _timed(lambda: list(extract_kernel(iter([batch]))), repeats)
    render = _timed(lambda: _each(render_page_xml, parsed), repeats)
    canon = _timed(lambda: _each(canonical_md5, xmls), repeats)
    return {
        "convert.parse_s": parse,
        "convert.build_model_s": build,
        "convert.emit_s": convert - build,
        "convert.kernel_rest_s": kernel - parse - convert,
        "render_xml.render_s": render,
        "render_xml.canon_s": canon,
    }
