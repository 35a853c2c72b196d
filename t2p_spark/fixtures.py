"""Fixture corpus helpers: reference docs as interleaved (doc_id, spans) rows.

Builds the input-table encoding of FIXTURES.md §1 from the reference fixture
corpus: one media span ("WxH" + image filename) followed by the Textract JSON
payload split into `chunk_size` text spans (chunking exercises the pipeline's
offset-ordered reassembly).
"""

from __future__ import annotations

import glob
import json
import os
from typing import Dict, Iterator, List, Optional, Tuple

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "golden")
# The reference converter's checkout: its Textract inputs, mets.xml and
# reference PAGE-XMLs are read from here and nowhere else.
REFERENCE_DIR = "/root/reference"
REF_JSON_DIR = os.path.join(REFERENCE_DIR, "tests", "workspace",
                            "textract_responses")


def doc_row(doc_id: str, json_text: str, width: int, height: int,
            media_ref: str, chunk_size: Optional[int] = None) -> Tuple[str, List]:
    spans = [("media", f"{width}x{height}", media_ref, 0)]
    if chunk_size is None:
        chunk_size = len(json_text) or 1
    for i, start in enumerate(range(0, len(json_text), chunk_size)):
        spans.append(("text", json_text[start:start + chunk_size], "", i + 1))
    return (doc_id, spans)


def golden_meta(doc_id: str) -> Dict:
    with open(os.path.join(GOLDEN_DIR, f"{doc_id}.json"), encoding="utf-8") as f:
        return json.load(f)


def fixture_ids() -> List[str]:
    return sorted(
        os.path.basename(p)[:-5]
        for p in glob.glob(os.path.join(GOLDEN_DIR, "*.json"))
    )


def fixture_doc_rows(chunk_size: Optional[int] = None) -> Iterator[Tuple[str, List]]:
    for doc_id in fixture_ids():
        meta = golden_meta(doc_id)
        with open(os.path.join(REF_JSON_DIR, f"{doc_id}.json"),
                  encoding="utf-8") as f:
            json_text = f.read()
        yield doc_row(doc_id, json_text, meta["width"], meta["height"],
                      meta["media_ref"], chunk_size)
