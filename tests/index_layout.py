"""Shared test helper: where a built index keeps its physical postings."""

from __future__ import annotations

import json
import os

from document_retrieval_spark.index.build import CURRENT


def current_postings_dir(out_dir: str) -> str:
    """The published version's postings dir of a local index (the
    unversioned dir when no version pointer exists yet)."""
    out = out_dir.rstrip("/")
    p = os.path.join(out, CURRENT)
    if os.path.exists(p):
        with open(p) as f:
            v = int(json.load(f).get("version", 0))
        if v > 0:
            return os.path.join(out, "postings", f"v={v}")
    return os.path.join(out, "postings")
