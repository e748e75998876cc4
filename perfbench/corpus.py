"""Seeded, cached benchmark inputs and their correctness references.

Pages come from the program's own fixture generator
(``pipeline.fixtures.generate_pages`` / ``inject_duplicates``) and are
written as multi-file parquet in the pipeline's input schema
``url, warc_ts, html, text, lang`` — the program under test only ever
sees those files. A corpus is keyed by seed, size and duplicate
injection, so a second run with the same key reuses the files. The
references each output check compares against are computed once per
corpus, from the files, and cached beside them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def ensure_corpus(cache: str, seed: int, n_pages: int, with_dups: bool,
                  n_files: int) -> str:
    """Directory of `n_files` parquet files holding the seeded corpus:
    `n_pages` generated pages, plus the fixture's default 5% exact and
    3% near copies when `with_dups`."""
    from dataprof_spark.pipeline import fixtures

    name = f"pages_seed{seed}_n{n_pages}" + ("_dups" if with_dups else "")
    path = os.path.join(cache, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    rows = fixtures.generate_pages(n_pages, seed=seed)
    if with_dups:
        rows = fixtures.inject_duplicates(rows, seed=seed)
    table = pa.table(
        {c: [r[c] for r in rows] for c in SCHEMA.names}, schema=SCHEMA
    )
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    step = math.ceil(table.num_rows / n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(tmp, f"part-{i:05d}.parquet"),
        )
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, path)
    return path


def read_pages(path: str) -> list[dict]:
    return pq.read_table(path, schema=SCHEMA).to_pylist()


def decisions_digest(rows) -> str:
    """Order-independent digest of (url, keep, drop_reason,
    scrubbed_text) over decision rows (urls are unique)."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["url"]):
        rec = [r["url"], bool(r["keep"]), r["drop_reason"],
               r["scrubbed_text"]]
        h.update(json.dumps(rec).encode())
        h.update(b"\n")
    return h.hexdigest()


def _labels(path: str) -> list[dict]:
    from dataprof_spark.pipeline import labeler

    return labeler.label_rows(read_pages(path))


def _ref_labels(path: str) -> dict:
    labels = _labels(path)
    return {"n_docs": len(labels), "digest": decisions_digest(labels)}


def _ref_exact_dups(path: str) -> dict:
    from dataprof_spark.pipeline import dedup_stage

    labels = dedup_stage.label_exact_duplicates(_labels(path))
    return {
        "n_docs": len(labels),
        "exact_urls": sorted(
            r["url"] for r in labels if r["drop_reason"] == "exact_duplicate"
        ),
    }


def _ref_column_counts(path: str) -> dict:
    table = pq.read_table(path, schema=SCHEMA)
    return {
        "n_docs": table.num_rows,
        "nulls": {c: table.column(c).null_count for c in table.column_names},
    }


_REFERENCES = {
    "labels": _ref_labels,
    "exact_dups": _ref_exact_dups,
    "column_counts": _ref_column_counts,
}


def reference(path: str, kind: str) -> dict:
    """The cached `kind` reference of the corpus at `path`."""
    ref_path = os.path.join(path, f"_ref_{kind}.json")
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            return json.load(f)
    ref = _REFERENCES[kind](path)
    with open(ref_path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(ref_path + ".tmp", ref_path)
    return ref
