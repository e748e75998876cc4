"""The gated page stream is checkpoint.run, one micro-batch at a time:
its decisions equal a batch checkpoint.run and the pure-Python labeler
row for row, every batch's manifests conserve documents, and a replay
after a lost stream checkpoint or a half-written batch rewrites
byte-identical decisions files."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dataprof_spark.pipeline import checkpoint, fixtures, labeler
from dataprof_spark.streaming import metrics as sm

ROWS = fixtures.generate_pages(n=600, seed=11)
_CLEAN = [r for r in ROWS if r["_class"] == "clean_en"]


def _edge(i: int, text: str | None, lang: str | None, ts=True) -> dict:
    return {
        "url": f"https://edge.example/{i}",
        "warc_ts": _CLEAN[i]["warc_ts"] if ts else None,
        "html": b"",
        "text": text,
        "lang": lang,
    }


ALL_ROWS = ROWS + [
    _edge(0, None, "en"),
    _edge(1, "", "en"),
    _edge(2, " \t\n  \n", "en"),
    _edge(3, _CLEAN[3]["text"], "en", ts=False),
    _edge(4, _CLEAN[4]["text"], None),
    _edge(5, None, None, ts=False),
]
# 3 files → 3 micro-batches at maxFilesPerTrigger=1; the stride puts
# two edge rows in each file
FILES = [ALL_ROWS[i::3] for i in range(3)]
FIELDS = ("url", "keep", "drop_reason", "scrubbed_text")


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_pages")
    for i, chunk in enumerate(FILES):
        t = pa.table({
            "url": [r["url"] for r in chunk],
            "warc_ts": pa.array(
                [r["warc_ts"] for r in chunk],
                type=pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([r["html"] for r in chunk], type=pa.binary()),
            "text": [r["text"] for r in chunk],
            "lang": [r["lang"] for r in chunk],
        })
        pq.write_table(t, str(base / f"part_{i}.parquet"))
    return str(base)


def _stream(spark, pages_dir, out):
    sm.run_gated_stream(sm.read_page_stream(spark, pages_dir), out,
                        run_id="t")


@pytest.fixture(scope="module")
def streamed(spark, pages_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gated") / "out")
    _stream(spark, pages_dir, out)
    return out


def _copy(streamed, tmp_path):
    out = str(tmp_path / "out")
    shutil.copytree(streamed, out)
    return out


def _rows(df) -> dict[str, tuple]:
    return {r["url"]: tuple(r[f] for f in FIELDS)
            for r in df.select(*FIELDS).collect()}


def _file_hashes(out) -> dict[tuple, list[str]]:
    """sha256 of every decisions data file, keyed by batch and
    partition directory (file names carry a per-write UUID)."""
    got: dict[tuple, list[str]] = {}
    for b, d in sm.batch_dirs(out).items():
        for f in glob.glob(os.path.join(d, "decisions", "part_key=*",
                                        "*.parquet")):
            with open(f, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            key = (b, os.path.basename(os.path.dirname(f)))
            got.setdefault(key, []).append(digest)
    return {k: sorted(v) for k, v in got.items()}


def _counters(out) -> dict[tuple, tuple]:
    keys = ("docs_in", "docs_out", "drop_reason_counts", "scrub_counts",
            "bytes_in")
    return {
        (b, r["partition_id"]): tuple(r[k] for k in keys)
        for b, d in sm.batch_dirs(out).items()
        for r in checkpoint._read_manifests(d)
    }


def test_stream_metrics_reconcile_with_decisions_and_batch(
    spark, pages_dir, streamed, tmp_path
):
    got = _rows(sm.read_stream_decisions(spark, streamed))
    assert len(got) == len(ALL_ROWS)

    # stream == batch checkpoint.run over the same files == labeler
    batch_out = str(tmp_path / "batch")
    checkpoint.run(spark.read.parquet(pages_dir), batch_out, run_id="b")
    assert got == _rows(checkpoint.read_decisions(spark, batch_out))
    want = {r["url"]: tuple(r[f] for f in FIELDS)
            for r in labeler.label_rows(ALL_ROWS)}
    assert got == want

    # one checkpoint.run per file; per batch and partition the
    # manifests conserve documents: docs_in = docs_out + Σ dropped
    dirs = sm.batch_dirs(streamed)
    assert sorted(dirs) == [0, 1, 2]
    per_batch = []
    for d in dirs.values():
        rows = checkpoint._read_manifests(d)
        assert len(rows) == checkpoint.N_BUCKETS_DEFAULT
        for r in rows:
            assert r["docs_in"] == (
                r["docs_out"] + sum(r["drop_reason_counts"].values())
            )
        per_batch.append(sum(r["docs_in"] for r in rows))
    assert sorted(per_batch) == sorted(len(f) for f in FILES)

    met = sm.read_stream_metrics(spark, streamed)
    totals = met.groupBy("batch_id").agg(
        F.sum("docs_in").alias("docs_in"), F.sum("docs_out").alias("kept")
    ).collect()
    assert sum(r["docs_in"] for r in totals) == len(ALL_ROWS)
    assert sum(r["kept"] for r in totals) == sum(v[1] for v in got.values())


def test_stream_restart_is_idempotent(spark, pages_dir, streamed, tmp_path):
    """Re-running availableNow over the same stream checkpoint finds
    no new files: no batch is added and no file is rewritten."""
    out = _copy(streamed, tmp_path)
    before = _file_hashes(out)
    _stream(spark, pages_dir, out)
    assert sorted(sm.batch_dirs(out)) == [0, 1, 2]
    assert _file_hashes(out) == before


def test_replay_after_lost_checkpoint_no_duplicates(
    spark, pages_dir, streamed, tmp_path
):
    """A lost stream checkpoint replays every batch under the same
    batch ids; each replayed checkpoint.run finds its partitions done,
    so the decisions files stay byte-identical."""
    out = _copy(streamed, tmp_path)
    before, counters = _file_hashes(out), _counters(out)
    shutil.rmtree(os.path.join(out, "_stream_checkpoint"))
    _stream(spark, pages_dir, out)
    assert _file_hashes(out) == before
    assert _counters(out) == counters
    assert sm.read_stream_decisions(spark, out).count() == len(ALL_ROWS)


def test_replay_after_half_written_batch_is_byte_identical(
    spark, pages_dir, streamed, tmp_path
):
    """A batch killed mid-write: its stream commit is missing and half
    of its partitions have neither a manifest nor a directory. Spark
    replays that batch; checkpoint.run rewrites only the missing
    partitions, with the same bytes and counters."""
    out = _copy(streamed, tmp_path)
    before, counters = _file_hashes(out), _counters(out)
    last = max(sm.batch_dirs(out))
    commits = os.path.join(out, "_stream_checkpoint", "commits")
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    d = sm.batch_dirs(out)[last]
    for k in range(checkpoint.N_BUCKETS_DEFAULT // 2):
        os.remove(os.path.join(d, "_manifest", f"part_{k}.json"))
        shutil.rmtree(os.path.join(d, "decisions", f"part_key={k}"))
    assert len(checkpoint.done_partitions(d)) == (
        checkpoint.N_BUCKETS_DEFAULT // 2
    )

    _stream(spark, pages_dir, out)
    assert checkpoint.done_partitions(d) == set(
        range(checkpoint.N_BUCKETS_DEFAULT)
    )
    assert _file_hashes(out) == before
    assert _counters(out) == counters
