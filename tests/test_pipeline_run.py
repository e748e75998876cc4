"""spark-submit entrypoint: zip packaging + end-to-end main()."""

from __future__ import annotations

import json
import zipfile

from dataprof_spark.pipeline import fixtures, run


def test_make_zip(tmp_path):
    out = run.make_zip(str(tmp_path / "dist"))
    names = zipfile.ZipFile(out).namelist()
    assert "dataprof_spark/__init__.py" in names
    assert "dataprof_spark/operators/gates.py" in names
    assert all(n.endswith(".py") for n in names)


def test_main_end_to_end(spark, tmp_path, capsys):
    src = tmp_path / "pages_in"
    fixtures.pages_df(spark, fixtures.generate_pages(n=120)).write.parquet(
        str(src)
    )
    out_dir = tmp_path / "out"
    rc = run.main(
        [
            "--input", str(src),
            "--output", str(out_dir),
            "--buckets", "3",
            "--run-id", "t1",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_in"] == 120
    assert summary["partitions_processed"] == 3
    # re-run: resumable → zero partitions reprocessed
    rc = run.main(
        [
            "--input", str(src),
            "--output", str(out_dir),
            "--buckets", "3",
            "--master", "local[4]",
        ]
    )
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["partitions_processed"] == 0


def _codecs(path) -> set[str]:
    """Compression codec of every column chunk of every parquet file
    under `path`."""
    import pathlib

    import pyarrow.parquet as pq

    files = sorted(pathlib.Path(path).rglob("*.parquet"))
    assert files, path
    out = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out |= {rg.column(c).compression for c in range(rg.num_columns)}
    return out


def test_outputs_are_zstd(spark, tmp_path, capsys):
    """Every product write is zstd parquet (session.get_spark sets the
    codec): checkpoint.run's decisions, checkpoint.compact's rewrite
    of them, and the phase-2 dedup output that main writes."""
    from dataprof_spark.pipeline import checkpoint

    src = tmp_path / "pages_in"
    fixtures.pages_df(spark, fixtures.generate_pages(n=120)).write.parquet(
        str(src)
    )
    out_dir = tmp_path / "out"
    rc = run.main(
        [
            "--input", str(src),
            "--output", str(out_dir),
            "--buckets", "3",
            "--dedup", "near",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    decisions = out_dir / "decisions"
    written = set(decisions.rglob("*.parquet"))
    assert _codecs(decisions) == {"ZSTD"}
    assert _codecs(summary["dedup"]["output"]) == {"ZSTD"}
    checkpoint.compact(spark, str(out_dir))
    assert set(decisions.rglob("*.parquet")).isdisjoint(written)
    assert _codecs(decisions) == {"ZSTD"}


def test_default_zstd_level_beats_level_3(spark, tmp_path):
    """session.get_spark sets the zstd level (9): the session's default
    write of the fixture decisions is strictly smaller than the same
    rows written at Parquet's default level, 3."""
    import pathlib

    from dataprof_spark.operators import gates

    rows = (
        gates.decide(fixtures.pages_df(spark, fixtures.generate_pages(n=300)))
        .repartition(1)
        .sortWithinPartitions("url")
        .localCheckpoint()
    )

    def size(path, **opts) -> int:
        rows.write.options(**opts).parquet(str(tmp_path / path))
        return sum(
            f.stat().st_size
            for f in pathlib.Path(tmp_path / path).glob("*.parquet")
        )

    default = size("default")
    level3 = size("level3", **{"parquet.compression.codec.zstd.level": "3"})
    assert 0 < default < level3, (default, level3)
