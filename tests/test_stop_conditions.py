"""Stop-condition algebra + evaluator (stop_condition.rs:14-216
parity) and read-time encoding autodetect (robust_csv.rs policy)."""

from __future__ import annotations

from dataprof_spark.operators import stop_conditions as sc
from dataprof_spark.sources import readers


# ------------------------------------------------------------ algebra
def test_max_rows_algebra():
    assert sc.MaxRows(10).max_rows() == 10
    assert sc.MaxBytes(10).max_rows() is None
    # Any: earliest row-triggerable child wins
    assert sc.AnyOf([sc.MaxRows(10), sc.MaxRows(5)]).max_rows() == 5
    assert sc.AnyOf([sc.MaxRows(10), sc.MaxBytes(1)]).max_rows() == 10
    assert sc.AnyOf([sc.MaxBytes(1)]).max_rows() is None
    # All: last child to fire sets the bound; any non-row child → None
    assert sc.AllOf([sc.MaxRows(10), sc.MaxRows(5)]).max_rows() == 10
    assert sc.AllOf([sc.MaxRows(10), sc.MaxBytes(1)]).max_rows() is None
    assert sc.AllOf([]).max_rows() is None  # empty All never fires


def test_is_row_limit_only():
    assert sc.Never().is_row_limit_only()
    assert sc.MaxRows(5).is_row_limit_only()
    assert sc.AnyOf([sc.MaxRows(5), sc.Never()]).is_row_limit_only()
    assert not sc.MaxBytes(5).is_row_limit_only()
    assert not sc.AnyOf([sc.MaxRows(5), sc.MaxBytes(1)]).is_row_limit_only()


def test_evaluator_semantics():
    # bytes cap fires on accumulated bytes
    ev = sc.StopEvaluator(sc.MaxBytes(100))
    assert not ev.update(chunk_rows=10, chunk_bytes=60)
    assert ev.update(chunk_rows=10, chunk_bytes=60)
    assert ev.triggered_reason == "max_bytes(100)"
    # once triggered, stays triggered
    assert ev.update(chunk_rows=0, chunk_bytes=0)

    # confidence is inert without an estimate...
    ev = sc.StopEvaluator(sc.ConfidenceThreshold(0.5))
    assert not ev.update(chunk_rows=10 ** 9)
    # ...and fires at the threshold with one
    ev = sc.StopEvaluator(
        sc.ConfidenceThreshold(0.5), estimated_total_rows=100
    )
    assert not ev.update(chunk_rows=49)
    assert ev.update(chunk_rows=1)

    # thresholds clamp to [0, 1] (reference clamp_thresholds)
    assert sc.ConfidenceThreshold(7.0).threshold == 1.0
    assert sc.MemoryPressure(-1.0).threshold == 0.0

    # All fires only when every child has fired
    ev = sc.StopEvaluator(sc.AllOf([sc.MaxRows(10), sc.MaxBytes(100)]))
    assert not ev.update(chunk_rows=20, chunk_bytes=10)
    assert ev.update(chunk_rows=0, chunk_bytes=100)

    # schema stability accumulates and resets on change
    ev = sc.StopEvaluator(sc.SchemaStable(100))
    assert not ev.update(chunk_rows=60)
    assert not ev.update(chunk_rows=60, schema_changed=True)
    assert not ev.update(chunk_rows=60)
    assert ev.update(chunk_rows=60)


def test_presets_match_reference():
    si = sc.schema_inference()
    assert si.max_rows() == 10_000
    qs = sc.quality_sample()
    assert qs.max_rows() == 50_000
    assert not qs.is_row_limit_only()


# ------------------------------------------------ encoding autodetect
def test_detect_encoding(tmp_path):
    p_utf8 = tmp_path / "a.csv"
    p_utf8.write_bytes("col\ncafé\n".encode("utf-8"))
    assert readers.detect_encoding(str(p_utf8)) == "UTF-8"

    p_latin = tmp_path / "b.csv"
    p_latin.write_bytes("col\ncaf\xe9\n".encode("latin-1"))
    assert readers.detect_encoding(str(p_latin)) == "ISO-8859-1"

    p_16 = tmp_path / "c.csv"
    p_16.write_bytes(b"\xff\xfe" + "col\nx\n".encode("utf-16-le"))
    assert readers.detect_encoding(str(p_16)) == "UTF-16LE"

    p_bom = tmp_path / "d.csv"
    p_bom.write_bytes(b"\xef\xbb\xbf" + "col\nx\n".encode("utf-8"))
    assert readers.detect_encoding(str(p_bom)) == "UTF-8"


def test_read_csv_latin1_autodetected(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes("name;city\nRenée;Orléans\n".encode("latin-1"))
    res = readers.read_csv_robust(spark, str(p), encoding=None)
    row = res.df.collect()[0]
    assert row["name"] == "Renée" and row["city"] == "Orléans"
    assert res.options["encoding"] == "ISO-8859-1"
