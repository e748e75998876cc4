"""TRUE spark-submit --py-files deployment smoke (north rule: 'run
via spark-submit --py-files on multi-executor clusters').

The in-process test (test_pipeline_run) exercises main()'s logic;
this one exercises the DEPLOYMENT path: the library zipimported from
dist-style --py-files in a fresh driver JVM, from a cwd where the
repo package is NOT importable, with the master given on the SUBMIT
line — which get_spark must respect, not stomp with its local[N] default
(PYSPARK_GATEWAY_PORT gating in session.py).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from dataprof_spark.pipeline import fixtures, run


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if not spark_submit:
        pytest.skip("spark-submit not on PATH")

    src = tmp_path / "pages_in"
    fixtures.pages_df(spark, fixtures.generate_pages(n=80)).write.parquet(
        str(src)
    )
    zip_path = run.make_zip(str(tmp_path / "dist"))
    app = tmp_path / "app.py"
    shutil.copy(
        os.path.join(os.path.dirname(run.__file__), "run.py"), app
    )

    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[3]",
            "--py-files", zip_path,
            str(app),
            "--input", str(src),
            "--output", str(out_dir),
            "--buckets", "2",
            "--run-id", "submit-smoke",
        ],
        cwd=tmp_path,  # repo not importable from here: zip or bust
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["docs_in"] == 80
    assert summary["partitions_processed"] == 2
    # the submit-line master must win — a forced local[N] default
    # here would mean a real `--master yarn` submit runs single-node
    assert summary["master"] == "local[3]"
