"""End-to-end `spark-submit --py-files` packaging test (north rule: the job
must run via spark-submit with the engine shipped as a zip, and must resume
from its committed block files on re-submit)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def _submit(pyfiles: str, *job_args: str) -> dict:
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", pyfiles,
            os.path.join(REPO, "jobs", "encode_job.py"),
            *job_args,
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    line = next(
        (l for l in proc.stdout.splitlines() if l.startswith("ENCODE_JOB_RESULT ")),
        None,
    )
    assert line is not None, (proc.stdout[-3000:], proc.stderr[-3000:])
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(line[len("ENCODE_JOB_RESULT "):])


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_roundtrip_and_resume(spark, tmp_path):
    from parquet_python_spark.tokengen import write_tokens_table

    tokens = str(tmp_path / "tokens")
    out = str(tmp_path / "encoded")
    write_tokens_table(spark, tokens, 2000, seed=7)

    pyfiles = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"),
         str(tmp_path / "pps.zip")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.getsize(pyfiles) > 10_000

    stats = _submit(pyfiles, "--input", tokens, "--output", out, "--verify")
    assert stats["verify_ok"] is True
    assert stats["tokens"] > 0
    assert stats["resumed_skipped"] == 0

    # Re-submit: every task's block file is already committed, so the
    # second run must skip them all and still verify bit-identical.
    stats2 = _submit(pyfiles, "--input", tokens, "--output", out, "--verify")
    assert stats2["resumed_skipped"] == stats["partitions"] > 0
    assert stats2["verify_ok"] is True
    assert stats2["tokens"] == stats["tokens"]
