"""The driver contract must hold from ANY cwd: __spark_entry__ imports via
its own path bootstrap, and UDF-bearing ops work because the queries()
wrapper ships bpspark to executor Python workers (addPyFile). Repo-cwd
tests can't catch a regression there (workers then import bpspark from
the cwd by accident), so this test runs the sim in a subprocess from a
temp directory. The same vanilla-session run checks that the ops leave
the process-global temp dir alone."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

REPO = "/root/repo"

SCRIPT = f"""
import sys
import tempfile
sys.path.insert(0, {REPO!r})
tmp_before = tempfile.gettempdir()
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
q = e.queries()
# one UDF-bearing op (worker-side bpspark import) + one plain op
assert q["udf_scalar_pandas"](spark, "/root/testdata/sf0.001").count() > 0
assert q["scan_parquet"](spark, "/root/testdata/sf0.001").count() > 0
print("ENTRY_CONTRACT_OK")
print("TEMPDIR_UNCHANGED" if tempfile.tempdir == tmp_before else f"TEMPDIR_MOVED {{tempfile.tempdir}}")
"""


@pytest.fixture(scope="module")
def entry_run():
    # the engine's scratch default applies (no override in the child env)
    env = {k: v for k, v in os.environ.items() if k != "BPSPARK_SCRATCH_DIR"}
    return subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tempfile.mkdtemp(prefix="bpspark_cwd_"),
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )


def test_entry_runs_from_foreign_cwd(entry_run):
    assert "ENTRY_CONTRACT_OK" in entry_run.stdout, entry_run.stderr[-2000:]


def test_queries_leave_process_tempdir_unchanged(entry_run):
    """Importing __spark_entry__ and running queries() ops on a vanilla
    SparkSession must not repoint ``tempfile.tempdir``: only
    session.build() opts a process into the engine's fast scratch."""
    assert "TEMPDIR_UNCHANGED" in entry_run.stdout, entry_run.stdout[-2000:]


@pytest.mark.skipif(not os.access("/dev/shm", os.W_OK), reason="no writable /dev/shm")
def test_default_scratch_root_is_per_user_and_owner_checked(monkeypatch, tmp_path):
    """The default scratch root is the caller's own 0700 directory; one
    owned by another user (here: the real uid is not the one the process
    reports) is refused, while an explicit BPSPARK_SCRATCH_DIR is used
    as given."""
    from bpspark.config import fast_scratch_dir

    monkeypatch.delenv("BPSPARK_SCRATCH_DIR", raising=False)
    uid = os.getuid()
    own = fast_scratch_dir()
    assert own == f"/dev/shm/bpspark_scratch_{uid}"
    assert os.stat(own).st_uid == uid

    other = uid + 4242
    squatted = f"/dev/shm/bpspark_scratch_{other}"
    monkeypatch.setattr(os, "getuid", lambda: other)
    try:
        assert fast_scratch_dir() is None  # exists, but owned by the real uid
        assert os.stat(squatted).st_mode & 0o077 == 0
    finally:
        os.rmdir(squatted)

    monkeypatch.setenv("BPSPARK_SCRATCH_DIR", str(tmp_path / "explicit"))
    assert fast_scratch_dir() == str(tmp_path / "explicit")
