"""Session plumbing: the package zip shipped to Python workers."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = textwrap.dedent(
    """
    import glob, os, sys, tempfile
    sys.path.insert(0, os.path.join(sys.argv[1], "src"))
    from sparkextract.spark.session import get_spark

    def probe(batches):
        import sparkextract.core.extract  # resolves from the shipped zip
        yield from batches

    spark = get_spark("pyfiles-cleanup", master="local[1]")
    spark.range(2).mapInPandas(probe, "id long").count()
    print(len(glob.glob(os.path.join(tempfile.gettempdir(), "sparkextract_pyfiles_*"))))
    spark.stop()
    """
)


def test_pyfiles_zip_removed_at_exit(tmp_path):
    """The zip a session builds for its workers lives in a temp dir that
    does not outlive the interpreter that made it."""
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARKEXTRACT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip().splitlines()[-1] == "1"  # built while the session ran
    assert not list(tmp_path.glob("sparkextract_pyfiles_*"))
