"""The C DOM kernel builds wherever the package is imported from, and a
failed build is loud.

Both tests run a fresh interpreter (no Spark) with an empty build cache,
so the kernel is compiled from the source the package ships.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _run(code: str, pythonpath: Path, cwd: Path, **env: str):
    return subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(cwd),
        env={**os.environ, "PYTHONPATH": str(pythonpath), **env},
    )


def test_c_kernel_builds_from_py_files_zip(tmp_path):
    """The `spark-submit --py-files` shape: the package resolves only
    from a zip (built as test_spark_submit_job builds it), and the
    kernel compiles from the zipped _cdom.c."""
    zip_path = tmp_path / "go_htmldate_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for p in (REPO / "go_htmldate_spark").rglob("*"):
            if p.is_file() and "_build" not in p.parts and "__pycache__" not in p.parts:
                z.write(p, p.relative_to(REPO))
    code = (
        "import json\n"
        "from go_htmldate_spark import Options, from_html\n"
        "from go_htmldate_spark.dom import cnative, parser\n"
        "m = cnative.get()\n"
        "print(json.dumps({'parser': parser.__file__,\n"
        "    'c_kernel': m is not None,\n"
        "    'c_node': m is not None and issubclass(parser.Node, m.NodeBase),\n"
        "    'date': from_html('<p class=date>5 March 2019</p>', Options()).date}))\n"
    )
    proc = _run(code, zip_path, tmp_path, XDG_CACHE_HOME=str(tmp_path / "cache"))
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.splitlines()[-1])
    assert got["parser"].startswith(str(zip_path))
    assert got["c_kernel"] and got["c_node"]
    assert got["date"] == "2019-03-05"


def test_failed_build_raises_import_error_naming_the_compiler(tmp_path):
    code = (
        "import sys\n"
        "try:\n"
        "    import go_htmldate_spark\n"
        "except ImportError as e:\n"
        "    print(e)\n"
        "    sys.exit(3)\n"
    )
    proc = _run(
        code, REPO, tmp_path, CC="false", XDG_CACHE_HOME=str(tmp_path / "cache")
    )
    assert proc.returncode == 3, proc.stdout + proc.stderr[-4000:]
    assert "building the C DOM kernel failed" in proc.stdout
    assert "false -O2" in proc.stdout
