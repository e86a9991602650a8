"""``session._package_zip``: the executor zip is named by the version of
the source it holds."""

import os
import shutil
import subprocess
import sys

from log_parser_project_spark import session


def _zip_path_of(root: str) -> str:
    r = subprocess.run(
        [sys.executable, "-c",
         "from log_parser_project_spark.session import _package_zip; "
         "print(_package_zip())"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout.strip().splitlines()[-1]


def test_package_zip_is_named_by_content(tmp_path):
    here = session._package_zip()
    assert session._package_zip() == here
    assert os.path.isfile(here)

    pkg = os.path.dirname(os.path.abspath(session.__file__))
    copy = tmp_path / "copy"
    shutil.copytree(pkg, copy / os.path.basename(pkg),
                    ignore=shutil.ignore_patterns("__pycache__"))
    # the same tree from another checkout zips to the same path
    assert _zip_path_of(str(copy)) == here

    # one changed file gives another path
    with open(copy / os.path.basename(pkg) / "registry.py", "a") as f:
        f.write("\n# changed\n")
    other = _zip_path_of(str(copy))
    assert other != here
    assert os.path.isfile(other) and os.path.isfile(here)
