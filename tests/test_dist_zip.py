"""The committed cluster artifact dist/lucene_spark.zip must match the
source tree byte-for-byte — a stale zip ships different code to
spark-submit --py-files than the repo tests verified. The comparison is
``tools/make_pyfiles.py``'s, which its ``--check`` mode also runs."""

import importlib.util
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "make_pyfiles.py")


def _make_pyfiles():
    spec = importlib.util.spec_from_file_location("make_pyfiles", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dist_zip_matches_source():
    mp = _make_pyfiles()
    assert mp.zip_problems() == []
    # byte equality, entry by entry
    with zipfile.ZipFile(mp.ZIP_PATH) as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    assert zipped == mp.source_files()


def test_zip_check_flags_stale_and_missing_entries(tmp_path):
    mp = _make_pyfiles()
    src = mp.source_files()
    name = sorted(src)[0]
    stale = tmp_path / "stale.zip"
    with zipfile.ZipFile(stale, "w") as z:
        for n, data in src.items():
            z.writestr(n, data + b"#" if n == name else data)
    assert mp.zip_problems(str(stale)) == [f"stale zip entries {[name]}"]
    short = tmp_path / "short.zip"
    with zipfile.ZipFile(short, "w") as z:
        for n, data in src.items():
            if n != name:
                z.writestr(n, data)
    (problem,) = mp.zip_problems(str(short))
    assert "file sets differ" in problem and name in problem
    assert mp.zip_problems(str(tmp_path / "absent.zip"))


def test_zip_check_cli_exit_code():
    # the committed zip is current, so --check passes
    r = subprocess.run([sys.executable, TOOL, "--check"],
                       capture_output=True, text=True)
    assert r.returncode == 0, r.stderr
