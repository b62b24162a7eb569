"""Package the engine for cluster submission: dist/lucene_spark.zip.

Usage:
    python tools/make_pyfiles.py            # (re)write the zip
    python tools/make_pyfiles.py --check    # exit 1 if the zip is stale
    spark-submit --py-files dist/lucene_spark.zip jobs/build_index.py \
        --input /path/transcripts --index /path/index --segments 4096
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP_PATH = os.path.join(REPO, "dist", "lucene_spark.zip")


def source_files() -> dict[str, bytes]:
    """The package's ``.py`` files: repo-relative name -> bytes."""
    src = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, "lucene_spark")):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    src[os.path.relpath(p, REPO)] = fh.read()
    return src


def zip_problems(zip_path: str = ZIP_PATH) -> list[str]:
    """Why the zip at ``zip_path`` does not ship the source tree byte for
    byte ([] when it does)."""
    if not os.path.exists(zip_path):
        return [f"{zip_path} missing"]
    with zipfile.ZipFile(zip_path) as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    src = source_files()
    problems = []
    if set(zipped) != set(src):
        problems.append(
            f"zip/source file sets differ: only-zip="
            f"{sorted(set(zipped) - set(src))} "
            f"only-src={sorted(set(src) - set(zipped))}")
    stale = sorted(n for n in set(src) & set(zipped) if zipped[n] != src[n])
    if stale:
        problems.append(f"stale zip entries {stale}")
    return problems


def main(argv: list[str]) -> int:
    if "--check" in argv:
        problems = zip_problems()
        for p in problems:
            print(f"{p} — run tools/make_pyfiles.py", file=sys.stderr)
        return 1 if problems else 0
    os.makedirs(os.path.dirname(ZIP_PATH), exist_ok=True)
    with zipfile.ZipFile(ZIP_PATH, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in sorted(source_files().items()):
            z.writestr(name, data)
    print(ZIP_PATH)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
