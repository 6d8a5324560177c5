"""dist/unraveldocs_spark.zip is what spark-submit ships to executors
(--py-files): it must hold exactly the package's .py files, byte for byte,
or executors run different code than the driver.  Rebuild it with
tools/build_pyfiles.sh after changing anything under unraveldocs_spark/."""

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_sources() -> dict[str, bytes]:
    out = {}
    for root, dirs, files in os.walk(os.path.join(ROOT, "unraveldocs_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, ROOT).replace(os.sep, "/")] = fh.read()
    return out


def test_pyfiles_zip_matches_package():
    src = _package_sources()
    with zipfile.ZipFile(os.path.join(ROOT, "dist", "unraveldocs_spark.zip")) as z:
        zipped = {name: z.read(name) for name in z.namelist()}
    hint = "rebuild with tools/build_pyfiles.sh"
    assert sorted(zipped) == sorted(src), hint
    stale = sorted(name for name in src if zipped[name] != src[name])
    assert not stale, f"stale in the zip: {stale}; {hint}"
