"""The committed spark-submit --py-files bundle (dist/sparkolumnar.zip,
built by make_pyfiles.sh) must match the package sources."""

import pathlib
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_pyfiles_zip_matches_package_sources():
    with zipfile.ZipFile(ROOT / "dist" / "sparkolumnar.zip") as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    sources = {p.relative_to(ROOT).as_posix(): p.read_bytes()
               for p in (ROOT / "sparkolumnar").rglob("*.py")
               if "__pycache__" not in p.parts}
    missing = sorted(set(sources) - set(zipped))
    extra = sorted(set(zipped) - set(sources))
    stale = sorted(n for n in set(sources) & set(zipped)
                   if sources[n] != zipped[n])
    assert not (missing or extra or stale), (
        f"dist/sparkolumnar.zip is out of date (rebuild with "
        f"`sh make_pyfiles.sh`): missing {missing}, extra {extra}, "
        f"differing {stale}")
