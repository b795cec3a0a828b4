"""The Python boundary of the library is Arrow: no pandas UDF, no
mapInPandas, no applyInPandas (WithState included), outside the two
modules whose seam is pandas by design. Pure file scan, no Spark
session."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "semhash_spark"

# the corpus generator (strings only) and the multimodal decode seam
# (a user ``decode_fn`` over pandas bytes). The streaming module has no
# exemption: its stateful matcher, the last ``applyInPandasWithState``,
# is gone, and the pattern below matches that call too.
EXEMPT = {
    "sources/corpus.py",
    "operators/multimodal.py",
}

PANDAS_PATH = re.compile(r"mapInPandas|pandas_udf|applyInPandas")


def test_no_pandas_path_outside_exempt_modules():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel in EXEMPT:
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if PANDAS_PATH.search(line):
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "pandas path at the Python boundary:\n" + "\n".join(hits)


def test_exempt_modules_exist():
    # a renamed exempt module must not leave a stale exemption behind
    for rel in EXEMPT:
        assert (PACKAGE / rel).is_file(), rel
