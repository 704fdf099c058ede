"""The program's Python source compiles with warnings as errors: an
invalid escape sequence in a string literal (a DeprecationWarning, a
SyntaxWarning from Python 3.12 on) silently keeps its backslash today and
becomes a SyntaxError in a later release. No Spark."""

import glob
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_source_compiles_without_warnings():
    paths = (
        [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
        + glob.glob(os.path.join(ROOT, "redshift_to_pendo_api_data_pipeline_spark",
                                 "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(ROOT, "tools", "*.py"))
    )
    errors = []
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", DeprecationWarning)
            warnings.simplefilter("error", SyntaxWarning)
            try:
                compile(src, path, "exec")
            except SyntaxError as e:
                errors.append(f"{os.path.relpath(path, ROOT)}:{e.lineno}: {e.msg}")
    assert errors == []
