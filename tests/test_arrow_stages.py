"""The package's Python stages are Arrow-native: no module imports
pandas or builds a pandas UDF / mapInPandas stage, and every column UDF
goes through the one batch-map helper (operators/pystage.py), the only
place that pins a stage nondeterministic."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _package_lines():
    # a walk, not `git ls-files`: a copy without .git checks the same files
    paths = [p.relative_to(REPO) for p in (REPO / "ocr_service_spark").rglob("*.py")]
    paths = [p for p in paths
             if not any(d.startswith(".") or d == "__pycache__" for d in p.parts)]
    assert paths
    for path in sorted(paths):
        for i, line in enumerate((REPO / path).read_text().splitlines(), 1):
            yield f"{path}:{i}", line


def test_package_has_no_pandas_stage():
    pattern = re.compile(r"import pandas|pandas_udf|mapInPandas")
    assert [where for where, line in _package_lines() if pattern.search(line)] == []


def test_one_nondeterministic_pin():
    pins = [where for where, line in _package_lines() if "asNondeterministic" in line]
    assert [p.split(":")[0] for p in pins] == ["ocr_service_spark/operators/pystage.py"]
