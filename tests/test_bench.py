"""bench.py's Spark-free surface: the final headline line, the perfbench
line it reads its extraction figure from, the sfX data-directory name,
and the environment knobs the program reads."""

from __future__ import annotations

import json
import os
import re
from pathlib import Path

import pytest

import bench as b

REPO = Path(__file__).resolve().parent.parent

PERFBENCH_LINE = {
    "correct": True, "attempted": 17, "failed": 0,
    "metrics": {"docs_per_s": {"value": 1432.5, "unit": "1/s"},
                "cpu_ms_per_doc": {"value": 2.1, "unit": "ms"},
                "peak_rss_mib": {"value": 1510.0, "unit": "MiB"},
                "setup_s": {"value": 22.4, "unit": "s"}},
}

# the settable environment of the program: a new knob is an option and
# has to be argued for, not slipped in
KNOBS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_WAREHOUSE",
         "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_CORPUS"}


def test_headline_line_is_driver_parseable():
    """Readers parse a bounded tail of stdout: the final line must be
    compact (<2000 chars even with a 20-query map), valid JSON, and
    carry every key the round-over-round comparison reads."""
    queries = {f"query_{i:02d}": 1.234 for i in range(20)}
    r = {"queries": queries, "cores": 32, "shuffle_partitions": 16,
         "extract_docs_per_sec": 6104.0, "flagship_docs_per_sec": 1842.0}
    line = b.headline_line(r, 0.1)
    assert "\n" not in line
    assert len(line) < 2000
    d = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "overlap16_total",
                "sf", "cores", "shuffle_partitions", "extract_docs_per_sec",
                "flagship_docs_per_sec"):
        assert key in d, key
    assert d["metric"] == "headline_total"
    assert d["queries"] == queries
    assert d["value"] == round(sum(queries.values()), 3)


def test_perfbench_final_line_gives_extract_docs_per_sec():
    stdout = ("docs_per_s median 1432.5000 1/s (q1 1400.0, q3 1450.0, n=12)\n"
              + json.dumps(PERFBENCH_LINE) + "\n")
    assert b.parse_perfbench(stdout) == 1432.5


def test_perfbench_line_with_failed_check_raises():
    line = json.dumps(dict(PERFBENCH_LINE, correct=False, failed=1))
    with pytest.raises(RuntimeError, match="output check"):
        b.parse_perfbench(line)


@pytest.mark.parametrize("sf_dir, sf", [("/data/sf0.1", 0.1), ("/data/sf10/", 10.0),
                                        ("sf0.001", 0.001)])
def test_scale_factor_is_the_directory_name(sf_dir, sf):
    assert b.scale_factor(sf_dir) == sf


@pytest.mark.parametrize("sf_dir", ["/data/sfdata", "/data/sf0.1/documents", "/data/tpch"])
def test_scale_factor_rejects_a_non_sf_directory(sf_dir):
    with pytest.raises(ValueError, match="sfX directory"):
        b.scale_factor(sf_dir)


def test_program_reads_only_the_kept_env_knobs():
    # a walk, not `git ls-files`: a copy without .git checks the same files
    paths = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        paths += [Path(root, f).relative_to(REPO) for f in files if f.endswith((".py", ".sh"))]
    assert paths
    names = set()
    for path in paths:
        if path.parts[0] == "tests" or path.name.startswith("test_"):
            continue
        names |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", (REPO / path).read_text()))
    assert names == KNOBS
