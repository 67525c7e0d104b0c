"""README's and COVERAGE.md's registry counts must match the live
registry (no doc drift — r9 VERDICT #4 extended the guard to COVERAGE.md
after its counts silently went stale), and README's Data Source format
names must match the format table."""

import os
import re

from distributed_video_analytics_flink_spark.operators import QUERIES, oracle_sql
from distributed_video_analytics_flink_spark.sources.datasources import FORMATS

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
README = os.path.join(_ROOT, "README.md")
COVERAGE = os.path.join(_ROOT, "COVERAGE.md")


def test_readme_query_counts_match_registry():
    text = open(README).read()
    m = re.search(r"(\d+) registered queries", text)
    assert m, "README lost its registered-queries count line"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(QUERIES)} — "
        "update README.md's package map"
    )
    m = re.search(r"(\d+) with DuckDB\s+oracles", text)
    assert m, "README lost its oracle count line"
    assert int(m.group(1)) == len(oracle_sql()), (
        f"README says {m.group(1)} oracles, registry has {len(oracle_sql())}"
    )


def test_coverage_query_counts_match_registry():
    text = open(COVERAGE).read()
    m = re.search(r"(\d+) registered queries, (\d+)\s+with oracles", text)
    assert m, "COVERAGE.md lost its registry count line"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(QUERIES)}"
    )
    assert int(m.group(2)) == len(oracle_sql()), (
        f"COVERAGE.md says {m.group(2)} oracles, registry has {len(oracle_sql())}"
    )


def test_no_other_stale_registry_counts():
    """Any OTHER 'N registered queries' phrase in the two docs must also
    carry the live count — one guard for every future count mention."""
    for path in (README, COVERAGE):
        for m in re.finditer(r"(\d+) registered queries", open(path).read()):
            assert int(m.group(1)) == len(QUERIES), (
                f"{path} has a stale count: {m.group(0)}"
            )


def test_readme_format_names_match_format_table():
    """Every ``format("…")`` README names is a registered Data Source
    format, and every format in the table is named — the next format
    cannot land undocumented, nor a deleted one linger."""
    named = set(re.findall(r'format\("([^"]+)"\)', open(README).read()))
    assert named == set(FORMATS), (
        f"README names formats {sorted(named)}, the format table in "
        f"sources/datasources.py has {sorted(FORMATS)}"
    )
