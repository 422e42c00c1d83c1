"""Every catalog query of ``__spark_entry__`` against its DuckDB oracle at
sf0.001: the same column names, the same row count, then the same values
with columns sorted by name and rows sorted by every column, floats
compared for exact equality.  One query can be run alone with
``pytest tests/test_catalog_oracles.py -k <name>``."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import numpy as np
import pytest

import __spark_entry__ as E
from a5pg_spark.sources.polygons import ELEPHANT_GEOJSON
from test_reference_paths import REFERENCE_ROOT


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _sorted(df):
    """Columns sorted by name, rows sorted by all columns."""
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", list(E.queries()))
def test_query_equals_its_oracle(spark, sf_dir, duck, name):
    got = _sorted(E.queries()[name](spark, sf_dir).toPandas())
    want = _sorted(duck.execute(E.oracle_sql(sf_dir)[name]).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    diffs = []
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if "f" in (a.dtype.kind, b.dtype.kind):
            same = np.array_equal(a.astype(np.float64), b.astype(np.float64))
        else:
            same = list(map(str, a)) == list(map(str, b))
        if not same:
            i = next((i for i in range(len(a)) if str(a[i]) != str(b[i])), 0)
            diffs.append(f"{c} at sorted row {i}: {a[i]!r} vs {b[i]!r}")
    assert not diffs


_IMPORT_PROBE = """
import os, sys

layer, *roots = sys.argv[1:]
roots = tuple(os.path.join(r, "") for r in roots)
hits = []


def names_a_root(v):
    return isinstance(v, (str, bytes)) and (
        os.fsdecode(v).startswith(roots) or os.fsdecode(v) == layer)


def audit(event, args):
    if event == "open" and names_a_root(args[0]):
        hits.append(args[0])


def profile(frame, event, arg):
    if event == "call":
        hits.extend(v for v in frame.f_locals.values() if names_a_root(v))


sys.addaudithook(audit)
sys.setprofile(profile)
import __spark_entry__  # noqa: E402
oracles = __spark_entry__.oracle_sql()
assert len(list(oracles)) == 59
assert "spatial_join_elephant" in oracles and "a5_dissolve_export" in oracles
assert "spatial_join" not in oracles
sys.setprofile(None)
assert not hits, hits
"""


def test_import_reads_no_input_file(sf_dir):
    """``import __spark_entry__``, listing ``oracle_sql()`` and testing the
    two elephant names with ``in`` open no file under the data or reference
    roots, nor the elephant layer.  An ``open`` audit hook sees Python's own
    opens; pyarrow and DuckDB open files in C++, which raises no audit
    event, so the probe also records every Python call whose arguments name
    a path there.  The layer's exact path is watched, not its directory,
    which holds the modules the import opens."""
    roots = [os.path.dirname(sf_dir), REFERENCE_ROOT]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", _IMPORT_PROBE, ELEPHANT_GEOJSON, *roots],
                       cwd=repo,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
