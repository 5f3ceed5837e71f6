"""Guards on ``__spark_entry__.REGISTRY``, and its retired rows' oracles."""

import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_registry_is_exactly_50_and_fully_oracle_checked():
    active = [q for q in E.REGISTRY.values() if not q.retired]
    assert len(active) == len(E.queries()) == 50, (
        "driver records the first 50 registry rows"
    )
    assert all(q.oracle for q in active)


# derived from the registry, not hand-listed: a new retirement that
# forgot to extend this test would silently lose its value-level check
# (round-5 review find — exact_dedup was retired without a row here)
@pytest.mark.parametrize(
    "name", sorted(n for n, q in E.REGISTRY.items() if q.retired)
)
def test_retired_query_matches_oracle(spark, con, name, monkeypatch):
    # the analytic VALUES oracles (embedding_near_dup_recall) bake data
    # from a parquet dir at oracle-BUILD time — pin them to the same sf
    # the Spark side reads, scoped to this test only (a module-level
    # os.environ assignment ran at pytest collection and leaked the
    # override into every other test module; round-5 review find)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    q = E.REGISTRY[name]
    sdf = q.build(spark, SF_DIR).toPandas()
    odf = con.execute(q.sql()).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = _canon(sdf), _canon(odf)
    try:
        b = b.astype(a.dtypes.to_dict())
    except (TypeError, ValueError):
        pass
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_analytic_oracles_fail_loudly(monkeypatch):
    """An oracle-builder failure must raise, naming the failed row, not
    silently degrade the gate to rows-only (ADVICE r2)."""
    from no_fasel_scrapers_spark.oracle import analytic as ao

    def boom():
        raise OSError("testdata missing")

    monkeypatch.setattr(ao, "minhash_dedup_sql", boom)
    with pytest.raises(RuntimeError, match="oracle builders failed: minhash"):
        E.oracle_sql()


def test_duplicate_declaration_rejected(monkeypatch):
    monkeypatch.setattr(E, "REGISTRY", dict(E.REGISTRY))
    with pytest.raises(ValueError, match="'pricing_summary' is declared"):
        E.query("SELECT 1")(E.q_pricing_summary)


def test_import_loads_no_package_module():
    """The driver and --py-files zip runs rely on importing the entry
    module without loading the package: every package import stays
    inside a query or oracle body."""
    code = (
        "import sys, __spark_entry__; "
        "print([m for m in sys.modules if m.startswith('no_fasel')])"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "[]"


def test_query_scratch_dirs_removed_at_exit(tmp_path):
    """A registry crawl query keeps its catalog in a temp directory that
    the returned frame reads lazily: the directory outlives the query
    function and is removed when the process exits."""
    code = (
        "import glob, os\n"
        "import __spark_entry__ as E\n"
        "from no_fasel_scrapers_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "E.REGISTRY['crawl_e2e'].build(spark, '').collect()\n"
        "print(len(glob.glob(os.path.join(os.environ['TMPDIR'], 'nfs_*'))))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, check=True, env=dict(os.environ, TMPDIR=str(tmp_path)),
    )
    assert out.stdout.strip().splitlines()[-1] == "1"
    assert sorted(p.name for p in tmp_path.glob("nfs_*")) == []
