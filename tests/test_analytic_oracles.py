"""The analytic oracles (oracle/analytic.py) vs the live Spark queries at
sf0.001 — a second scale point beyond the driver's sf0.01, so the mirrors
can't be accidentally pinned to one dataset."""

import pytest

import __spark_entry__ as E
from no_fasel_scrapers_spark.oracle import analytic as ao

SF = "/root/testdata/sf0.001"


def _spark_rows(spark, qname):
    df = E.REGISTRY[qname].build(spark, SF)
    return sorted(tuple(r) for r in df.collect())


# embedding_near_dup_recall is compared with its builder's rows, at this
# same scale, by tests/test_retired_queries.py (its oracle is the VALUES
# SQL built from those rows)
@pytest.mark.parametrize(
    "qname, builder",
    [
        ("minhash_dedup", ao.minhash_dedup_rows),
        ("simhash_pairs", ao.simhash_pairs_rows),
        ("ivf_ann", ao.ivf_ann_rows),
        ("doc_fingerprints", ao.doc_fingerprints_rows),
        ("media_features", ao.media_features_rows),
        ("embedding_near_dup_lsh", ao.embedding_near_dup_rows),
    ],
)
def test_analytic_oracle_matches_spark(spark, qname, builder):
    got = _spark_rows(spark, qname)
    want = sorted(tuple(r) for r in builder(SF))
    assert got == want


def test_recall_meets_floor_on_driver_corpus():
    (n_true, n_found, recall) = ao.embedding_near_dup_recall_rows(SF)[0]
    assert n_true > 100  # the planted corpus yields a non-trivial truth set
    assert recall >= 0.9
