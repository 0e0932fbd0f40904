"""Partitioning-invariance gate: engine results must be a pure
function of the DATA, not of shuffle width or input layout.

At 100 TB the same query runs with different executor counts, AQE
coalescing decisions, and input splits every day — any result that
depends on partitioning (nondeterministic tiebreaks, RNG seeded per
partition, first()-without-order) silently corrupts downstream
training sets. Representative queries from each family re-run under a
different shuffle width AND a repartitioned scan must match the
baseline row-for-row.
"""

from __future__ import annotations

import pytest

from anti_money_laundering_spark.plans.catalog import get_catalog
from tests.oracle_utils import _canon

CATALOG = get_catalog()
INITIAL_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

#: One query per determinism-risk class: window tiebreaks, md5-ordered
#: top-k-per-group, md5 sampling, global rank, array-frame windows,
#: iterative graph fixpoint, EM iteration.
QUERIES = [
    "scd2_user_status",
    "per_source_doc_cap",
    "weighted_sample_orders",
    "vocab_top_terms",
    "rolling_median_value",
    "connected_components",
    "linkage_em_scored",
    "user_event_type_profile",  # array cell order (array_sort'd collect_set)
    "mad_outlier_values",  # double-window robust z + threshold
    "kmeans_lloyd_assignments",  # iterative argmin over exact integer distances
    "copurchase_graph_edges",  # posting-list pair join + hub cap
]


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_to_shuffle_width_and_scan_layout(spark, sf_dir, name):
    fn = CATALOG[name].fn
    base = _canon(fn(spark, sf_dir).toPandas())
    orig_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    orig_initial = spark.conf.get(INITIAL_WIDTH)
    orig_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # AQE's initial width is the batch width; shuffle.partitions is
        # the width of any plan that runs with AQE off
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set(INITIAL_WIDTH, "7")
        narrow = _canon(fn(spark, sf_dir).toPandas())
        # second leg: change the INPUT split layout too (64 KB splits →
        # many more, differently-bounded scan partitions)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        resplit = _canon(fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_shuffle)
        spark.conf.set(INITIAL_WIDTH, orig_initial)
        spark.conf.set("spark.sql.files.maxPartitionBytes", orig_split)
    assert base == narrow, f"{name}: result depends on shuffle width"
    assert base == resplit, f"{name}: result depends on input split layout"


def test_decimal_totals_exact_to_the_cent(spark, sf_dir):
    """The generic oracle compare normalizes floats AND Decimals to 6
    significant digits — useless for decimal_money_totals, whose whole
    point is cent-exactness at any magnitude. Compare the Decimal
    strings verbatim against DuckDB (no normalization)."""
    import duckdb

    from anti_money_laundering_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    q = CATALOG["decimal_money_totals"]
    got = {
        r["o_orderstatus"]: str(r["total_exact"]) for r in q.fn(spark, sf_dir).collect()
    }
    want = {s: str(v) for s, v, _ in con.execute(q.oracle).fetchall()}
    assert got == want
