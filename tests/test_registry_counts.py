"""Pin the registry ledger numbers (VERDICT r12 item 8): COVERAGE.md's
query/oracle counts drifted from the driver contract in r12 (421/416 vs
the actual 422/417) because a functionally-registered query evaded the
hand count.  These asserts make the numbers mechanical: update the
constants (and COVERAGE.md) in the same commit that registers a query.
"""

from __future__ import annotations

# Update alongside COVERAGE.md's round-delta line.
EXPECTED_QUERIES = 428
# 4 rows-only by design (sketch_hll_distinct, sample_stratified,
# ts_quantiles_approx, ml_gbt_forecast_eval — each approximate/engine-
# specific by definition, each with a hash-green exact twin);
# sim_topk_relation_gemm and sim_ivf_topk upgraded to full oracles in r14.
EXPECTED_ORACLES = 424


def test_registry_counts_match_ledger():
    import __spark_entry__ as entry

    qs = entry.queries()
    osql = entry.oracle_sql()
    assert len(qs) == EXPECTED_QUERIES, (
        f"{len(qs)} registered queries; ledger says {EXPECTED_QUERIES} — "
        "update EXPECTED_QUERIES and COVERAGE.md together"
    )
    assert len(osql) == EXPECTED_ORACLES, (
        f"{len(osql)} oracles; ledger says {EXPECTED_ORACLES}"
    )
    assert set(osql) <= set(qs)

