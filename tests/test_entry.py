"""Driver-contract tests for __spark_entry__: entry() smoke, queries/oracle
key consistency, and a DuckDB spot-check of representative queries at
sf0.001 (the full sf0.01 sweep lives in scripts/check_entry.py)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

SPOT = [
    "a1_hash_agg",
    "e1_ratio_lambda",
    "j1_containment",
    "dd_exact_dedup",
    "emb_knn",
    # the two recurrence-based oracles (recursive-CTE Newton, grid argmin)
    # are the most numerically delicate — keep them under regression
    "e2_mle_zip",
    "e4_nb_grid",
    # E3 and E10 have no Python kernel: the SQL entry is their only
    # implementation
    "e3_mme_lambda",
    "e10_kmer_identity",
]

# Exchange / Sort / Window / Expand counts of each SPARK_OVERRIDES query's
# executed plan at sf0.001, pinned from the built plans: an override exists
# for its faster physical plan, so a plan that grows one fails here
OVERRIDE_PLAN_OPS = {
    "a12_abundance": (3, 0, 0, 0),
    "j1_containment": (1, 0, 0, 0),
    "j3_winner_argmax": (1, 1, 0, 0),
    "e1_ratio_lambda": (2, 1, 1, 0),
    "dd_minhash_sig": (1, 0, 0, 0),
    "dd_simhash": (1, 0, 0, 0),
    "dd_ngram_jaccard": (3, 0, 0, 0),
}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            coerced = pd.to_numeric(df[c], errors="coerce")
            if coerced.notna().sum() == df[c].notna().sum():
                df[c] = coerced.astype(float).round(6)
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class TestContract:
    def test_oracle_keys_subset_of_queries(self):
        assert set(E.oracle_sql()) <= set(E.queries())

    def test_query_count(self):
        # operator surface: ≥25 checked queries
        assert len(E.queries()) >= 25
        assert len(E.oracle_sql()) >= 20

    def test_entry_runs(self, spark):
        df = E.entry(spark)
        rows = df.collect()
        assert len(rows) >= 0
        assert set(df.columns) == {"image_id", "cluster_id"}

    @pytest.mark.parametrize("name", SPOT)
    def test_spot_queries_match_duckdb(self, spark, name):
        sdf = E.queries()[name](spark, SF).toPandas()
        con = duckdb.connect()
        for t in E.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
            )
        odf = con.sql(E.oracle_sql()[name]).df()
        a, b = _canon(sdf), _canon(odf)
        assert list(a.columns) == list(b.columns)
        assert len(a) == len(b)
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, atol=1e-6, rtol=1e-6
        )

    @pytest.mark.parametrize("name", sorted(OVERRIDE_PLAN_OPS))
    def test_override_plan_shape(self, spark, plan_ops, name):
        assert set(OVERRIDE_PLAN_OPS) == set(E.SPARK_OVERRIDES)
        ops = plan_ops(E.SPARK_OVERRIDES[name](spark, SF))
        pinned = dict(zip(("Exchange", "Sort", "Window", "Expand"), OVERRIDE_PLAN_OPS[name]))
        assert all(ops[op] <= pinned[op] for op in pinned), (ops, pinned)
