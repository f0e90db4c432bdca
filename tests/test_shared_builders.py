"""Oracle parity for the shared analytics builders.

Each repeated query family of ``relational.py``, ``textstats.py``,
``graphalgo.py`` and ``quality_rules.py`` is built once as a private
Spark builder and once as a private oracle SQL fragment. Each case runs
one registry query that goes through a family's shared code, in Spark
(``spec.fn``) and in DuckDB (``spec.sql``), on the sf0.001 tables, and
compares row counts and ``scripts/check_oracle.py``'s value hash.
"""

import importlib.util
from pathlib import Path

import duckdb
import pytest

from pdf_extractor_spark.analytics import QUERIES
from pdf_extractor_spark.analytics.base import TABLES

SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    Path(__file__).resolve().parents[1] / "scripts" / "check_oracle.py",
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

# registry query → the shared builders / fragments it runs
CASES = {
    # relational.py
    "concurrent_sessions_peak": "_SESSION_FLAGGED_SQL",
    "winsorized_mean_robust": "_segment_cents, _segment_rank_spans, "
    "_trim_k_overlap, _SEG_CENTS_HIST_SQL, _SEG_CUM_K_SQL, "
    "_SEG_KEPT_SUM_SQL",
    "median_ci_order_stats": "_order_cents_cum, _ORDER_CENTS_CUM_SQL",
    "cusum_change_point": "_daily_cents, _cents_sum",
    "theil_sen_daily_revenue": "_daily_xy",
    "variance_decomposition_daily": "_ols_sums, _ols_resid_q, "
    "_OLS_SUMS_SQL, _OLS_COEF_SQL",
    "residual_runs_test": "_DAILY_Y_OLS_SQL",
    "segment_trend_tstats": "_segment_daily_cents, _SEGMENT_DAILY_SQL, "
    "_SEG_TREND_SE2_SQL",
    "growth_accounting_monthly": "_monthly_customer_orders",
    "simpsons_paradox_audit": "_pearson_num_den",
    "partial_corr_features": "_li_features",
    "brand_return_rates": "_wilson_sql",
    # textstats.py
    "langid_cohens_kappa": "_lang_pred, _lang_cells, _LANG_HITS_SQL, "
    "_LANG_CASE_SQL, _LANG_CELLS_SQL",
    "bm25_search": "_bm25_per_doc",
    "tokenizer_fertility": "_bpe_per_doc_sql",
    "brown_forsythe_length": "_oneway_anova, _anova_sql",
    "mutual_info_lang_source": "_LANG_SOURCE_MARGINS_SQL",
    "kendall_tau_len_quality": "_len_quality_scores, "
    "_LEN_QUALITY_SCORED_SQL",
    "good_turing_unseen": "_TOKEN_PROFILE_SQL",
    "top_term_drift_waves": "base._doc_wave, base._DOC_WAVE_SQL",
    # graphalgo.py
    "kcore_peel": "_UNNEST_EDGES_SQL",
    "local_clustering_coeff": "_RAW_EDGES_SQL, _UND_SQL, _UND_DEG_SQL, "
    "_ORIENTED_SQL, _TRIS_SQL",
    # quality_rules.py
    "classifier_ks_separation": "_score_label_hist, _SCORE_LABEL_HIST_SQL",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(CASES))
def test_shared_builder_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(spec.sql)
    orows = rel.fetchall()
    assert srows, f"{name} returns no rows at sf0.001"
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert check_oracle.value_hash(sdf.columns, srows) == (
        check_oracle.value_hash(rel.columns, orows)
    )
