"""Empty-input sweep over EVERY driver query.

At 10^12-turn scale an empty (but fully schema'd) input is routine — today's
partition before any data lands, or an upstream filter that drops every row.
An engine that dies with an opaque zero-length-literal AnalysisException on an
empty table is not scale-ready. Contract: every ``queries()`` entry either
evaluates to a well-formed result on empty tables, or raises the documented
clear index-build error (you cannot build an ANN index over a corpus with no
vectors). The result is asserted too: violation, pair, drift and every other
row-per-finding frame is EMPTY; profile, grid and single-row statistic frames
emit exactly their fixed row count (one row per column / type rung / check /
stat), listed in ``ROWS_ON_EMPTY``.

The fixture mirrors the driver layout exactly: one ``{table}.parquet`` per
driver table, zero rows, the real schema (read from the sf0.001 testdata and
``limit(0)``'d).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from schema_infer_plugin_spark.sources.io import TABLES
from tests.conftest import SF_SMOKE

#: queries whose empty-input contract is a RAISE: they build a vector index
#: inline, and index construction over an empty corpus is an error by design
#: (datapipe/ann.py ivf_centroids — nothing to seed cells/codewords from).
RAISES_ON_EMPTY = {
    "ann_ivf_topk": "no vectors to seed cells",
    "ann_ivfpq_topk": "no vectors to seed cells",
    "ann_pq_topk": "no vectors to seed cells",
    "dedup_semantic": "no vectors to seed cells",
}


#: queries whose output on empty input is a fixed-size grid or summary, with
#: that size; every other query must return zero rows
ROWS_ON_EMPTY = {
    # per-column / per-field profile grids
    "transcripts_profile": 5,
    "type_ladder_profile": 8,
    "profile_compare_runs": 4,
    "profile_partial_merge": 3,
    "schema_evolution_verdicts": 7,
    "format_detect": 4,
    "pattern_rates": 2,
    # per-check / per-stage grids
    "sampled_validation_estimate": 10,
    "quality_funnel": 4,
    # single-row statistic frames
    "conv_group_sizes": 1,
    "embedding_centroid_drift": 1,
    "events_fk_verdict": 1,
    "ks_drift_turn_idx": 1,
    "quality_scorecard": 1,
    "transcripts_role_tool_mi": 1,
    "wasserstein_value_drift": 1,
}


@pytest.fixture(scope="session")
def sf_empty(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        (
            spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
            .limit(0)
            .coalesce(1)
            .write.parquet(str(d / f"{t}.parquet"))
        )
    return str(d)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_on_empty_input(spark, sf_empty, name):
    q = entrymod.queries()[name]
    if name in RAISES_ON_EMPTY:
        with pytest.raises(ValueError, match=RAISES_ON_EMPTY[name]):
            q(spark, sf_empty).count()
        return
    df = q(spark, sf_empty)
    assert df.columns, f"{name}: no output columns"
    assert df.count() == ROWS_ON_EMPTY.get(name, 0)
