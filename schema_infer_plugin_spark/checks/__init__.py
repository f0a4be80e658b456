"""Pass-B constraint checks over a transcripts DataFrame.

Every Pass-B check is a ``custom.Rule``; plans/validate.py compiles a rule
list into one fused plan emitting typed violation rows (check_name, conv_id,
turn_idx, column, observed, expected) for the violations table
(operators/violations.py). The reference's analog is the per-message
parse/validity outcome ladder (core/inferrer.py:199-261). The other modules
are profiles and table-level checks, each one declarative plan with an
explicit scale posture documented per module.
"""

from .alternation import (  # noqa: F401
    alternation_rules,
    role_transition_matrix,
    transition_buckets,
    transition_chi2,
    transition_rules,
    transition_self_drift,
)
from .custom import Rule, expr_suite_violations  # noqa: F401
from .domains import infer_domain  # noqa: F401
from .fd import fd_violations  # noqa: F401
from .outliers import iqr_outliers  # noqa: F401
from .volume import daily_volume_anomalies  # noqa: F401
from .temporal import conv_latency_stats, ts_monotonic_violations_us  # noqa: F401
from .skew import group_size_stats, hot_key_report  # noqa: F401
from .drift import (  # noqa: F401
    bucket_counts,
    drift_compare,
    drift_counts,
    drift_terms,
    histogram,
    histogram_equidepth,
    temporal_self_drift,
    windowed_counts,
)
from .ksdrift import ks_statistic, wasserstein_statistic  # noqa: F401
from .salting import conv_stats, salted_two_phase, with_salt  # noqa: F401
from .referential import fk_orphans, fk_verdict  # noqa: F401
from .snapshot_diff import snapshot_diff  # noqa: F401
from .patterns import pattern_match_rates, pattern_violations  # noqa: F401
from .freshness import coverage_gaps, freshness  # noqa: F401
from .entropy import categorical_entropy, mutual_information  # noqa: F401
from .embedding_drift import centroid_drift  # noqa: F401
from .vector_sanity import vector_sanity_stats, vector_sanity_violations  # noqa: F401
from .correlation import (  # noqa: F401
    grouped_int_corr,
    grouped_int_corr_merge,
    grouped_int_corr_partial,
)
from .boundaries import boundary_rules  # noqa: F401
from .evolution import evolution_verdicts, schema_evolution_check  # noqa: F401
