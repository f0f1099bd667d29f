"""pyspark_datacol_diff_spark — a PySpark-native analytics engine with the
capabilities of the reference library ``pyspark-datacol-diff`` (DataFrame
column-level diff), rebuilt Spark-first and extended with large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns).

Public API:

    from pyspark_datacol_diff_spark import (
        diff, compute_dataframe_diff, diff_summary_stats, standardize,
        gen_comp_col,
    )
"""

from .errors import (
    DataColDiffError,
    InvalidArgumentError,
    PrimaryKeyError,
    SchemaMismatchError,
)
from .operators.diff import (
    apply_diff,
    change_intervals,
    distribution_drift,
    digests_equal,
    digest_tree,
    digest_tree_diff,
    profile_table,
    table_digest,
    compute_dataframe_diff,
    column_mismatch_counts,
    diff,
    diff_summary_stats,
    flag_counts,
    gen_comp_col,
    merge_upsert,
    resolve_compare_cols,
    standardize,
    suffix_columns,
    schema_diff,
    validate_schemas,
)
from .operators.fuzzy import fuzzy_join, fuzzy_join_multi
from .operators.incremental import (
    agg_state,
    forward_fill,
    merge_agg_states,
    running_total,
)
from .operators.histogram import (
    histogram,
    histogram_quantiles,
    histogram_quantiles_by,
    merge_histograms,
)
from .operators.prune import bloom_semi_join
from .operators.quality import check_rules, check_rules_by
from .plans import scale_lint
from .session import free_persistent_rdds, get_spark, quiesce_session

__all__ = [
    "agg_state",
    "forward_fill",
    "fuzzy_join",
    "fuzzy_join_multi",
    "merge_agg_states",
    "running_total",
    "bloom_semi_join",
    "histogram",
    "histogram_quantiles",
    "histogram_quantiles_by",
    "merge_histograms",
    "check_rules",
    "check_rules_by",
    "DataColDiffError",
    "InvalidArgumentError",
    "PrimaryKeyError",
    "SchemaMismatchError",
    "apply_diff",
    "change_intervals",
    "compute_dataframe_diff",
    "column_mismatch_counts",
    "diff",
    "digests_equal",
    "digest_tree",
    "digest_tree_diff",
    "distribution_drift",
    "diff_summary_stats",
    "flag_counts",
    "gen_comp_col",
    "merge_upsert",
    "resolve_compare_cols",
    "free_persistent_rdds",
    "get_spark",
    "quiesce_session",
    "profile_table",
    "scale_lint",
    "standardize",
    "suffix_columns",
    "table_digest",
    "schema_diff",
    "validate_schemas",
]

__version__ = "0.1.0"
