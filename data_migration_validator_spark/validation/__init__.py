from .bucket_reconcile import (  # noqa: F401
    bucket_digests,
    bucket_reconcile,
    bucket_summary,
    lake_bucket_reconcile,
)
from .checks import primary_key_validation, timeline, windowed_validation  # noqa: F401
from .reconcile import (  # noqa: F401
    annotated_comparison,
    column_metrics_from_annotated,
    column_mismatch_metrics,
    counts_from_annotated,
    extras,
    extras_from_annotated,
    full_outer_report,
    hash_reconcile,
    mismatch_rows_from_annotated,
    reconcile_counts,
    row_level_mismatches,
    windowed_from_annotated,
    with_row_digest,
)
from .schema_check import (  # noqa: F401
    name_type_check,
    ordinal_check,
    schema_store,
    type_compatibility,
)
from .summary import summary_from_annotated, validation_summary  # noqa: F401
from .pipeline import run_validation  # noqa: F401
from .quick import anomalous_keys, fetch_anomalous_rows, quick_validate  # noqa: F401
from .drift import drift_report, histogram, ks_stat, psi  # noqa: F401
from .profile import profile_columns, profile_compare  # noqa: F401
from .quality import (  # noqa: F401
    Rule,
    foreign_key,
    in_range,
    in_set,
    matches,
    not_null,
    run_checks,
    satisfies,
    unique,
)
from .mapping import (  # noqa: F401
    AddtnlFilter,
    TableMapping,
    load_mappings_csv,
    resolve_connections,
    run_mappings,
)
from .store import (  # noqa: F401
    make_anomaly_table,
    make_column_metrics_table,
    make_dq_table,
    make_log_table,
    make_pk_table,
    make_profile_table,
    make_summary_table,
    make_windowed_table,
    persist_anomalies,
    persist_column_metrics,
    persist_dq,
    persist_log,
    persist_pk,
    persist_profile,
    persist_summary,
    persist_windowed,
)
from .report import (  # noqa: F401
    anomaly_browser,
    dq_failures,
    failed_stages,
    latest_run_per_family,
    profile_drift,
    summary_conjunction,
    top_mismatched_columns,
)
