"""Engine operators: error side-channel, validation and dedup joins,
dedup, group-back, similarity. These are the composable building blocks
the pipelines in plans/ assemble."""

from .cache import artifact_scope, persist_artifact, unpersist_artifacts
from .errors import (
    with_error,
    split_errors,
    warning_rows,
    group_error_report,
    write_error_csv,
)
from .joins import (
    validation_anti_join,
    dedup_anti_join,
    run_validations,
    ValidationError,
)

__all__ = [
    "persist_artifact",
    "unpersist_artifacts",
    "artifact_scope",
    "with_error",
    "split_errors",
    "warning_rows",
    "group_error_report",
    "write_error_csv",
    "validation_anti_join",
    "dedup_anti_join",
    "run_validations",
    "ValidationError",
]
