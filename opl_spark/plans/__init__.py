"""Plan inspection utilities (see ``plans.inspect``)."""

from opl_spark.plans.inspect import (  # noqa: F401
    formatted_plan,
    scale_lint,
    unpartitioned_ordered_windows,
    unpartitioned_unordered_windows,
    window_specs,
)
