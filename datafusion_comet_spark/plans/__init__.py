from .introspect import (  # noqa: F401
    PlanNode,
    broadcast_join_count,
    codegen_compiles,
    executed_plan,
    operators_in_plan,
    plan_string,
    pushed_filters,
    scan_passes,
    scans_under_broadcast,
    shuffle_count,
    walk_plan,
)
