"""Fan-out router: event-name predicates -> sink assignment + multi-sink write.

The reference emits to a single downstream consumer (connector.go:133); the
north rule generalizes this to a conditional multi-sink fan-out keyed by
event-name predicates. Design: ONE pass — a precomputed `sink` column via a
codegen'd `when` ladder, then a single partitioned write with
partitionBy(sink) — instead of N filtered scans of the same input.

Empty-output suppression (O19, connector.go:131-141): a sink with zero
routed rows simply produces no partition directory / no aggregate group;
writers additionally skip the job when the frame is all-empty.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from .config import DEFAULT_SINK, DEFAULT_ROUTES, SinkRoute


def route_predicate(route: SinkRoute, name: Column) -> Column:
    if route.kind == "contains_any":
        return reduce(operator.or_, map(name.contains, route.values))
    if route.kind == "prefix_any":
        return reduce(operator.or_, map(name.startswith, route.values))
    return name.isin(list(route.values))


def sink_column(
    routes: tuple[SinkRoute, ...] = DEFAULT_ROUTES, default_sink: str = DEFAULT_SINK
) -> Column:
    """First-match-wins `when` ladder assigning each record its sink."""
    name, ladder = F.col("event_name"), None
    for r in routes:
        cond = route_predicate(r, name)
        ladder = (
            F.when(cond, F.lit(r.sink)) if ladder is None else ladder.when(cond, F.lit(r.sink))
        )
    return F.lit(default_sink) if ladder is None else ladder.otherwise(F.lit(default_sink))
