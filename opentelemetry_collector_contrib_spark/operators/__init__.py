"""Operator namespace — convenience re-exports of the most-used entry points.

Modules (import directly for the full surface): parse, transform,
transform_processor, attributes, filter_processor, redaction, sampler,
router, recombine, count_connector, grouping, metrics, sessionize,
asof_join.
"""

from .asof_join import asof_join  # noqa: F401
from .attributes import Action, apply_attributes  # noqa: F401
from .count_connector import CountMetric, count_logs  # noqa: F401
from .filter_processor import filter_logs_legacy, filter_logs_ottl  # noqa: F401
from .parse import (  # noqa: F401
    csv_parser,
    json_parser,
    key_value_parser,
    regex_parser,
    syslog_parser,
    time_parser,
    uri_parser,
)
from .recombine import recombine  # noqa: F401
from .router import Route, route_match_once, route_multicast, routes_from_ottl, write_routed  # noqa: F401
from .sampler import probabilistic_sample  # noqa: F401
from .sessionize import session_aggregate, sessionize  # noqa: F401
from .transform_processor import StatementGroup, TransformProcessor  # noqa: F401
