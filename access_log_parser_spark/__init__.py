"""PySpark-native rebuild of nekrassov01/access-log-parser as a
parse -> enrich -> route -> aggregate pipeline (SURVEY.md, BASELINE.json).

Not a port: the reference's single-threaded line loop becomes a declarative
DataFrame plan with one Arrow-vectorized decode/serialize stage; routing,
enrichment, aggregation, skew handling and resume are Catalyst-native.
"""

from . import worker_imports  # noqa: F401  (patches zipimport in Python workers)
from .decoders import EXCLUDED, MATCHED, SKIPPED, UNMATCHED
from .engine import (
    extract_fields,
    extract_ltsv,
    fast_parse_routed,
    parse_documents,
    parse_routed,
)
from .filters import FilterError, filters_to_column
from .grok import compile_grok, grok_parser, grok_to_regex
from .handlers import HANDLERS
from .metrics import Result, collect_result, counters_by_sink, counters_by_source
from .options import Option
from .parser import (
    LTSVParser,
    RegexParser,
    new_alb_parser,
    new_apache_clf_parser,
    new_apache_clf_vhost_parser,
    new_cf_parser,
    new_clb_parser,
    new_nlb_parser,
    new_ltsv_parser,
    new_s3_parser,
)
from .patterns import PRESETS, PatternError, validate_pattern
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "EXCLUDED",
    "MATCHED",
    "SKIPPED",
    "UNMATCHED",
    "extract_fields",
    "extract_ltsv",
    "fast_parse_routed",
    "parse_documents",
    "parse_routed",
    "FilterError",
    "filters_to_column",
    "compile_grok",
    "grok_parser",
    "grok_to_regex",
    "HANDLERS",
    "Result",
    "collect_result",
    "counters_by_sink",
    "counters_by_source",
    "Option",
    "LTSVParser",
    "RegexParser",
    "new_alb_parser",
    "new_apache_clf_parser",
    "new_apache_clf_vhost_parser",
    "new_cf_parser",
    "new_clb_parser",
    "new_nlb_parser",
    "new_ltsv_parser",
    "new_s3_parser",
    "PRESETS",
    "PatternError",
    "validate_pattern",
    "get_spark",
]
