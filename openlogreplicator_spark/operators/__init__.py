"""Pipeline operators (SURVEY.md §2): decode/filter (P3-P12), last-writer-wins
compaction (A3/W2), and merge-apply (J5). All DataFrame-native — Catalyst does
predicate pushdown, partial aggregation, and AQE skew handling for free.
"""

from .decode import dml_events, ddl_events, parse_ddl_sql, project_dml  # noqa: F401
from .lww import (lww_compact, lww_compact_auto, lww_compact_salted,  # noqa: F401
    lww_compact_semijoin, choose_lww_strategy)  # noqa: F401
from .merge import (analyze, compact_table, import_files, lookup_keys,  # noqa: F401
    maintain, merge_append, merge_into, read_state, snapshot_diff,  # noqa: F401
    table_stats)  # noqa: F401
