"""Decode / filter stage — the Spark analogue of the reference's record parse
(P3-P9) and append-time filters (P10-P12), SURVEY.md §2.2.

The change log is already typed parquet (the redo-log analogue per
BASELINE.json input_hint), so "decode" here is declarative projection —
Catalyst pushes the filters into the scan (reference applies table/xid filters
at transaction-append time before buffering, /root/reference/src/parser/
Parser.cpp:650-692; here the same pruning is free via predicate pushdown).

Evolved columns ride in the ``extras`` map under the column's *then-current*
name (the reference's dictionary is versioned the same way — a column's
identity is its internal id, its name is per-schema-version;
src/metadata/Schema.cpp:727-930). ``project_dml`` resolves
``extras[name_at(row_schema_ver)]`` → the current column name by field id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lake.table import LakeTable

# events-log column → target-table field name for the base (v1) columns
BASE_COLUMN_MAP = {
    "url": "url",
    "warc_ts": "warc_ts",
    "seq": "_seq",
    "op": "_op",
    "html": "html",
    "text": "text",
    "lang": "lang",
}

EVENTS_DDL = (
    "seq long, warc_ts timestamp, op string, url string, html binary, "
    "text string, lang string, before map<string,binary>, "
    "extras map<string,string>, schema_ver int, rolled_back boolean, "
    "action string, col_name string, new_name string, new_type string"
)


def schemaless_projection(df: DataFrame) -> DataFrame:
    """Schemaless mode (reference REDO_FLAGS_SCHEMALESS, Ctx.h:74;
    user-manual.adoc:829-850): when no dictionary is registered for a table,
    values are emitted as an opaque column->bytes map instead of typed
    columns. Keys keep their log names; extras merge in under their
    per-version names. LWW compaction works unchanged on the map payload."""
    payload = F.map_filter(
        F.map_concat(
            F.create_map(
                F.lit("html"), F.col("html"),
                F.lit("text"), F.col("text").cast("binary"),
                F.lit("lang"), F.col("lang").cast("binary"),
            ),
            F.transform_values(
                F.coalesce(
                    F.col("extras"),
                    F.from_json(F.lit("{}"), "map<string,string>"),
                ),
                lambda _k, v: v.cast("binary"),
            ),
        ),
        lambda _k, v: v.isNotNull(),
    )
    return df.select(
        F.col("url"),
        F.col("warc_ts"),
        F.col("seq").alias("_seq"),
        F.col("op").alias("_op"),
        payload.alias("payload"),
    )


def apply_log_filters(
    df: DataFrame,
    url_rlike: str | None = None,
    skip_urls: list[str] | None = None,
    min_schema_ver: int | None = None,
) -> DataFrame:
    """Append-time filters (P10-P12): table-regex tracking (reference
    Schema.cpp:2092-2116), skip-lists (OpenLogReplicator.cpp:709-725), and
    container filtering (Parser.cpp:816-818 — schema_ver stands in for
    conId). DDL control rows always pass. Catalyst pushes the url predicates
    into the parquet scan."""
    keep = F.col("op") == "ddl"
    data = F.lit(True)
    if url_rlike is not None:
        data = data & F.col("url").rlike(url_rlike)
    if skip_urls:
        data = data & ~F.col("url").isin(list(skip_urls))
    if min_schema_ver is not None:
        data = data & (F.col("schema_ver") >= min_schema_ver)
    return df.filter(keep | data)


def dml_events(df: DataFrame) -> DataFrame:
    """Committed DML only: drop ddl control rows and rolled-back events
    (partial rollback exclusion — reference Transaction.cpp:71-187)."""
    return df.filter((F.col("op") != "ddl") & (~F.col("rolled_back")))


def ddl_events(df: DataFrame) -> DataFrame:
    """Schema-evolution control rows, in log order (SURVEY.md §2.9).

    The structured (action, ...) fields only, so the collect stays on the
    narrow pruned scan; a ddl row carrying a raw SQL statement in ``text``
    instead (reference OpCode1801 / Builder raw-DDL emission) is fetched by
    the pipeline's own action-IS-NULL-filtered pass."""
    return df.filter(F.col("op") == "ddl").select(
        "schema_ver", "action", "col_name", "new_name", "new_type",
        "warc_ts", "seq",
    )


_DDL_PATTERNS = [
    # ALTER TABLE t ADD [COLUMN] c TYPE
    (r"(?i)^\s*ALTER\s+TABLE\s+\S+\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+(\w+(?:\(\d+(?:,\s*\d+)?\))?)\s*;?\s*$",
     lambda m: ("add_column", m.group(1), None, m.group(2))),
    # ALTER TABLE t RENAME COLUMN a TO b
    (r"(?i)^\s*ALTER\s+TABLE\s+\S+\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$",
     lambda m: ("rename_column", m.group(1), m.group(2), None)),
    # ALTER TABLE t MODIFY [(]c TYPE[)]  (Oracle)  /  ALTER COLUMN c TYPE t
    (r"(?i)^\s*ALTER\s+TABLE\s+\S+\s+MODIFY\s+\(?\s*(\w+)\s+(\w+(?:\(\d+(?:,\s*\d+)?\))?)\s*\)?\s*;?\s*$",
     lambda m: ("widen_type", m.group(1), None, m.group(2))),
    (r"(?i)^\s*ALTER\s+TABLE\s+\S+\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+(\w+(?:\(\d+(?:,\s*\d+)?\))?)\s*;?\s*$",
     lambda m: ("widen_type", m.group(1), None, m.group(2))),
    # ALTER TABLE t DROP [COLUMN] c
    (r"(?i)^\s*ALTER\s+TABLE\s+\S+\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*;?\s*$",
     lambda m: ("drop_column", m.group(1), None, None)),
]


def parse_ddl_sql(sql: str) -> tuple[str, str, str | None, str | None]:
    """Parse a raw DDL statement into the structured (action, col_name,
    new_name, new_type) form the dictionary replay consumes — the analogue of
    the reference's system-transaction decode of the DDL text it extracts
    (OpCode1801.cpp; Builder.cpp processDdl). Supported: ADD [COLUMN],
    RENAME COLUMN .. TO, MODIFY (col type) / ALTER COLUMN .. TYPE, and
    DROP [COLUMN] (the four evolutions LakeTable supports). Raises
    ValueError on anything else (unsupported DDL is surfaced, never
    silently dropped)."""
    import re

    for pat, build in _DDL_PATTERNS:
        m = re.match(pat, sql)
        if m:
            return build(m)
    raise ValueError(f"unsupported DDL statement: {sql!r}")


def project_dml(dml: DataFrame, table: LakeTable) -> DataFrame:
    """Project DML (possibly spanning several log schema versions) onto the
    table's CURRENT schema in ONE pass.

    Evolved columns are resolved per row: a CASE over the row's ``schema_ver``
    picks the name the column had at that version (``extras[name_at_ver]``)
    and casts to the current (possibly widened) type. This is the columnar
    form of the reference's versioned-dictionary lookup — a column's identity
    is its field id, its name is per-schema-version (Schema.cpp:727-930) —
    and lets an epoch merge once instead of once per version.
    """
    base_ids = {f["id"] for f in table.schema_at(1)} if "1" in table.snap["schemas"] else set()
    vers = sorted(int(v) for v in table.snap["schemas"])
    # Base columns resolve by FIELD ID, not current name: v1 field ids 1..N
    # map positionally onto the log columns (BASE_COLUMN_MAP order), so a
    # rename_column on a base payload column (e.g. lang -> language) still
    # finds its log source. This is the same id-is-identity rule the evolved
    # columns follow (reference Schema.cpp:727-930).
    log_src_by_id = {i + 1: src for i, src in enumerate(BASE_COLUMN_MAP)}

    cols: list[Column] = []
    for f in table.current_schema():
        fid, cur_name, typ = f["id"], f["name"], f["type"]
        if fid in base_ids:
            cols.append(F.col(log_src_by_id[fid]).cast(typ).alias(cur_name))
            continue
        # evolved column: name under each log schema version it existed in
        name_by_ver = {
            v: nm
            for v in vers
            for nm in [
                next((g["name"] for g in table.schema_at(v) if g["id"] == fid), None)
            ]
            if nm is not None
        }
        expr = F.lit(None).cast(typ)
        for v, nm in sorted(name_by_ver.items()):
            expr = F.when(
                F.col("schema_ver") == v, F.element_at(F.col("extras"), nm).cast(typ)
            ).otherwise(expr)
        cols.append(expr.alias(cur_name))
    return dml.select(*cols)
