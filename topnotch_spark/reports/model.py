"""Assertion report serialization.

JSON shape matches the reference serializer
(tnassertion/TnAssertionReport.scala:60-91): per rule —
``query/description/threshold/fractionInvalid/numInvalid/sampleInvalid/
userSummaryStatistics/sampleWindows``. Sample (and window) rows are
restricted to: window partition+order columns ++ columns referenced in the
query ++ user-defined feature names — intersected with the actual sample
columns case-insensitively, lowercased, sorted (:114-152). An unparsable
query yields ZERO columns (:122-124, 144-146).

Column harvesting: the reference walks Hive's ANTLR AST collecting
``TOK_TABLE_OR_COL`` (both table and column identifiers — false positives
are removed by the intersection). We get the same effect without Hive jars
by collecting candidate identifiers from the predicate text and validating
the query with Spark's own expression parser; parse failure ⇒ empty list.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from pyspark.sql import Row

from topnotch_spark.operators.assertions import AssertionReport

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# backquoted identifiers (`weird col`) are single tokens to Hive's parser
# (reference harvests them whole via TOK_TABLE_OR_COL); extract them before
# the plain-identifier scan would split them on whitespace
_BACKQUOTE_RE = re.compile(r"`([^`]*)`")
# words that can appear in predicates but are never column refs we care
# about; harmless if over-broad because of the sample-column intersection
_SQL_KEYWORDS = {
    "and", "or", "not", "is", "null", "true", "false", "like", "rlike",
    "in", "between", "case", "when", "then", "else", "end", "cast", "as",
    "distinct", "interval", "date", "timestamp", "exists", "all", "any",
    "div", "escape",
}


def _strip_string_literals(query: str) -> str:
    return re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", " ", query)


def query_is_parsable(query: str, spark=None) -> bool:
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    try:
        from pyspark.sql import functions as F

        F.expr(query)
        return True
    except Exception:
        return False


def harvest_identifiers(query: str) -> list[str]:
    """Candidate table/column identifiers in a predicate string.

    Deliberately over-broad (dotted paths like ``struct1.int`` contribute
    both parts; false positives are removed by the sample-column
    intersection in :func:`report_columns`) — the same net behavior as the
    reference's Hive-AST walk (TnAssertionReport.scala:114-152), which also
    collects table tokens that never match a column. Backquoted
    identifiers are kept whole, as Hive treats them."""
    text = _strip_string_literals(query)
    backquoted = _BACKQUOTE_RE.findall(text)
    text = _BACKQUOTE_RE.sub(" ", text)
    # drop function names: identifiers immediately followed by '('
    text = re.sub(r"([A-Za-z_][A-Za-z0-9_]*)\s*\(", " (", text)
    return backquoted + [
        tok
        for tok in _IDENT_RE.findall(text)
        if tok.lower() not in _SQL_KEYWORDS
    ]


def report_columns(report: AssertionReport, sample_columns: list[str], spark=None) -> list[str]:
    """Columns to show in sampleInvalid/sampleWindows
    (reference: TnAssertionReport.scala:114-152)."""
    if not query_is_parsable(report.query, spark):
        return []
    wanted: list[str] = []
    if report.sample_window_report is not None:
        p = report.sample_window_report.params
        wanted += list(p.ids_for_window_partitioning) + list(p.order_each_window_by)
    wanted += harvest_identifiers(report.query)
    wanted += list(report.user_defined_features)
    lower_wanted = {w.lower() for w in wanted}
    return sorted({c.lower() for c in sample_columns} & lower_wanted)


def _json_value(v: Any) -> Any:
    if isinstance(v, Row):
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, _dt.timedelta):
        return v.total_seconds()
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def _rows_to_json(rows: list[Row], columns: list[str]) -> list[dict]:
    out = []
    for r in rows:
        d = {k.lower(): _json_value(v) for k, v in r.asDict().items()}
        # drop nulls like toJSON does; restrict to the report columns
        out.append({c: d[c] for c in columns if c in d and d[c] is not None})
    return out


def assertion_report_to_json(report: AssertionReport, spark=None) -> dict:
    sample_cols = (
        list(report.sample_invalid[0].asDict().keys()) if report.sample_invalid else []
    )
    if not sample_cols and report.sample_window_report and any(
        report.sample_window_report.windows
    ):
        for w in report.sample_window_report.windows:
            if w:
                sample_cols = list(w[0].asDict().keys())
                break
    columns = report_columns(report, sample_cols, spark)
    windows_json = []
    if report.sample_window_report is not None:
        windows_json = [
            _rows_to_json(w, columns) for w in report.sample_window_report.windows
        ]
    return {
        "query": report.query,
        "description": report.description,
        "threshold": report.threshold,
        "fractionInvalid": report.fraction_invalid,
        "numInvalid": report.num_invalid,
        "sampleInvalid": _rows_to_json(report.sample_invalid, columns),
        "userSummaryStatistics": {
            k: _json_value(v)
            for k, v in (report.user_summary_statistics or {}).items()
            if v is not None
        },
        "sampleWindows": windows_json,
    }


def assertion_group_to_json(
    output_key: str, reports: list[AssertionReport], spark=None
) -> dict:
    return {
        "outputKey": output_key,
        "assertionReports": [assertion_report_to_json(r, spark) for r in reports],
    }
