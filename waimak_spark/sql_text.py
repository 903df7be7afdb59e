"""Spark-SQL text for the values the engine splices into a fragment.

A parsed fragment costs one py4j round trip where a PySpark Column tree
costs several per call (origin tracking), so the storage and data-quality
packages build their predicates, windows and metrics as SQL strings.
This module is the one place that renders what goes into them:

* ``_sql_string`` — a string literal that parses back to the same text;
* ``_sql_name`` — a column reference that resolves as ``F.col(name)``
  does: a dot outside backticks selects a struct field and each part is
  backtick-quoted; a name ``F.col`` rejects is one quoted identifier;
* ``_sql_literal`` — the literal ``F.lit(v)`` builds, for the values it
  can render; ``_lit`` asks the active session the one question that
  needs (whether a naive datetime is a TIMESTAMP_NTZ) and refuses the
  rest.
"""

from __future__ import annotations

import calendar
import re
import time
from datetime import date, datetime, timedelta
from typing import Any, Optional

from pyspark import SparkContext

from .filesystem import _jvm_refs

_EPOCH = datetime(1970, 1, 1)
#: years whose datetimes and dates render as SQL literals: Spark rebases a
#: ``java.sql`` timestamp before 1900-01-01 UTC (its last calendar switch
#: in any time zone), and the renderer writes four-digit years
_LITERAL_YEARS = range(1901, 9999)


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: one part of a name ``F.col`` parses: backtick-quoted (a doubled
#: backtick escapes one) or a plain run without dots or backticks
_PART = r"`(?:[^`]|``)*`|[^`.]+"
_NAME = re.compile(rf"(?:{_PART})(?:\.(?:{_PART}))*")


def _sql_name(name: str) -> str:
    """``name`` as the SQL column reference ``F.col(name)`` resolves (the
    split of Spark's ``UnresolvedAttribute.parseAttributeName``)."""
    if not _NAME.fullmatch(name):
        return "`" + name.replace("`", "``") + "`"
    return ".".join(p if p.startswith("`") else f"`{p}`"
                    for p in re.findall(_PART, name))


def _sql_literal(v: Any, ntz_preferred: bool) -> Optional[str]:
    """The Spark-SQL literal equal to ``F.lit(v)``, or None for a value it
    does not render.  Datetimes convert as PySpark's py4j converters do: a
    naive one is a TIMESTAMP_NTZ wall clock when ``ntz_preferred`` (the
    session's ``spark.sql.timestampType``), else an instant in the
    driver's local time (``time.mktime``); an aware one is an instant
    (``calendar.timegm``).  A date is the day ``java.sql.Date.valueOf``
    names, and an int within a long is the same INT or BIGINT literal."""
    if isinstance(v, date) and v.year not in _LITERAL_YEARS:
        return None
    if isinstance(v, datetime):
        if v.tzinfo is None and ntz_preferred:
            kind, zone = "TIMESTAMP_NTZ", ""
            seconds = calendar.timegm(v.utctimetuple())
        else:
            kind, zone = "TIMESTAMP_LTZ", "Z"
            seconds = (calendar.timegm(v.utctimetuple()) if v.tzinfo
                       else time.mktime(v.timetuple()))
        at = _EPOCH + timedelta(seconds=int(seconds),
                                microseconds=v.microsecond)
        return f"{kind} '{at:%Y-%m-%d %H:%M:%S.%f}{zone}'"
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    if type(v) is int and -2 ** 63 <= v < 2 ** 63:
        return str(v)
    return None


def _lit(v: Any) -> str:
    """The SQL literal ``F.lit(v)`` builds in the active session; a
    ``ValueError`` for a value :func:`_sql_literal` does not render."""
    naive = isinstance(v, datetime) and v.tzinfo is None
    literal = _sql_literal(
        v, naive and _jvm_refs(SparkContext._jvm).ntz_preferred())
    if literal is None:
        raise ValueError(f"{v!r} has no Spark-SQL literal form: use a "
                         f"datetime or date with a year in 1901-9998")
    return literal
