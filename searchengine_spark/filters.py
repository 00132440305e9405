"""Filter-request compilation (SURVEY §2.3 F1-FA): one walker, two renderings.

Re-expresses the reference's Bleve query compilation
(``internal/filter/filter.go:43-133``) as a single predicate over the
doc metadata columns:

- category equality (lowercased term, MUST)            — filter.go:54-59
- range filters: number / timestamp, OR-ed with each
  other, the OR-block AND-ed in                        — filter.go:62-84
- multi-select: OR within a field, AND across fields   — filter.go:86-104
- one-select: equality per field, AND across           — filter.go:106-117
- bool-select: boolean equality, AND across            — filter.go:119-130
- nil/empty request → no predicate                     — filter.go:43-50

:func:`compile_filters` walks the request once, building the predicate
from three constructors ``(col, lit, lower)``. The default ``F.col`` /
``F.lit`` / ``F.lower`` give a Catalyst ``Column``, so filters reach the
parquet/Iceberg scan as pushed-down conjuncts; :data:`ARROW`
(``pc.field`` / ``pc.scalar`` / ``pc.utf8_lower``) gives a
``pyarrow.compute`` Expression, which the serving engine evaluates on
its pinned doc values with no Spark job. Both renderings use only
``==``, ``>=``, ``<=``, ``&``, ``|`` and ``isin`` (a range is
``(c >= lo) & (c <= hi)``, Catalyst's own definition of ``between``),
and both treat a NULL comparison as not matching.

String matching is case-insensitive on the value side exactly like the
reference (it lowercases the query value and matches against analyzed,
i.e. lowercased, indexed terms — filter.go:56,92,110). For columns the
engine knows hold lowercase categorical values (role/tool in the
transcripts fixture) we emit a plain equality so Catalyst can push it
to the scan; otherwise ``lower(col) = value``.
"""

from __future__ import annotations

from datetime import datetime, timezone
from functools import reduce
from operator import and_, or_

import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

# Filter request shape (JSON keys as in the reference DTO,
# internal/common/request/model.go:16-22):
# {"category": str,
#  "range": [{"name","type","from_value","to_value"}],
#  "multi-select": [{"name","value": [..]}],
#  "one-select": [{"name","value": str}],
#  "bool-select": [{"name","value": bool}]}

RFC3339 = "%Y-%m-%dT%H:%M:%S%z"

# the pyarrow.compute rendering: ``compile_filters(req, **ARROW)``
ARROW = {"col": pc.field, "lit": pc.scalar, "lower": pc.utf8_lower}


class FilterError(ValueError):
    pass


def _parse_rfc3339(s: str) -> datetime:
    try:
        dt = datetime.strptime(s.replace("Z", "+00:00"), RFC3339)
    except ValueError as e:  # reference errors out the same way (filter.go:137-144)
        raise FilterError(f"invalid date: {s}") from e
    return dt.astimezone(timezone.utc).replace(tzinfo=None)  # session TZ is UTC


def compile_filters(
    req: dict | None,
    *,
    category_field: str = "role",
    lowercase_cols: frozenset[str] = frozenset({"role", "tool"}),
    col=F.col,
    lit=F.lit,
    lower=F.lower,
) -> "Column | pc.Expression | None":
    """FilterRequest dict → one AND-combined predicate, or None. The
    predicate is built from ``col`` / ``lit`` / ``lower``: a Spark
    ``Column`` by default, a ``pyarrow.compute`` Expression with
    ``**ARROW``."""
    if not req:
        return None
    rng = req.get("range") or []
    ms = req.get("multi-select") or []
    os_ = req.get("one-select") or []
    bs = req.get("bool-select") or []
    cat = req.get("category") or ""
    if not (rng or ms or os_ or bs or cat):
        return None

    def field(name: str):
        # lowercase columns compare as stored: pushdown-friendly
        return col(name) if name in lowercase_cols else lower(col(name))

    def between(name: str, lo, hi):
        c = col(name)
        return (c >= lit(lo)) & (c <= lit(hi))

    musts = []

    if cat:
        musts.append(field(category_field) == lit(cat.lower()))

    if rng:
        shoulds = []
        for r in rng:
            name, typ = r["name"], r.get("type")
            if typ == "timestamp":
                lo = _parse_rfc3339(r["from_value"])
                hi = _parse_rfc3339(r["to_value"])
                shoulds.append(between(name, lo, hi))
            elif typ == "number":
                try:
                    lo_f, hi_f = float(r["from_value"]), float(r["to_value"])
                except ValueError as e:
                    raise FilterError(f"invalid numeric bound in {r}") from e
                shoulds.append(between(name, lo_f, hi_f))
            else:
                raise FilterError(f"unsupported range type: {typ}")
        musts.append(reduce(or_, shoulds))

    if ms:
        musts.append(
            reduce(and_, [field(m["name"]).isin([v.lower() for v in m["value"]]) for m in ms])
        )

    if os_:
        musts.append(reduce(and_, [field(o["name"]) == lit(o["value"].lower()) for o in os_]))

    if bs:
        musts.append(reduce(and_, [col(b["name"]) == lit(bool(b["value"])) for b in bs]))

    return reduce(and_, musts)
