"""MongoDB-ish filter AST -> Spark Column or pyarrow expression (reference
§2.5, F1-F7).

The reference's filter language (from its absent ``query_lang`` crate, AST
consumed in reference ``src/search/facet/filter.rs:188-515`` and
``condition.rs:1-31``) supports
``$eq/$ne/$gt/$gte/$lt/$lte/$between/$exists/$isEmpty/$in/$and/$or/$not``
over field paths. One AST compiles two ways, with one meaning:

* ``to_column`` -> Catalyst expression. The cluster route filters doc_stats
  with it and cogroups the allowed docids with the postings, so predicate
  pushdown / partition pruning / constant folding are free — the
  hand-built facet level B-tree (reference ``facet_range_search.rs``) is
  replaced by parquet column stats.
* ``to_arrow`` -> ``pyarrow.dataset`` expression. The driver point-read
  route scans doc_stats with it in-process (no Spark job) and hands the
  surviving live docids to the same scorer. ``SearchIndex`` sends a
  filtered query there when ``sum(df) + n_docs`` fits
  ``driver_exec_max_postings`` (the doc_stats scan is O(n_docs), so it is
  charged against the postings budget).

Semantics notes:
* ``$ne`` matches documents where the field is NULL as well — the reference's
  ``!=`` includes documents missing the field (``filter.rs:270-311``); we
  replicate via NULL-safe comparison.
* string comparisons are normalized: the literal is NFKD-decomposed,
  stripped of combining marks and lowercased (``analysis.normalize``); the
  column is lowercased. This matches the reference's normalized string
  facets (``src/lib.rs:361-363``).
* ``$not`` is ``all docs - matching`` (``filter.rs:487-513``): a NULL inner
  predicate counts as not matching, so ``$not`` is ``~coalesce(inner,
  false)``. It is the only negation besides ``$ne``, so a NULL and a false
  predicate select the same documents everywhere in an AST.
* the reference fork has copy-paste bugs mapping ``$gte``/``$lte`` to
  GreaterThan (``condition.rs:22,24``, SURVEY.md F8). We implement the
  CORRECT semantics and do not replicate the bug (documented divergence).

Where ``to_arrow`` could select other documents than ``to_column`` it
raises ``ArrowUnsupported`` instead, and the query takes the cluster route:
* a normalized string literal outside ASCII compared with a lowercased
  column. Spark's ``lower`` and pyarrow's ``utf8_lower`` use different
  Unicode case tables: Spark applies the final-sigma rule (``ΟΔΟΣ`` ->
  ``οδος``, pyarrow gives ``οδοσ``) and knows the case pairs added in
  Unicode 16 (U+A7CB -> U+0264, pyarrow keeps U+A7CB). Every such
  difference puts a non-ASCII character on both sides, which no ASCII
  literal equals and which sorts after every ASCII byte on both sides, so an
  ASCII literal gets the same answer from both. The one mapping where
  Spark's output is partly ASCII (U+0130 -> ``i`` + U+0307, pyarrow gives
  ``i``) is reproduced before ``utf8_lower``;
* a literal whose type differs from the column's (string vs number, number
  vs timestamp, ...): Spark coerces with its own cast rules;
* NaN, None or non-scalar literals, and integers outside int64.
Floating-point NaN in a column sorts above every number in Spark, so
``$gt``/``$gte`` also match it (pyarrow's IEEE comparison alone would not).
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from search_engine_spark.analysis import normalize


class ArrowUnsupported(ValueError):
    """``to_arrow`` cannot match Spark's result for this filter exactly."""


def _norm_value(v):
    return normalize(v) if isinstance(v, str) else v


def _field_col(name: str, norm: bool) -> Column:
    c = F.col(name)
    return F.lower(c) if norm else c  # full NFKD happens via _norm_value for literals;
    # Spark-side lower() suffices for ascii attrs; callers needing full accent
    # folding should store normalized attribute columns.


def _operands(op: str, value) -> tuple[list, bool]:
    """-> (literals the condition compares against, whether the column is
    lowercased). Element-wise ops normalize like the $eq they expand to
    (reference F4: IN = union of normalized equals, filter.rs:373-392)."""
    if op in ("$in", "$between"):
        return list(value), any(isinstance(x, str) for x in value)
    if op in ("$exists", "$isEmpty"):
        return [], False
    return [value], isinstance(value, str)


def _condition(field: str, op: str, value, norm_strings: bool) -> Column:
    _, norm = _operands(op, value)
    norm = norm and norm_strings
    c = _field_col(field, norm)
    v = _norm_value(value) if norm_strings else value
    if op == "$eq":
        return c == F.lit(v)
    if op == "$ne":
        # reference semantics: != includes missing/null fields
        return ~c.eqNullSafe(F.lit(v))
    if op == "$gt":
        return c > F.lit(v)
    if op == "$gte":
        return c >= F.lit(v)
    if op == "$lt":
        return c < F.lit(v)
    if op == "$lte":
        return c <= F.lit(v)
    if op == "$between":
        lo, hi = value
        return c.between(F.lit(_norm_value(lo) if norm_strings else lo),
                         F.lit(_norm_value(hi) if norm_strings else hi))
    if op == "$in":
        vals = [_norm_value(x) if norm else x for x in value]
        return c.isin(vals)
    if op == "$exists":
        return c.isNotNull() if value else c.isNull()
    if op == "$isEmpty":
        empty = F.length(F.trim(F.col(field).cast("string"))) == 0
        return empty if value else ~empty
    raise ValueError(f"unsupported filter operator: {op}")


def require_fields(ast, columns) -> None:
    """Raise ``ValueError`` naming the first field of ``ast`` that is not
    one of ``columns`` (the doc_stats columns a filter can test)."""
    have = set(columns)

    def leaf(field, _op, _value):
        if field not in have:
            raise ValueError(
                f"filter field {field!r} is not a doc_stats column; "
                f"filterable fields: {sorted(have)}"
            )
        return True  # plain bools fold through & and |

    _compile(ast, leaf, lambda x: x)


def to_column(ast, norm_strings: bool = True) -> Column:
    """Compile a filter AST dict into a Spark Column.

    AST shapes::

        {"lang": "en"}                          # implicit $eq
        {"lang": {"$in": ["en", "de"]}}
        {"$and": [ ... ]} / {"$or": [ ... ]} / {"$not": { ... }}
        {"n_chars": {"$between": [10, 100]}}
    """
    return _compile(ast,
                    lambda f, op, v: _condition(f, op, v, norm_strings),
                    lambda x: ~F.coalesce(x, F.lit(False)))


def to_arrow(ast, schema: pa.Schema | None = None) -> pc.Expression:
    """Compile a filter AST dict into a ``pyarrow.dataset`` expression that
    selects the same rows as ``to_column`` (module docstring).

    With ``schema`` (the scanned table's), a field outside it raises
    ``ValueError`` and a literal whose type the column does not share
    raises ``ArrowUnsupported``; so do non-ASCII string literals, NaN /
    None literals and out-of-range integers, with or without it."""
    if schema is not None:
        require_fields(ast, schema.names)

    return _compile(ast,
                    lambda f, op, v: _arrow_condition(f, op, v, schema),
                    lambda x: ~pc.coalesce(x, pa.scalar(False)))


def _compile(ast, condition, negate):
    """Fold an AST with ``condition`` for the leaves and ``negate`` for
    ``$not``; ``&``/``|`` are the same for Spark Columns and pyarrow
    expressions."""
    if not isinstance(ast, dict) or not ast:
        raise ValueError(f"filter AST must be a non-empty dict, got {ast!r}")

    def sub(x):
        return _compile(x, condition, negate)

    parts = []
    for key, val in ast.items():
        if key in ("$and", "$or"):
            if not val:
                raise ValueError("$and/$or need at least one operand")
            items = [sub(x) for x in val]
            out = items[0]
            for x in items[1:]:
                out = (out & x) if key == "$and" else (out | x)
            parts.append(out)
        elif key == "$not":
            # reference NOT = all_docs − matching (filter.rs:487-513):
            # docs where the inner predicate is NULL (missing field) are
            # NOT matching, so they survive the negation
            parts.append(negate(sub(val)))
        elif isinstance(val, dict):
            for op, v in val.items():
                parts.append(condition(key, op, v))
        else:
            parts.append(condition(key, "$eq", val))
    out = parts[0]
    for x in parts[1:]:
        out = out & x
    return out


# -- pyarrow leaves ---------------------------------------------------------
def _kind(v) -> str:
    """Literal type family; ArrowUnsupported for literals Spark and pyarrow
    would not compare alike."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        if not -(1 << 63) <= v < (1 << 63):
            raise ArrowUnsupported(f"integer literal {v} is outside int64")
        return "number"
    if isinstance(v, float):
        if math.isnan(v):
            raise ArrowUnsupported("NaN literal")
        return "number"
    if isinstance(v, str):
        return "string"
    raise ArrowUnsupported(f"literal {v!r} is not a bool, number or string")


def _column_kind(t: pa.DataType) -> str | None:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return "number"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    return None


def _arrow_condition(field: str, op: str, value,
                     schema: pa.Schema | None) -> pc.Expression:
    if op not in ("$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$between",
                  "$in", "$exists", "$isEmpty"):
        raise ValueError(f"unsupported filter operator: {op}")
    raw = pc.field(field)
    col_type = schema.field(field).type if schema is not None else None
    col_kind = _column_kind(col_type) if col_type is not None else None
    if op == "$exists":
        return raw.is_valid() if value else raw.is_null()
    if op == "$isEmpty":
        if col_type is not None and col_kind is None:
            raise ArrowUnsupported(f"$isEmpty on {field!r} of type {col_type}")
        empty = pc.equal(
            pc.binary_length(pc.utf8_trim(raw.cast(pa.string()), " ")), 0)
        return empty if value else ~empty

    lits, norm = _operands(op, value)
    kinds = {_kind(x) for x in lits}
    if len(kinds) > 1:
        raise ArrowUnsupported(f"{op} on {field!r} mixes literal types")
    kind = kinds.pop() if kinds else None
    if col_type is not None and kind is not None and kind != col_kind:
        raise ArrowUnsupported(
            f"{kind} literal against {field!r} of type {col_type}")
    lits = [_norm_value(x) for x in lits]
    if norm:
        for x in lits:
            if isinstance(x, str) and not x.isascii():
                raise ArrowUnsupported(
                    f"non-ASCII string literal {x!r}: Spark's lower() and "
                    "pyarrow's utf8_lower() differ outside ASCII")
        c = pc.utf8_lower(pc.replace_substring(raw, "\u0130", "i\u0307"))
    else:
        c = raw
    if op == "$in":
        if not lits:
            return pc.scalar(False)
        if kind == "number":
            # Spark widens both sides to one type (long or double)
            floating = any(isinstance(x, float) for x in lits) or (
                col_type is not None and pa.types.is_floating(col_type))
            wide = pa.float64() if floating else pa.int64()
            return c.cast(wide).isin(pa.array(lits, wide))
        return c.isin(lits)
    if op == "$between":
        lo, hi = lits
        return (c >= lo) & (c <= hi)
    v = lits[0]
    if op == "$eq":
        return c == v
    if op == "$ne":
        return ~pc.coalesce(c == v, pa.scalar(False))
    if op in ("$lt", "$lte"):
        return (c < v) if op == "$lt" else (c <= v)
    out = (c > v) if op == "$gt" else (c >= v)
    # Spark orders NaN above every number
    return out | pc.is_nan(c) if kind == "number" else out
