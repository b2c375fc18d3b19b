"""Reusable column-expression library (the engine's `F`-level surface).

Everything here is a pure JVM-side expression (whole-stage codegen, no
Python) shared by the operators, the driver queries, and user code. The
span-sequence expressions implement the north_star invariant — equality on
``(kind, text, media_ref, order)`` — as columns, so fixture verification
is a join + comparison, not a collect.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column
from pyspark.sql import functions as F

# re-exported primitives (single definition point elsewhere)
from tika_wrap_spark.operators.dedup import (  # noqa: F401
    NORM_EXPR,
    NORM_TEMPLATE,
    norm_col,
)
from tika_wrap_spark.operators.similarity import (  # noqa: F401
    cosine_q,
    int_dot,
    quantize,
)

# unit separators for canonical span serialization (never appear in text
# emitted by the extractor, which strips control chars via normalization)
_FIELD_SEP = "\x1e"
_SPAN_SEP = "\x1f"


def norm_text(col: Column | str) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text — THE normalization
    every dedup/quality operator keys on. Built from the same
    ``NORM_TEMPLATE`` as the SQL-string form (one definition point)."""
    if isinstance(col, str):
        return F.expr(NORM_TEMPLATE.format(col=col))
    return norm_col(col)


_SNIFF_OPS = {
    "starts": lambda c, prefixes: _any(c.startswith(p) for p in prefixes),
    "at": lambda c, off, lit: F.substring(c, off + 1, len(lit)) == lit,
    "char_in": lambda c, off, chars: F.substring(c, off + 1, 1).isin(*sorted(chars)),
    "hex": lambda c, off, n: F.substring(c, off + 1, n).rlike("^[0-9a-fA-F]{%d}$" % n),
    "ends": lambda c, suffix, n: (F.length(c) >= n) & c.endswith(suffix),
    "has": lambda c, needles: _any(c.contains(s) for s in needles),
    # n commas split a line into n + 1 fields (trailing empties kept)
    "commas": lambda c, n: F.size(F.split(c, ",")) > n,
}


def _any(cols) -> Column:
    return functools.reduce(operator.or_, cols)


def sniff_kind_col(text: Column, media_ref: Column) -> Column:
    """JVM-native (whole-stage-codegen) form of ``core.sniff.sniff_kind``:
    the same ``RULES`` rows folded into one ``when`` chain, so the two
    engines cannot drift (``tests/test_plans.py`` pins their equality).

    Use this for standalone route tallies / relational routing; the Python
    sniffer runs only inside the fused extraction pass, where the Arrow
    crossing is already paid."""
    from tika_wrap_spark.core import sniff as sn  # noqa: PLC0415

    head = F.substring(text, 1, sn.HEAD_WINDOW)
    views = {
        "text": text,
        "head": head,
        # (?U): Java \s matches only ASCII whitespace by default, but
        # Python's str.lstrip() strips unicode whitespace (NBSP etc.) and,
        # via str.isspace(), the separators \x1c-\x1f, which Unicode
        # White_Space (Java (?U)\s) is NOT — hence the explicit class
        "low": F.lower(F.regexp_replace(head, r"(?U)^[\s\x1c-\x1f]+", "")),
        "line": F.substring_index(head, "\n", 1),
    }

    def test(pred: tuple) -> Column:
        op, view, *args = pred
        if op == "any":
            return _any(map(test, args[0]))
        return _SNIFF_OPS[op](views[view], *args)

    chain = F.when(
        text.isNull() | (text == ""),
        F.when(media_ref != "", F.lit(sn.KIND_MEDIA)).otherwise(F.lit(sn.KIND_TEXT)),
    )
    for kind, *preds in sn.RULES:
        chain = chain.when(functools.reduce(operator.and_, map(test, preds)), F.lit(kind))
    return chain.otherwise(F.lit(sn.KIND_TEXT))


def span_canonical(span: Column) -> Column:
    """One span -> canonical string on (kind, text, media_ref). Offset is
    excluded: order is the sequence position, offset is derived."""
    return F.concat_ws(_FIELD_SEP, span["kind"], span["text"], span["media_ref"])


def span_seq_hash(spans_col: Column | str) -> Column:
    """Order-SENSITIVE digest of a spans array — two documents compare equal
    under the north_star invariant iff these hashes match."""
    c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
    return F.md5(
        F.concat_ws(_SPAN_SEP, F.transform(c, span_canonical)).cast("binary")
    )


def span_text_length(spans_col: Column | str) -> Column:
    """Total extracted characters across spans (the doc-cost proxy used by
    skew salting), as a codegen'd integer fold."""
    c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
    return F.aggregate(
        F.coalesce(c, F.array()),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
    )


def offsets_monotonic(spans_col: Column | str) -> Column:
    """True iff span offsets are non-decreasing — the §1.1 ordering
    invariant as a boolean column (property tests / data quality gates)."""
    c = F.col(spans_col) if isinstance(spans_col, str) else spans_col
    return F.coalesce(
        F.aggregate(
            c,
            F.struct(F.lit(True).alias("ok"), F.lit(-1).alias("prev")),
            lambda acc, s: F.struct(
                (acc["ok"] & (s["offset"] >= acc["prev"])).alias("ok"),
                s["offset"].alias("prev"),
            ),
            lambda acc: acc["ok"],
        ),
        F.lit(True),
    )
