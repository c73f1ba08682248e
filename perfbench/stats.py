"""Summary statistics and result digests used by every workload.

Pure Python: no Spark import, so the tests exercise it directly.
"""

from __future__ import annotations

import decimal
import math
import re
import zlib
from collections.abc import Iterable, Sequence

# A percentile is reported only when at least this many samples lie
# beyond it; otherwise the tail is too thin to be more than one outlier.
TAIL_SAMPLES = 10
_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: Sequence[float], p: float) -> float:
    """The ``p``-th percentile (``p`` in (0, 100]) by nearest rank: the
    smallest sample with at least ``p`` percent of the samples at or
    below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    return float(xs[max(1, math.ceil(p / 100.0 * len(xs) - 1e-9)) - 1])


def smooth_median(samples: Sequence[float]) -> float:
    """The expected nearest-rank median of a bootstrap resample of the
    samples: a weighted mean of the order statistics, with the weights
    the chance that each one is a resample's median. A run's operations
    differ in kind (one analytics pass is 21 different queries), so the
    plain median jumps from one query to its neighbour when two of them
    swap ranks; this median moves smoothly instead."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    r = math.ceil(n / 2)  # nearest rank of the median

    def at_least_r(q: float) -> float:
        """P(Binomial(n, q) >= r): the resample's median is <= the
        order statistic with a share q of the samples at or below it."""
        if q >= 1.0:
            return 1.0
        if q <= 0.0:
            return 0.0
        lq, l1q, lnf = math.log(q), math.log1p(-q), math.lgamma(n + 1)
        return sum(math.exp(lnf - math.lgamma(k + 1) - math.lgamma(n - k + 1) + k * lq + (n - k) * l1q)
                   for k in range(r, n + 1))

    cdf = [at_least_r(i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def supports(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least TAIL_SAMPLES beyond the
    ``p``-th percentile."""
    return n * (100.0 - p) / 100.0 >= TAIL_SAMPLES - 1e-9


def tail(samples: Sequence[float]) -> tuple[float, float] | None:
    """(p, value) for the highest ladder percentile the sample count
    supports, or None when even the median has fewer than
    TAIL_SAMPLES beyond it."""
    for p in _LADDER:
        if supports(len(samples), p):
            return p, percentile(samples, p)
    return None


def p_or_none(samples: Sequence[float], p: float) -> float | None:
    return percentile(samples, p) if supports(len(samples), p) else None


# --- result digests ---------------------------------------------------


def norm_value(v):
    """One value of a result row, normalized the way the oracle-parity
    suite compares Spark with DuckDB: NaN → None, floats rounded to 6
    decimals (then to 10 significant digits, so a large aggregate that
    differs only in the last ulp across summation orders still
    matches), timestamps/dates → ISO text, bytes → bytes, sequences →
    tuples of normalized values."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return float(f"{round(v, 6):.10g}") + 0.0  # + 0.0 folds -0.0
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, str):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        return norm_value(v.item())
    if isinstance(v, dict):
        return tuple(sorted((k, norm_value(x)) for k, x in v.items()))
    if hasattr(v, "__iter__"):
        return tuple(norm_value(x) for x in v)
    return v


def norm_rows(columns: Sequence[str], rows: Iterable[Sequence]) -> tuple[tuple, list]:
    """(sorted column names, rows as value tuples in that column order,
    normalized and sorted) — order-insensitive, like the parity suite."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = tuple(columns[i] for i in order)
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    return cols, sorted(out, key=repr)


def norm_pandas(pdf) -> tuple[tuple, list]:
    return norm_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))


def spark_round(x: float | None, d: int) -> float | None:
    """Spark SQL's ROUND of a double: the shortest decimal that reads back
    as the double (Java's ``Double.toString``), rounded half up (away
    from zero) at ``d`` places. DuckDB's ``round`` multiplies by 10**d in
    binary first, so on a double just below a tie the two engines part
    by one unit in the last place: 224832.54499999998 is 224832.54 in
    Spark and 224832.55 in DuckDB."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    with decimal.localcontext() as c:
        c.prec = 800  # enough for any double at any scale
        q = decimal.Decimal(repr(x)).quantize(decimal.Decimal(1).scaleb(-d),
                                               rounding=decimal.ROUND_HALF_UP)
        return float(q)


_ROUND_CALL = re.compile(r"\bround\s*\(", re.IGNORECASE)


def _has_second_arg(sql: str, open_paren: int) -> bool:
    """True when the call whose ``(`` is at ``open_paren`` has a comma
    at its own nesting level (quoted text skipped)."""
    depth, quote = 0, False
    for ch in sql[open_paren:]:
        if ch == "'":
            quote = not quote
        elif quote:
            continue
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return False
        elif ch == "," and depth == 1:
            return True
    raise ValueError("unbalanced parentheses in SQL")


def with_spark_round(sql: str) -> str:
    """Oracle SQL with every two-argument ``round(x, d)`` call made to
    ``spark_round(x, d)``, a function the oracle connection defines as
    :func:`spark_round`, so the oracle rounds with the semantics of the
    engine it checks. One-argument ``round(x)`` stays: at zero places
    both engines round the exact value half away from zero."""
    calls = [m.span() for m in _ROUND_CALL.finditer(sql) if _has_second_arg(sql, m.end() - 1)]
    for start, end in reversed(calls):
        sql = sql[:start] + "spark_round(" + sql[end:]
    return sql


# --- cell digests (visible-cell results) ------------------------------

CELL_SEP = "\x1f"


def cell_crc(row_key: str, cf: str, qualifier: str, ts: int, value: bytes) -> int:
    """CRC32 of one visible cell, rendered exactly as the Spark side
    renders it (see cellfold.spark_digest): fields joined by U+001F,
    ts in decimal, value as upper-case hex."""
    text = CELL_SEP.join((row_key, cf, qualifier, str(ts), bytes(value).hex().upper()))
    return zlib.crc32(text.encode())


def cells_digest(cells: Iterable[tuple]) -> tuple[int, int]:
    """(count, sum of cell CRCs) over (row_key, cf, qualifier, ts,
    value) tuples — order-insensitive, so Spark and Python folds of
    the same cells agree."""
    n = s = 0
    for c in cells:
        n += 1
        s += cell_crc(*c)
    return n, s
