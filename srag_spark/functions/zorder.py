"""Z-ORDER clustering expressions — multi-column interleaved-bit sort keys.

Iceberg's ``rewrite_data_files(strategy => 'sort', sort_order =>
'zorder(a, b)')`` and Delta's ``OPTIMIZE ... ZORDER BY`` re-cluster data
files so that per-file (and per-row-group) min/max statistics are tight
on EVERY named column simultaneously, instead of only the leading column
of a lexicographic sort.  The mechanism is a space-filling curve: each
column value is quantized to a small fixed-width integer bin, the bins'
bits are interleaved into one integer z-value, and rows are sorted by
that z-value.  Points close on the Z curve are close in every dimension,
so any contiguous run of rows (a parquet row group) spans a small
min/max rectangle — range predicates on ANY z-column skip most row
groups, where a lexicographic sort only serves its leading column.

This module provides the two pieces as pure, scale-safe building blocks:

* :func:`compute_boundaries` — per-column quantile bin edges via the
  ``percentile_approx`` aggregate (one linear, map-side-combinable
  sketch pass; driver state = ``2^bits - 1`` floats per column, never
  row data).  Quantile binning makes the curve immune to value skew —
  equal-POPULATION bins, exactly how Delta's ``range_partition_id``
  quantizes.
* :func:`zvalue_col` — the z-value as ONE native column expression:
  bin lookup is a nested binary-search CASE tree (log-depth — only
  ~``bits`` comparisons evaluated per row), bit interleaving one
  ``element_at`` into a precomputed Morton-spread literal table.
  Zero Python, zero shuffles — the sort that consumes it rides
  whatever exchange the caller already has.

Supported column types: numeric, date, timestamp (normalized to double
before quantization).  Strings are rejected — hash-mapping them would
destroy the range locality z-ordering exists to create (Delta truncates
string prefixes instead; out of scope here).  NULLs bin to 0 and
therefore cluster at the front of the curve, mirroring NULLS FIRST.

Used by :func:`srag_spark.sources.tables.rewrite_table` (``zorder_by=``)
to cluster each bucket's file at compaction; see there for the zone-map
integration.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_COLS = 4
_INT_MAX = 2**31 - 1
_ZBIN = "__zbin"


def _as_double(col: str, dtype: str):
    """The column normalized to a double for quantile math; None if the
    type cannot be z-ordered."""
    s = dtype
    if s in ("tinyint", "smallint", "int", "bigint", "float", "double") or s.startswith(
        "decimal"
    ):
        return F.col(col).cast("double")
    if s == "timestamp":
        return F.col(col).cast("double")
    if s in ("timestamp_ntz", "date"):
        # no direct double cast: route via timestamp (session-tz anchored;
        # boundaries and z-values share the normalization, so the binning
        # is internally consistent whatever the session timezone)
        return F.col(col).cast("timestamp").cast("double")
    return None


def _as_double_sql(col: str, dtype: str) -> str | None:
    """SQL-text twin of :func:`_as_double` (same normalization)."""
    s = dtype
    q = f"`{col}`"
    if s in (
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) or s.startswith("decimal"):
        return f"CAST({q} AS DOUBLE)"
    if s == "timestamp":
        return f"CAST({q} AS DOUBLE)"
    if s in ("timestamp_ntz", "date"):
        return f"CAST(CAST({q} AS TIMESTAMP) AS DOUBLE)"
    return None


def compute_boundaries(
    df: DataFrame, cols: list[str], bits: int = 8, rel_err: float | None = None
) -> dict[str, list[float]]:
    """Per-column ascending quantile boundaries for ``2^bits`` bins —
    one GK-sketch pass over ``df`` (``approxQuantile`` on all columns at
    once).  Duplicate edges (heavy values) collapse, so a column's bin
    count adapts to its actual cardinality.  Raises on unsupported
    column types so callers fail before rewriting anything.

    ``rel_err`` defaults to a QUARTER of the bin spacing (``1 / 2^(bits
    + 2)``): the sketch error must be well under the 1/2^bits distance
    between requested quantiles or adjacent edges come back equal /
    inverted and the dedup collapses the design's bin count (a 0.01
    error at bits=8 yields ~50-100 effective bins, not 256).  GK driver
    state stays O(1/rel_err · log n) floats — trivial at 0.001."""
    if rel_err is None:
        rel_err = 1.0 / (1 << (bits + 2))
    if not 1 <= len(cols) <= _MAX_COLS:
        raise ValueError(f"zorder_by takes 1..{_MAX_COLS} columns, got {len(cols)}")
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exprs = []
    for c in cols:
        if c not in by_name:
            raise ValueError(f"zorder column {c!r} not in schema")
        e = _as_double(c, by_name[c])
        if e is None:
            raise ValueError(
                f"zorder column {c!r} has unsupported type {by_name[c]!r} "
                "(numeric/date/timestamp only)"
            )
        exprs.append(e.alias(f"{_ZBIN}_{c}"))
    proj = df.select(*exprs)
    n_edges = (1 << bits) - 1
    probs = [(i + 1) / (1 << bits) for i in range(n_edges)]
    # percentile_approx: the codegen'd, map-side-combinable AGGREGATE
    # sketch (one normal Spark job) — DataFrame.approxQuantile computes
    # the same kind of estimate through a boxing RDD path, measured ~3×
    # slower on a 1M-row pass.  accuracy ≈ 1/rel_err bounds the rank
    # error the same way.  Boundaries shape the LAYOUT only (zone maps
    # are recorded from the written data), so estimator wobble never
    # changes any query result.
    probs_sql = "array(" + ",".join(repr(p) for p in probs) + ")"
    # percentile_approx's accuracy is an INT argument
    acc = min(max(1 << (bits + 2), int(round(1.0 / rel_err))), _INT_MAX)
    row = proj.agg(
        *[
            F.expr(
                f"percentile_approx(`{_ZBIN}_{c}`, {probs_sql}, {acc})"
            ).alias(f"q_{i}")
            for i, c in enumerate(cols)
        ]
    ).collect()[0]
    quants = [
        [] if row[f"q_{i}"] is None else list(row[f"q_{i}"])
        for i in range(len(cols))
    ]
    out = {}
    for c, qs in zip(cols, quants):
        edges: list[float] = []
        for q in qs:  # approxQuantile drops nulls; qs may be [] on all-null
            if not edges or q > edges[-1]:
                edges.append(float(q))
        out[c] = edges
    return out


def _double_sql(v: float) -> str:
    """SQL double literal; ±Infinity and NaN (edges of a column that
    holds them) have no ``…D`` spelling and are cast from strings."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    return f"CAST('{'NaN' if math.isnan(v) else 'Infinity' if v > 0 else '-Infinity'}' AS DOUBLE)"


def _bin_search_sql(edges: list[float], x_sql: str) -> str:
    """SQL text of ``#edges <= x`` (the bin index) as a NESTED BINARY
    CASE tree: only ~log2(len(edges)) comparisons are ever evaluated
    per row — CASE takes one branch in both codegen and interpreted
    modes — versus the linear ``size(filter(edges, b -> b <= x))``
    form, whose higher-order lambda is CodegenFallback and compares
    against every edge per row (measured ~3 s per 1M rows × 2 columns
    at sfx10; the tree form is ~30×/col less comparison work).  NULL
    ``x`` falls through every ``>=`` to bin 0, same as the filter
    form."""

    def rec(lo: int, hi: int) -> str:
        # the answer (number of edges <= x) is known to lie in [lo, hi]
        if lo == hi:
            return str(lo)
        mid = (lo + hi + 1) // 2
        return (
            f"(CASE WHEN {x_sql} >= {_double_sql(edges[mid - 1])} "
            f"THEN {rec(mid, hi)} ELSE {rec(lo, mid - 1)} END)"
        )

    return rec(0, len(edges))


def _morton_spread(v: int, bits: int, ncols: int, j: int) -> int:
    """Bin value ``v``'s bits placed at their Morton positions: bit i
    lands at ``i * ncols + (ncols - 1 - j)``."""
    out = 0
    for i in range(bits):
        out |= ((v >> i) & 1) << (i * ncols + (ncols - 1 - j))
    return out


def zvalue_col(
    boundaries: dict[str, list[float]], dtypes: dict[str, str], bits: int = 8
):
    """The interleaved-bit z-value over ``boundaries``' columns as one
    native BIGINT column expression.  Column j's bit i lands at position
    ``i * ncols + (ncols - 1 - j)`` so equal-significance bits of all
    columns are adjacent — the standard Morton layout.  NULL bins to 0.

    Evaluation shape (r6): the bin lookup — ``size(filter(edges, b ->
    b <= x))``, an interpreted 255-compare pass — runs ONCE per column,
    and the bit interleave is a single ``element_at`` into a
    precomputed 2^bits-entry Morton-spread literal array.  The previous
    form summed ``2·bits`` shift terms that each re-evaluated the full
    filter-count subtree (HOFs are CodegenFallback with no
    subexpression elimination): 16 × 255 interpreted compares per row
    per column, measured ~3 s per 1M rows at sfx10 — now ~16× less
    interpreted work for bit-identical z-values."""
    cols = list(boundaries)
    ncols = len(cols)
    if not 1 <= ncols <= _MAX_COLS:
        raise ValueError(f"zvalue_col takes 1..{_MAX_COLS} columns, got {ncols}")
    if bits * ncols > 62:
        raise ValueError("bits * ncols must fit a signed 64-bit z-value")
    z = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        edges = boundaries[c]
        x_sql = _as_double_sql(c, dtypes[c])
        if x_sql is None:
            raise ValueError(f"unsupported zorder column type for {c!r}")
        if not edges:  # all-null or empty column: everything bins to 0
            continue  # spread(0) == 0 contributes nothing to the sum
        # one binary-search CASE tree per column (log-depth evaluation),
        # then the bit interleave as a single element_at into the
        # precomputed Morton-spread table; all literals are SQL text —
        # one JVM parse instead of 255/256 py4j round trips per array
        # (same device as dedup.lit_vec)
        lut = [_morton_spread(v, bits, ncols, j) for v in range(len(edges) + 1)]
        lut_sql = "array(" + ",".join(f"{s}L" for s in lut) + ")"
        bin_sql = _bin_search_sql(edges, x_sql)
        z = z + F.expr(f"element_at({lut_sql}, ({bin_sql}) + 1)")
    return z
