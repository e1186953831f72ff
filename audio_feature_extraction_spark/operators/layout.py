"""Z-order (Morton) clustering keys for multi-dimensional data layout.

Writing a 100 TB table sorted by a Z-order key over (entity, time) makes
BOTH per-entity and per-time-range scans touch few files, where a linear
(row-major) sort serves only its leading column — the standard
Delta/Iceberg `ZORDER BY` layout optimization, here as portable SQL
text any engine evaluates: interleave the low ``bits`` of two
non-negative ints, a in the even positions, b in the odd.

Built as ONE generated SQL expression (sum of shifted bit terms) rather
than 2*bits Python-side Column objects — the py4j plan-construction cost
lesson from the ANN literal-vector fix (SURVEY round-4 item 4).

Reference analog: the reference's per-file directory layout
(`04_feature_extraction_experiment/feature_extractor.py` walks
speaker/session dirs) is a 1-D layout; this is its 2-D scale answer.
"""

from __future__ import annotations



def zorder_key_sql(a_expr: str, b_expr: str, bits: int = 10) -> str:
    """The interleave as portable SQL text over two non-negative int
    expressions (caller guarantees range [0, 2^bits)); works verbatim in
    Spark SQL and DuckDB (both have &, <<, >> on BIGINT)."""
    # fully parenthesized: << binds TIGHTER than & in DuckDB (C-like),
    # looser in Spark SQL — bare `x >> i & 1 << s` parses differently in
    # the two engines (found by the oracle gate: 2^52 << 11 overflow)
    terms = []
    for i in range(bits):
        terms.append(f"(((({a_expr}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({b_expr}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"

