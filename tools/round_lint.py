"""Boundary-proximity linter for round()-over-double oracles (r16,
VERDICT r15 #2/#3).

The r15 driver gate flipped two first-contact hash rows on exactly one
mechanism: an emitted ``round(x, d)`` whose pre-round double sits at (or
within float error of) a half boundary rounds differently across engines
and across DuckDB builds (decimal-exact HALF_UP vs multiply-based libm
rounding). This linter measures how close every rounded value actually
gets to a boundary, per query, per scale:

  for each un-quantized ``round(EXPR, d)`` in an oracle, the probe
  rewrites it to    abs(frac(EXPR * 10^d) - 0.5) * 1e9
  (scaled so the distance survives outer integer casts) and runs the
  rewritten SQL on DuckDB at each SF; any value < ~1 means the pre-round
  double lies within ~1e-9 of a .5*10^-d boundary — a hash flip waiting
  for a different engine or build.

r17: occurrences quantized through DECIMAL (the pane-query pattern
``round(CAST(x AS DECIMAL(38,12)), d)``) are NO LONGER skipped — the
r16 driver flip of corpus_stats_rollup proved the pattern is still
build-sensitive when the pre-cast double's true value sits ON a
.5*10^-d boundary of the OUTER round (Spark's double->decimal goes via
the shortest decimal repr, e.g. "310.075", and rounds up; a DuckDB
build whose cast truncates the scaled double lands at ...074999999999
and rounds down). Such spans are probed exactly like raw rounds, on
the CAST's inner expression at the outer digit count.

A stage-1 quantized hit is NOT yet a flag: most values landing exactly
on a boundary are DYADIC rationals (0.375 = 3/8, k/32 percent_ranks),
whose double is the boundary decimal EXACTLY, so every faithful
double->decimal conversion yields the same decimal and every build
rounds it identically. Stage 2 therefore isolates each quantized span
(single-span rewrite to the raw pre-cast double, column located by
value-multiset diff against the original output) and simulates the
plausible conversion behaviours per value in exact decimal arithmetic:
Spark's shortest-repr HALF_UP, exact-binary-expansion HALF_UP and
truncate, and scaled-multiply round and truncate (half-even final
rounding is excluded: driver-green queries emit dyadic boundaries,
which half-even would already have flipped). Only values where the
behaviours disagree are flagged ``quantized`` — the remedy is the
corpus_stats_rollup pattern: compute the half-up round on exact
integers, never casting a boundary double through DECIMAL. Rounds with
non-literal digit args are reported as unparsed. Queries that use
round() inside predicates (WHERE/ON/HAVING) get a distorted row set
under rewrite; a span whose isolated rewrite changes the row shape is
reported for manual review rather than auto-cleared.

Usage: python tools/round_lint.py [sf_dir ...] [--threshold N] [name ...]
Default sf_dirs: sf0.001 sf0.01 sf0.1. Exit 1 if any query is flagged.
"""

from __future__ import annotations

import re
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

THRESHOLD = 1.0  # scaled units of 1e-9 absolute distance to the boundary
PROBE_OFFSET = 1.0e15  # marks a raw-round probe value; exact in float64
QUANT_OFFSET = 3.0e15  # marks a quantized-round probe (distinct band)


def _scan(sql: str):
    """Quote-aware scan for top-level ``round(...)`` spans.

    Returns (start, end, inner_expr, digits|None, quantized) tuples;
    digits None means a non-literal second argument (unparsable).
    """
    out = []
    low = sql.lower()
    i = 0
    while True:
        k = low.find("round(", i)
        if k < 0:
            break
        if k > 0 and (low[k - 1].isalnum() or low[k - 1] == "_"):
            i = k + 6
            continue
        depth = 0
        j = k + 5
        in_str = False
        while j < len(sql):
            c = sql[j]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        inner = sql[k + 6 : j]
        depth2 = 0
        comma = -1
        in_str = False
        for m, c in enumerate(inner):
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c in "([":
                depth2 += 1
            elif c in ")]":
                depth2 -= 1
            elif c == "," and depth2 == 0:
                comma = m  # keep LAST top-level comma (args are expr, d)
        if comma < 0:
            expr, digits = inner, 0
        else:
            expr, dstr = inner[:comma], inner[comma + 1 :].strip()
            digits = int(dstr) if re.fullmatch(r"-?\d+", dstr) else None
        quantized = _is_quantized(expr)
        out.append((k, j + 1, expr, digits, quantized))
        # r17: quantized rounds are now rewritten too (probed on the
        # CAST's inner expression), so nested rounds inside either class
        # are covered by the outer probe; never re-scan inside a span
        # (overlapping rewrites would corrupt the span arithmetic)
        i = j
    return out


def _is_quantized(expr: str) -> bool:
    """True only when the round's WHOLE argument is a CAST(... AS
    DECIMAL...) — the det_round pattern. The earlier substring test
    ("AS DECIMAL" anywhere) mis-classified a raw outer round whose
    argument merely CONTAINS a quantized sub-expression, e.g.
    ``round(det_round_output / y, 2)`` — exactly the r15 flip class,
    silently exempted from probing (r16 review)."""
    e = expr.strip()
    if not re.match(r"(?i)^CAST\s*\(", e):
        return False
    # the CAST's close paren must be the END of the expression
    start = e.index("(")
    depth = 0
    in_str = False
    for idx in range(start, len(e)):
        c = e[idx]
        if in_str:
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return idx == len(e) - 1 and bool(
                    re.search(r"(?i)AS\s+DECIMAL", e)
                )
    return False


def _cast_inner(expr: str) -> str:
    """Inner expression of a whole-arg ``CAST(x AS DECIMAL...)``."""
    e = expr.strip()
    start = e.index("(")
    depth = 0
    in_str = False
    for idx in range(start, len(e)):
        c = e[idx]
        if in_str:
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 1:
            m = re.match(r"(?i)\s+AS\s+DECIMAL", e[idx + 1 :])
            if m:
                return e[start + 1 : idx + 1]
    raise ValueError(f"not a det_round CAST: {expr!r}")


def probe_sql(sql: str):
    """Rewrite every literal-digit round() to its scaled boundary
    distance — raw rounds on their argument, quantized rounds on the
    CAST's inner (pre-decimal) expression at the OUTER digit count.
    Returns (rewritten_sql, n_raw_probes, n_quant_probes, n_unparsed)."""
    spans = _scan(sql)
    n_u = sum(1 for s in spans if s[3] is None)
    todo = [s for s in spans if s[3] is not None]
    n_raw = sum(1 for s in todo if not s[4])
    n_quant = len(todo) - n_raw
    for start, end, expr, d, quantized in sorted(todo, reverse=True):
        scale = 10.0 ** d
        probe_expr = _cast_inner(expr) if quantized else expr
        offset = QUANT_OFFSET if quantized else PROBE_OFFSET
        # probe values carry a marker offset so the flag pass can tell
        # them apart from ordinary emitted floats (a raw ratio column's
        # 0.08 must not read as "0.08e-9 from a boundary") and tell the
        # two probe classes apart
        repl = (
            f"(abs((({probe_expr}) * {scale!r})"
            f" - floor(({probe_expr}) * {scale!r})"
            f" - 0.5) * 1000000000.0 + {offset!r})"
        )
        sql = sql[:start] + repl + sql[end:]
    return sql, n_raw, n_quant, n_u


_PRED_RE = re.compile(
    r"\b(where|having|qualify)\b[^;]*?round\(|join[^;]*?\bon\b[^;]*?round\(",
    re.IGNORECASE | re.DOTALL,
)


def _simulate_builds(v: float, d: int):
    """All d-dp outputs of ``round(CAST(v AS DECIMAL(38,12)), d)`` across
    plausible double->decimal conversion behaviours (see module doc).
    One element = every build agrees = safe."""
    import math
    from decimal import ROUND_DOWN, ROUND_HALF_UP, Decimal

    if not math.isfinite(v):
        return {v}
    q12 = Decimal("1e-12")
    qd = Decimal(1).scaleb(-d)
    outs = set()
    # Spark: BigDecimal.valueOf = shortest repr, then HALF_UP twice
    outs.add(
        Decimal(repr(v)).quantize(q12, ROUND_HALF_UP).quantize(qd, ROUND_HALF_UP)
    )
    for conv in (
        Decimal(v).quantize(q12, ROUND_HALF_UP),  # exact expansion, round
        Decimal(v).quantize(q12, ROUND_DOWN),  # exact expansion, truncate
    ):
        outs.add(conv.quantize(qd, ROUND_HALF_UP))
    y = v * 1e12  # scaled-multiply casts (fast C paths)
    if abs(y) < 2**63:
        outs.add((Decimal(round(y)) * q12).quantize(qd, ROUND_HALF_UP))
        outs.add((Decimal(math.floor(y)) * q12).quantize(qd, ROUND_HALF_UP))
    return outs


def _col_multisets(rows):
    """Per-column value multisets (repr-keyed), plus row count."""
    from collections import Counter

    if not rows:
        return [], 0
    ncol = len(rows[0])
    cols = [Counter() for _ in range(ncol)]
    for r in rows:
        for j, v in enumerate(r):
            cols[j][repr(v)] += 1
    return cols, len(rows)


def stage2_quantized(con, sql):
    """Isolate each quantized round span, locate its output column by
    multiset diff, and simulate builds on that column's float values.
    Returns (divergent [(value, d, sorted outputs)], n_manual_spans)."""
    spans = [s for s in _scan(sql) if s[4] and s[3] is not None]
    if not spans:
        return [], 0
    orig_cols, orig_n = _col_multisets(con.sql(sql).fetchall())
    divergent, n_manual = [], 0
    for start, end, expr, d, _q in spans:
        # a span wrapped directly in CAST(... AS INT...) is re-rounded by
        # its context: the raw rewrite comes back identical even when a
        # value sits on a boundary, so a no-diff result proves nothing —
        # audit such spans by hand (tools + OPTIMIZATION notes)
        before = sql[:start].rstrip()
        after = sql[end:].lstrip()
        if before.upper().endswith("CAST(") and re.match(
            r"(?i)AS\s+INT", after
        ):
            n_manual += 1
            continue
        rw = sql[:start] + f"CAST(({_cast_inner(expr)}) AS DOUBLE)" + sql[end:]
        try:
            cols, n = _col_multisets(con.sql(rw).fetchall())
        except Exception:
            n_manual += 1  # rewrite does not survive its context
            continue
        if n != orig_n or len(cols) != len(orig_cols):
            n_manual += 1  # span feeds the row shape (predicate/bin)
            continue
        changed = [j for j in range(len(cols)) if cols[j] != orig_cols[j]]
        # A changed column is THIS span's own emission only if re-rounding
        # the raw values at d reproduces the original column exactly —
        # otherwise the span's value is consumed downstream (weights,
        # bins) or its fraction was cast away, and simulating whatever
        # happened to change is unsound: route to the manual list.
        attributed = False
        import math
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        for j in changed:
            q12 = Decimal("1e-12")
            qd = Decimal(1).scaleb(-d)
            reround = Counter()
            vals = []
            ok = True
            for key, cnt in cols[j].items():
                try:
                    v = float(key)
                except (ValueError, TypeError):
                    ok = False
                    break
                vals.extend([v] * min(cnt, 1))
                if math.isfinite(v):
                    r = float(
                        Decimal(repr(v))
                        .quantize(q12, ROUND_HALF_UP)
                        .quantize(qd, ROUND_HALF_UP)
                    )
                    reround[repr(r)] += cnt
                else:
                    reround[key] += cnt
            orig_float = Counter()
            for key, cnt in orig_cols[j].items():
                try:
                    orig_float[repr(float(key))] += cnt
                except (ValueError, TypeError):
                    ok = False
                    break
            if not ok or reround != orig_float:
                continue
            attributed = True
            for v in vals:
                outs = _simulate_builds(v, d)
                if len(outs) > 1:
                    divergent.append((v, d, sorted(map(str, outs))))
        if changed and not attributed:
            n_manual += 1
    return divergent, n_manual


def main() -> int:
    args = [a for a in sys.argv[1:]]
    threshold = THRESHOLD
    if "--threshold" in args:
        ix = args.index("--threshold")
        threshold = float(args[ix + 1])
        del args[ix : ix + 2]
    sf_dirs = [a for a in args if "/" in a] or [
        f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")
    ]
    only = {a for a in args if "/" not in a}

    import __spark_entry__ as entrymod
    from wallaroo_spark.session import TABLES

    oracles = entrymod.oracle_sql()
    flagged, predicate_cases, unparsed_cases = [], [], []
    manual_cases = []  # quantized spans stage 2 could not attribute

    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name, sql in oracles.items():
            if only and name not in only:
                continue
            rewritten, n_raw, n_quant, n_unparsed = probe_sql(sql)
            n_probe = n_raw + n_quant
            if n_unparsed and name not in unparsed_cases:
                unparsed_cases.append(name)
            if n_probe == 0:
                continue
            if _PRED_RE.search(sql) and name not in predicate_cases:
                predicate_cases.append(name)
            tag = sf_dir.rsplit("/", 1)[-1]
            try:
                rows = con.sql(rewritten).fetchall()
            except Exception:
                # the distance rewrite does not survive this query's
                # expression context (e.g. probe offset overflows an INT
                # cast) — skip straight to stage 2, which isolates spans
                div, n_man = stage2_quantized(con, sql)
                for v, d, outs in div[:4]:
                    print(f"FLAG {name} [{tag}] (quantized): {v!r} @ {d}dp -> {outs}")
                if div:
                    flagged.append((name, sf_dir))
                if n_man and name not in manual_cases:
                    manual_cases.append(name)
                continue
            worst = {"raw": None, "quantized": None}
            n_close = {"raw": 0, "quantized": 0}
            for r in rows:
                for v in r:
                    # only probe-marked values (offset bands); an ordinary
                    # emitted float (a ratio 0.08, a literal 0.5 quantile
                    # label) must not read as a boundary distance
                    if not isinstance(v, float):
                        continue
                    if PROBE_OFFSET <= v < 2 * PROBE_OFFSET:
                        cls, v = "raw", v - PROBE_OFFSET
                    elif QUANT_OFFSET <= v < QUANT_OFFSET + PROBE_OFFSET:
                        cls, v = "quantized", v - QUANT_OFFSET
                    else:
                        continue
                    if worst[cls] is None or v < worst[cls]:
                        worst[cls] = v
                    if v < threshold:
                        n_close[cls] += 1
            if worst["raw"] is not None and worst["raw"] < threshold:
                print(
                    f"FLAG {name} [{tag}] (raw): {n_close['raw']} value(s)"
                    f" within {worst['raw']:.3g}e-9 of a round boundary "
                    f"({n_probe} probes)"
                )
                flagged.append((name, sf_dir))
            if worst["quantized"] is not None and worst["quantized"] < threshold:
                # stage-1 hit: values sit ON a boundary — stage 2 decides
                # whether any of them is actually build-divergent
                div, n_man = stage2_quantized(con, sql)
                for v, d, outs in div[:4]:
                    print(f"FLAG {name} [{tag}] (quantized): {v!r} @ {d}dp -> {outs}")
                if div:
                    flagged.append((name, sf_dir))
                else:
                    print(
                        f"ok   {name} [{tag}]: {n_close['quantized']} "
                        "boundary value(s), all build-stable (stage 2)"
                    )
                if n_man and name not in manual_cases:
                    manual_cases.append(name)
    if predicate_cases:
        print(
            "\npredicate-round queries (rewrite distorts the row set — "
            "review emitted columns manually):"
        )
        for n in predicate_cases:
            print(f"    {n}")
    if unparsed_cases:
        print("\nnon-literal round digits (not probed):")
        for n in unparsed_cases:
            print(f"    {n}")
    if manual_cases:
        print(
            "\nquantized spans stage 2 could not attribute (row shape "
            "changes or fraction cast away — audit by hand):"
        )
        for n in manual_cases:
            print(f"    {n}")
    uniq = sorted({n for n, _ in flagged})
    print(f"\nflagged queries: {len(uniq)}")
    for n in uniq:
        print(f"    {n}")
    return 1 if uniq else 0


if __name__ == "__main__":
    raise SystemExit(main())
