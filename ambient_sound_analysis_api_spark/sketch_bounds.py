"""Error-bound checks for approximate-sketch queries against exact answers.

Engine-internal sketches (the count-min grid) cannot hash-match a DuckDB
oracle: the estimates are engine-specific. But such sketches carry
*published* error bounds, and the exact answers are one SQL query away;
asserting the estimates land inside those bounds is a far stronger gate
than a rows-only count. ``BOUNDS_QUERIES`` is derived from the
``_CHECKERS`` dispatch table at the bottom of this module (one checker per
bounds-gated query).
"""

from __future__ import annotations


def _cms_problems(con, cols: list[str], rows: list[tuple]) -> list[str]:
    """Check ``agg_countmin_heavy_hitters`` against DuckDB exact counts:
    the deterministic never-underestimate guarantee, the m·N/w
    overestimate bound (m=8, d=4 → violation probability ≤ 8⁻⁴ per key,
    and deterministic for a fixed corpus), and that the probed keys are
    exactly the true top-20 (count desc, token asc)."""
    idx = {c: i for i, c in enumerate(cols)}
    missing = [c for c in ("token", "est_count") if c not in idx]
    if missing:
        return [f"cms check: missing columns {missing}"]
    exact = dict(
        con.execute(
            "SELECT token, count(*) FROM ("
            "  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))"
            "         AS token FROM documents"
            ") GROUP BY token"
        ).fetchall()
    )
    n_total = sum(exact.values())
    w, m = 512, 8.0
    slack = m * n_total / w
    expected_top = {
        t
        for t, _ in sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    }
    problems = []
    got = {r[idx["token"]] for r in rows}
    if got != expected_top:
        problems.append(
            f"cms check: probed keys != exact top-20 "
            f"(missing {sorted(expected_top - got)[:3]}, "
            f"extra {sorted(got - expected_top)[:3]})"
        )
    for r in rows:
        t = r[idx["token"]]
        est = float(r[idx["est_count"]])
        true = exact.get(t, 0)
        if est < true:
            problems.append(f"{t}: CMS underestimate {est} < exact {true}")
        if est > true + slack:
            problems.append(
                f"{t}: CMS estimate {est} > exact {true} + {slack:.1f} (m·N/w)"
            )
    return problems


# agg_approx_sketches is not in this table: it runs the explicit portable
# sketches (operators/sketches.py) and carries an exact DuckDB oracle, a
# strictly stronger check than an error-bound envelope.
_CHECKERS = {
    "agg_countmin_heavy_hitters": _cms_problems,
}
BOUNDS_QUERIES = set(_CHECKERS)


def bounds_problems_for(
    name: str, con, cols: list[str], rows: list[tuple]
) -> list[str]:
    return _CHECKERS[name](con, cols, rows)
