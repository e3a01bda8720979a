#!/usr/bin/env python
"""Inventory every oracle's decimal→double EXIT style (r8, advice #2).

The r7 sf1 stress fixed the 2^53 decimal→double drift class by moving
aggregate exits onto the scaled-BIGINT path, and SCALE.md claimed "all
63 oracle sites" were converted. The advice pass found sites still on
the direct cast (e.g. revenue-style DECIMAL(27,4) sums), so the claim
was an overstatement. This script makes the inventory MECHANICAL: it
scans every registered oracle for

- scaled exits:  CAST(CAST(SUM(CAST(x AS DECIMAL(p,s))) * 10^s AS
                 BIGINT) AS DOUBLE) / 10^s.0   (drift-proof to 2^63/10^s)
- direct exits:  CAST(SUM(CAST(x AS DECIMAL(p,s))) ... AS DOUBLE)
                 (bit-identical across engines only while the group sum
                 stays below 2^53 grid units — headroom 2^53/10^s in
                 value terms)

and prints per-query counts plus the headroom bound for each remaining
direct site. The r8 SCALE.md addendum embeds this script's output; the
sf1 full-registry sweep is the empirical check that every remaining
direct site is inside its headroom at the largest fixture we run.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import rpa_etl_investing_spark.plans as plans  # noqa: E402

SCALED = re.compile(
    r"CAST\(CAST\(SUM\(CAST\((?:[^()]|\([^()]*\))*AS DECIMAL\(\d+,\s*(\d+)\)\)\)\s*"
    r"\*\s*\d+\s+AS BIGINT\)\s+AS DOUBLE\)",
    re.IGNORECASE | re.DOTALL,
)
DIRECT = re.compile(
    r"CAST\(SUM\(CAST\((?:[^()]|\([^()]*\))*AS DECIMAL\(\d+,\s*(\d+)\)\)\)"
    r"(?:\s*FILTER\s*\([^)]*\))?\s+AS DOUBLE\)",
    re.IGNORECASE | re.DOTALL,
)


def main() -> int:
    direct: dict[str, list[int]] = {}
    n_scaled = 0
    n_wide = 0
    for name, q in sorted(plans.QUERIES.items()):
        if not q.oracle:
            continue
        sql = q.oracle
        # wide split exits: dsum_wide_sql's 10^9 floor-div is unique to it
        n_wide += len(re.findall(r"// 1000000000\b", sql))
        scaled_spans = [m.span() for m in SCALED.finditer(sql)]
        n_scaled += len(scaled_spans)
        for m in DIRECT.finditer(sql):
            # a direct match nested inside a scaled match is the same site
            if any(a <= m.start() and m.end() <= b for a, b in scaled_spans):
                continue
            direct.setdefault(name, []).append(int(m.group(1)))
    total_direct = sum(len(v) for v in direct.values())
    print(f"scaled-BIGINT exits: {n_scaled}; wide split exits: {n_wide}")
    print(f"direct decimal->double exits: {total_direct} "
          f"in {len(direct)} queries")
    for name, scales in sorted(direct.items()):
        bounds = ", ".join(
            f"scale {s}: exact while |group sum| < {2**53 / 10**s:.3g}"
            for s in sorted(set(scales))
        )
        print(f"  {name}: {len(scales)} site(s) [{bounds}]")
    print(json.dumps({
        "n_scaled": n_scaled,
        "n_wide": n_wide,
        "n_direct": total_direct,
        "direct_queries": {k: sorted(v) for k, v in sorted(direct.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
