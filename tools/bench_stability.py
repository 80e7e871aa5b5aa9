"""Host-noise vs plan-regression discriminator.

BENCH_NOTES.md documents a measured 1.3-2x same-code variance class
on this shared box — which makes a single bench total useless for
deciding whether a round REGRESSED or the host was busy. This tool
answers that in one step: it runs the base-100 slice (q01-q100, the
round-over-round comparable set) TWICE in the same warmed session
and reports the paired spread. Reading the output:

- pass-to-pass total spread ~ the host-noise floor for THIS run;
  a round-over-round delta inside that band is noise, not a
  regression;
- per-query max ratio >> total spread points at specific queries
  worth a targeted re-measure (bench.py's >2x in-run guard does that
  automatically on official runs).

Usage: python tools/bench_stability.py [sf_dir] [--passes N]
Prints one JSON line:
  {"passes": [t1, t2, ...], "spread_pct": ..., "worst": [...], ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    passes = 2
    for a in sys.argv[1:]:
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1]) if "=" in a else int(
                sys.argv[sys.argv.index(a) + 1]
            )

    from ursa_major_choir_etl_spark.caching import release_all
    from ursa_major_choir_etl_spark.plans.queries import QUERIES
    from ursa_major_choir_etl_spark.session import get_spark

    spark = get_spark(
        app_name="bench-stability",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).count()

    ordered = [
        k
        for k in sorted(QUERIES, key=lambda k: int(k[1 : k.index("_")]))
        if int(k[1 : k.index("_")]) <= 100
    ]

    def cleanup() -> None:
        try:
            release_all(spark)
        except Exception:
            pass

    # one untimed warm pass: compilation/JIT out of the measurement
    for name in ordered:
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
        cleanup()

    per_pass: list[dict[str, float]] = []
    for _ in range(passes):
        times: dict[str, float] = {}
        for name in ordered:
            try:
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times[name] = round(time.time() - t0, 3)
            except Exception:
                times[name] = float("nan")
            cleanup()
        per_pass.append(times)

    totals = [round(sum(p.values()), 2) for p in per_pass]
    spread_pct = round(
        100.0 * (max(totals) - min(totals)) / max(min(totals), 1e-9), 1
    )
    # per-query worst pass-to-pass ratio (>1s only, micro-queries churn)
    worst = sorted(
        (
            (
                round(
                    max(p[n] for p in per_pass)
                    / max(min(p[n] for p in per_pass), 1e-9),
                    2,
                ),
                n,
                [p[n] for p in per_pass],
            )
            for n in ordered
            if max(p[n] for p in per_pass) > 1.0
        ),
        reverse=True,
    )[:5]
    print(
        json.dumps(
            {
                "metric": "base-100 stability",
                "sf_dir": sf_dir,
                "passes": totals,
                "spread_pct": spread_pct,
                "worst": [
                    {"query": n, "ratio": r, "times": ts}
                    for r, n, ts in worst
                ],
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
