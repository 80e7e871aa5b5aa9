"""Optimization profiler: per-query plan capture + timed runs.

For each named query (or prefix, e.g. ``q184``):
  - captures ``df.explain('formatted')`` to
    ``plans/<round>/<prefix>_<tag>.txt`` (``--round``, default r15)
  - times N noop-sink executions (the first labeled 'first' — it runs
    AFTER the sf0.001 JIT warm-up sweep, so it is not a true cold)

Usage: python tools/profile_query.py [--tag before|after] [--sf SF_DIR]
                                     [--runs N] q184 q131 ...

Artifacts are pre-built (untimed) before the first measurement so the
query timings are query cost alone, matching bench.py's split; pass
--skip-artifacts when the targets touch none of them (round-14 ADVICE:
building all of them is wasted setup for most queries).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--round", default="r15")
    ap.add_argument("--skip-artifacts", action="store_true")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    from ursa_major_choir_etl_spark.caching import release_all
    from ursa_major_choir_etl_spark.plans.queries import (
        ARTIFACT_BUILDERS,
        QUERIES,
    )
    from ursa_major_choir_etl_spark.session import get_spark

    spark = get_spark(
        app_name="profile_query",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.range(1000).count()

    names = []
    for q in args.queries:
        match = [k for k in QUERIES if k == q or k.startswith(q + "_")]
        if not match:
            print(f"!! no query matches {q}")
            continue
        names.extend(match)

    if not args.skip_artifacts:
        for aname, builder in ARTIFACT_BUILDERS.items():
            try:
                builder(spark, args.sf)
            except Exception as exc:  # noqa: BLE001
                print(f"!! artifact {aname}: {exc}")
        release_all(spark)

    # Mirror bench.py's untimed sf0.001 warm-up for the TARGET queries:
    # drives their whole-stage-codegen classes through Janino + C2 so
    # the timed runs measure plan execution, not JIT state (a q137
    # profile without this measured 40s warm where the bench's
    # post-sweep number is ~5s).
    warm_dir = "/root/testdata/sf0.001"
    if not os.environ.get("SPARK_GRAFT_NO_WARMUP") and os.path.isdir(warm_dir):
        for name in names:
            for _ in range(2):
                try:
                    QUERIES[name](spark, warm_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                except Exception:
                    pass
                release_all(spark)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        fn = QUERIES[name]
        prefix = name.split("_", 1)[0]
        if not args.no_plan:
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{prefix}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} @ {args.sf} ({args.tag})\n")
                f.write(buf.getvalue())
            release_all(spark)
        times = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            release_all(spark)
        spark.sparkContext.setJobDescription(None)
        # 'first' (not 'cold'): the sf0.001 JIT sweep above already
        # compiled this query's codegen classes.
        print(f"{name}: first {times[0]}  warm {times[1:]}")


if __name__ == "__main__":
    main()
