"""Interleaved A/B of two lake bucket layouts in ONE Spark session —
the box-noise-robust protocol (r9's false regression taught it: two
separate sessions measured minutes apart confound layout effects with
box drift; alternating variants inside one session cancels it).

Used for bench_results/sf100_lake_bucket_ab_r12.json: spark vs dual
layout twins built by make_sf100_lake.py --layout {spark,dual}.

Usage:
  SPARK_GRAFT_DRIVER_MEM=24g \
  python tools/lake_bucket_ab.py --sf-dir benchdata/sf100 \
      --wh-a benchdata/lake_bkt_wh_sf100.0 \
      --wh-b benchdata/lake_bkt_wh_sf100.0_dual \
      --out bench_results/sf100_lake_bucket_ab.json
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))
sys.path.insert(0, str(Path(__file__).parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--wh-a", required=True, help="first warehouse (label a)")
    ap.add_argument("--wh-b", required=True, help="second warehouse (label b)")
    ap.add_argument("--label-a", default="a")
    ap.add_argument("--label-b", default="b")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.label_a == args.label_b:
        ap.error("--label-a and --label-b must differ (the dict of "
                 "warehouses would silently collapse to one entry)")
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    import os

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
    from bench import materialize  # noqa: E402
    from lake_bucket_bench import lake_join  # noqa: E402

    from sample_iceberg_schema_evolution_pyiceberg_spark.session import (  # noqa: E402
        get_spark,
    )

    spark = get_spark(app_name="lake_bucket_ab")
    spark.sparkContext.setLogLevel("ERROR")
    whs = {args.label_a: args.wh_a, args.label_b: args.wh_b}
    for wh in whs.values():  # one warm pass each
        materialize(lake_join(spark, wh, args.sf_dir))
    samples: dict[str, list[float]] = {k: [] for k in whs}
    for i in range(args.runs):  # interleaved: a, b, a, b, ...
        for name, wh in whs.items():
            t0 = time.time()
            materialize(lake_join(spark, wh, args.sf_dir))
            samples[name].append(round(time.time() - t0, 2))
            print(i, name, samples[name][-1], flush=True)
    out = {
        "metric": "lake_bucket_interleaved_ab",
        "sf_dir": args.sf_dir,
        "protocol": (
            f"interleaved, 1 warm + {args.runs} samples each, one session"
        ),
        "warehouses": whs,
        "samples": samples,
        "medians": {
            k: sorted(v)[len(v) // 2] for k, v in samples.items()
        },
    }
    line = json.dumps(out)
    if args.out:
        Path(args.out).write_text(json.dumps(out, indent=1))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
