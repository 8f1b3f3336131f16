"""Physical plans of the bench headline queries at sf0.1, with the stable
fingerprint the bench JSON reports (same session sizing and warm
protocol as bench.py, so fingerprints match BENCH_r{N}.json).

Usage:
  python tools/gen_plans.py
      regenerate PLANS.md (every headline query)
  python tools/gen_plans.py --out plans/r17 --tag after [name ...]
      write <out>/<query>_<tag>.txt per query (default: every headline
      query) — the before/after evidence of an optimization round
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent))

HEADER = """\
# PLANS — headline physical plans (sf0.1, local[32])

Generated by `tools/gen_plans.py` via
`spark._jdf.queryExecution().explainString("formatted")`
for every bench headline query, with the stable plan fingerprint the
bench JSON reports (same normalization, computed warm like the bench).
Plans change only when a fingerprint changes.

What to look for (asserted mechanically in tests/test_plans.py):
`PushedFilters`/`ReadSchema` on every Scan, `BroadcastHashJoin` for
dim sides, `Bucketed: true` fact scans for the orderkey join,
partial_ aggregates before exchanges, `TakeOrderedAndProject` for
top-k, WholeStageCodegen spans over the row work.
"""


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="per-query dump dir (default: PLANS.md)")
    ap.add_argument("--tag", choices=("before", "after"), default="before")
    ap.add_argument("names", nargs="*", help="queries (default: headline)")
    args = ap.parse_args()
    if args.names and not args.out:
        ap.error("query names need --out (PLANS.md always holds every "
                 "headline query)")

    from bench import HEADLINE, materialize, plan_fingerprint
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
        QUERIES,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.session import (
        get_spark,
    )

    sf_dir = "/root/testdata/sf0.1"
    # publish the dir EXACTLY like bench.py does, so session sizing
    # (input-scaled shuffle partitions, the input-sized AQE gate) sees
    # the same input and the fingerprints here equal the bench's.
    # r12: the regenerated (smaller) testdata flipped the AQE gate's
    # side for env-sized sessions, and this tool's unsized session
    # silently kept AQE on — every PLANS.md fingerprint diverged from
    # BENCH_r12's while both were individually self-consistent.
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    spark = get_spark(
        app_name="gen_plans",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        out_dir = Path(args.out)
        out_dir.mkdir(parents=True, exist_ok=True)
    sections = [HEADER]
    for name in args.names or HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        materialize(df)  # warm: AQE-final fingerprints, like the bench
        df = QUERIES[name](spark, sf_dir)
        fp = plan_fingerprint(df)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        # strip volatile absolute paths for readability
        plan = buf.getvalue().rstrip().replace(str(Path.cwd()), ".")
        if args.out:
            (out_dir / f"{name}_{args.tag}.txt").write_text(
                f"# {name} ({args.tag}) fp:{fp} sf0.1 local[32]\n\n{plan}\n"
            )
            print(f"{name} fp:{fp}")
        else:
            sections.append(f"## {name}  `fp:{fp}`\n\n```\n{plan}\n```\n")
    if not args.out:
        Path("PLANS.md").write_text("\n".join(sections))
        print(f"PLANS.md regenerated ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
