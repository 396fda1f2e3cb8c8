"""Dump the plans of named queries to plans/<tag>/<q>_<label>.txt, or compare
two dumps.

Each file holds `.explain("formatted")` followed by the optimized logical
plan.

Usage:
    python examples/dump_plans.py --label before [--tag r11] q1 q2 ...
    python examples/dump_plans.py --tag r11 --compare before after [q1 ...]

`--compare` masks expression ids (`#12`), AQE plan ids (`plan_id=12`), the
counters PySpark appends to lambda variables (`x_12`) and the session's
scratch directory (`spark-<uuid>/userFiles-<uuid>`), then lists the
queries whose two dumps differ (all queries dumped under both labels when
none are named).  It exits 1 when any differ.

The session comes from `session.local_session`: `local[<nproc>]`
(`SPARK_GRAFT_CPUS` overrides the CPU count), which sets the shuffle
partitions printed in the plans.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MASKS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(lambda [xyz])_\d+"), r"\1"),
    (re.compile(r"/spark-[0-9a-f-]{36}/userFiles-[0-9a-f-]{36}/"), "/spark-*/userFiles-*/"),
)


def mask(text: str) -> str:
    for pat, repl in _MASKS:
        text = pat.sub(repl, text)
    return text


def compare(outdir: str, label_a: str, label_b: str, names: list[str]) -> int:
    if not names:
        suffix = f"_{label_a}.txt"
        names = sorted(
            os.path.basename(p)[: -len(suffix)]
            for p in glob.glob(os.path.join(outdir, f"*{suffix}"))
        )
    differ, missing = [], []
    for name in names:
        paths = [os.path.join(outdir, f"{name}_{lab}.txt") for lab in (label_a, label_b)]
        if not all(os.path.exists(p) for p in paths):
            missing.append(name)
            continue
        a, b = (mask(open(p).read()) for p in paths)
        if a != b:
            differ.append(name)
    for name in missing:
        print(f"missing {name}")
    for name in differ:
        print(f"differs {name}")
    print(f"{len(names) - len(differ) - len(missing)} identical, {len(differ)} differ, "
          f"{len(missing)} missing of {len(names)}")
    return 1 if differ or missing else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--label")
    mode.add_argument("--compare", nargs=2, metavar=("LABEL_A", "LABEL_B"))
    ap.add_argument("--tag", default="r11")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    outdir = os.path.join(REPO, "plans", args.tag)
    if args.compare:
        sys.exit(compare(outdir, *args.compare, args.names))
    if not args.names:
        ap.error("name at least one query to dump")

    from spark_ml_spatialjointransformer_spark.queries import QUERIES
    from spark_ml_spatialjointransformer_spark.session import local_session

    spark = local_session("dump-plans")
    os.makedirs(outdir, exist_ok=True)
    for name in args.names:
        qe = QUERIES[name].fn(spark, args.sf_dir)._jdf.queryExecution()
        txt = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        txt += "\n== Optimized Logical Plan ==\n" + qe.optimizedPlan().toString()
        path = os.path.join(outdir, f"{name}_{args.label}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
