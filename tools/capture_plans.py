#!/usr/bin/env python
"""Capture .explain("formatted") output per query, for before/after
plan evidence (<out>/<query>_<suffix>.txt).

Usage:
    python tools/capture_plans.py --out DIR --suffix before [names...]

Names may be registry entries or legacy leg names. With no names,
captures the headline entries of perfbench/spec.json. Plans are built
at $SPARK_GRAFT_SF_DIR (default sf0.1) and under
SPARK_GRAFT_FAST_HASH=1 unless the variable is already set.

Each file is written through :func:`normalize_plan`, so two captures
of one commit are byte-identical and a diff between two commits shows
only plan changes. Plan identity is checked on these ``formatted()``
plans, built before execution, and not on executed plans: under AQE
the executed plans of ``operators/dedup.connected_components``' loop
differ from one run to the next in which join side is broadcast.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: session-wide counters a formatted plan prints: expression ids
#: (``doc_id#12L``), exchange ids (``plan_id=7``) and checkpointed-RDD
#: ids (``RDD[42]``). Jobs run while a plan is built (a connected-
#: components loop, a collected scalar) advance them for every later
#: plan in the session.
_COUNTERS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def normalize_plan(text: str) -> str:
    """``text`` with every session-wide counter replaced by ``N``."""
    return _COUNTERS.sub(r"\1N", text)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_FAST_HASH", "1")

    from vbb_data_pipeline_spark.plans.explain import formatted
    from vbb_data_pipeline_spark.queries import all_queries, legacy_queries
    from vbb_data_pipeline_spark.session import get_spark

    registry = {n: spec.fn for n, spec in all_queries().items()}
    registry.update(legacy_queries())
    bench_spec = json.loads((ROOT / "perfbench" / "spec.json").read_text())
    names = args.names or bench_spec["workloads"]["headline"]["entries"]

    out_dir = ROOT / args.out
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("capture-plans")
    for name in names:
        if name not in registry:
            print(f"skip unknown query {name}", file=sys.stderr)
            continue
        df = registry[name](spark, args.sf)
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(normalize_plan(formatted(df)))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
