#!/usr/bin/env python
"""Capture the final physical plan of every superstep checkpoint of the
Pregel-family kernels, forced distributed, in both state layouts.

Usage: python scripts/capture_pregel_plans.py <suffix> [repo_root]
Writes plans/pregel/<kernel>_<layout>_<suffix>.txt (suffix =
before|after).  `repo_root` (default: this checkout) picks the
graph_spark to import, so one script captures both sides of a change.
Expression ids, codegen stage ids and RDD names are normalised so two
captures diff on plan shape only.  The input is a seeded symmetric
graph (10k random pairs over 1k nodes, both directions), cached and
counted first, like the catalog's graph views.
"""

from __future__ import annotations

import random
import re
import sys
from pathlib import Path

SUFFIX = sys.argv[1] if len(sys.argv) > 1 else "after"
ROOT = Path(sys.argv[2] if len(sys.argv) > 2 else Path(__file__).resolve().parent.parent)
OUT = Path(__file__).resolve().parent.parent / "plans" / "pregel"
OUT.mkdir(parents=True, exist_ok=True)
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from graph_spark.graph import algorithms as alg  # noqa: E402
from graph_spark.graph.property_graph import PropertyGraph  # noqa: E402
from graph_spark.session import get_spark  # noqa: E402

NORMALISE = [
    (r"#\d+L?", "#"),
    (r"\[plan_id=\d+\]", ""),
    (r"\*\(\d+\)", "*"),
    (r"(Scan ExistingRDD|InMemoryTableScan|InMemoryRelation)[^\n]*", r"\1"),
]


def main() -> None:
    spark = get_spark("capture-pregel-plans")
    plans: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, eager=True, *args, **kw):
        out = checkpoint(self, eager, *args, **kw)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    DataFrame.localCheckpoint = recording
    rng = random.Random(3)
    pairs: set = set()
    while len(pairs) < 10_000:
        a, b = rng.randrange(1000), rng.randrange(1000)
        if a != b:
            pairs.add((f"n{a}", f"n{b}"))
    e = spark.createDataFrame(sorted(pairs | {(b, a) for a, b in pairs}), ["src", "dst"]).persist()
    e.count()
    g = PropertyGraph(e.select(F.col("src").alias("id")).distinct(), e)
    # one kernel per vertex-program shape: weighted and personalized
    # PageRank and Katz plan like pagerank, cc is the delta (`changed`)
    # program, lpa the one with a non-sum combine
    kernels = {
        "pagerank": lambda b: alg.pagerank(g, 3, local=False, broadcast_state=b),
        "cc": lambda b: alg.connected_components(g, local=False, broadcast_state=b),
        "lpa": lambda b: alg.label_propagation(g, 3, local=False, broadcast_state=b),
    }
    for name, run in kernels.items():
        for bcast in (True, False):
            plans.clear()
            run(bcast).collect()
            text = "\n\n".join(plans)
            for pat, rep in NORMALISE:
                text = re.sub(pat, rep, text)
            layout = "bcast" if bcast else "shuffle"
            (OUT / f"{name}_{layout}_{SUFFIX}.txt").write_text(text)
            print(name, layout, len(plans), "checkpoints")


if __name__ == "__main__":
    main()
