"""Paired same-window re-measure of flagged queries (r6 verdict item 2).

Usage: python scripts/paired_measure.py <repo_a> <repo_b> q69 q78 q95 [reps]

Launches one fresh subprocess per (variant, rep), ALTERNATING variants
so ambient box drift cancels out (the round-6 protocol, which
correctly separated a real code regression from window noise).  Each
subprocess pays its own JVM+warmup untimed, then times each query once,
exactly like bench.py.  Prints per-query medians per variant and the
ratio.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
prefixes = sys.argv[2].split(",")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from real_time_stream_processing_engine_spark.queries import QUERIES
from real_time_stream_processing_engine_spark.session import get_spark
spark = get_spark(app_name="paired", extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).selectExpr("sum(l_extendedprice)").collect()
spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).selectExpr("sum(length(text))").collect()
def _noop(b):
    yield from b
n = spark.sparkContext.defaultParallelism
spark.range(n * 4).repartition(n).mapInPandas(_noop, "id long").count()
spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter("contains(lower(text), 'zzzqqx')").count()
by_prefix = {name.split("_", 1)[0]: name for name in QUERIES}
out = {}
# per-child ambient anchor (r10): min-of-3 of one pinned tiny job,
# reported alongside the query times so an outlier rep can be
# classified from the record alone (anchor ~2x baseline = the whole
# subprocess ran on a degraded box; anchor flat = the query itself)
best = None
for _ in range(3):
    t0 = time.monotonic()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).groupBy(
        "l_returnflag").agg({"l_extendedprice": "sum"}).collect()
    dt = time.monotonic() - t0
    best = dt if best is None else min(best, dt)
out["_anchor"] = round(best, 3)
for p in prefixes:
    name = by_prefix[p]
    t0 = time.monotonic()
    QUERIES[name](spark, sf_dir).count()
    out[p] = round(time.monotonic() - t0, 3)
print("PAIRED " + json.dumps(out))
spark.stop()
"""


def run_once(repo: str, prefixes: list[str]) -> dict[str, float]:
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, repo, ",".join(prefixes)],
        capture_output=True, text=True, timeout=1200,
    )
    for line in r.stdout.splitlines():
        if line.startswith("PAIRED "):
            return json.loads(line[7:])
    raise RuntimeError(f"no result from {repo}: {r.stderr[-2000:]}")


def main() -> None:
    repo_a, repo_b = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    reps = int(rest[-1]) if rest and rest[-1].isdigit() else 3
    prefixes = [a for a in rest if not a.isdigit()]
    results: dict[str, dict[str, list[float]]] = {
        repo_a: {p: [] for p in prefixes},
        repo_b: {p: [] for p in prefixes},
    }
    anchors: dict[str, list[float]] = {repo_a: [], repo_b: []}
    for i in range(reps):
        for repo in ((repo_a, repo_b) if i % 2 == 0 else (repo_b, repo_a)):
            t = run_once(repo, prefixes)
            anchors[repo].append(t.pop("_anchor", -1.0))
            for p, v in t.items():
                results[repo][p].append(v)
            print(f"# rep {i} {repo}: {t}", file=sys.stderr)
    summary = {}
    for p in prefixes:
        ma = statistics.median(results[repo_a][p])
        mb = statistics.median(results[repo_b][p])
        summary[p] = {
            "a_median": ma, "b_median": mb,
            "b_over_a": round(mb / ma, 3) if ma else None,
            "a_all": results[repo_a][p], "b_all": results[repo_b][p],
        }
    print(json.dumps({
        "a": repo_a, "b": repo_b, "paired": summary,
        # per-rep ambient anchors, in rep order per side: a rep whose
        # anchor doubles ran on a degraded box — classify its query
        # outliers as ambient from the record alone
        "anchors_a": anchors[repo_a], "anchors_b": anchors[repo_b],
    }, indent=1))


if __name__ == "__main__":
    main()
