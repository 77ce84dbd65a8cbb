"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation, plan capture, and stage-level metrics via the UI REST API.

NOT part of the frozen driver contract — bench.py stays the measured
artifact; this file exists so OPTIMIZATION_r06.md numbers are reproducible.

Usage:
  python bench_extra.py [query ...]            # time + plans for the named
                                               # queries (default: headline)
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py psi_extendedprice
  SPARK_GRAFT_REPEATS=3 ...                    # min-of-N per query
  SPARK_GRAFT_PLAN_TAG=after ...               # plans/r06/<q>_after.txt

Prints one JSON line: {"queries": {name: sec}, "stages": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
PLAN_TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")
PLAN_DIR = os.path.join(REPO, "plans", "r06")

HEADLINE = [
    "profile_customer", "agg_orders_priority", "uniqueness_lineitem",
    "referential_lineitem_part", "psi_extendedprice", "ks_extendedprice",
    "chi2_orderpriority", "wasserstein_extendedprice", "histogram_acctbal",
    "window_latest_orders", "ann_cosine_topk", "adwin_events",
    "corpus_pipeline_documents", "span_dedup_documents",
    "lm_perplexity_documents", "bpe_encode_documents",
]


def make_session(cores: int):
    # identical knobs to the frozen bench, plus the UI for stage metrics
    from pyspark.sql import SparkSession

    heap_gb = max(8, min(8 + cores // 2, 24))
    heap = f"{heap_gb}g"
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"aumos-bench-extra-{cores}")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=512m "
            "-XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4055")
        .getOrCreate()
    )


def _stage_metrics(app_id: str) -> list[dict]:
    url = f"http://localhost:4055/api/v1/applications/{app_id}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())
    except Exception:
        return []


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")] or HEADLINE
    os.makedirs(PLAN_DIR, exist_ok=True)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    walls: dict[str, float] = {}
    for name in names:
        # plan capture (cheap, pre-timing)
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(PLAN_DIR, f"{name}_{PLAN_TAG}.txt"), "w") as f:
            f.write(plan)

        best = float("inf")
        for i in range(REPEATS):
            spark.sparkContext.setJobDescription(f"{name}#{i}")
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        spark.sparkContext.setJobDescription(None)
        walls[name] = round(best, 3)
        print(f"  {name}: {best:.3f}s", file=sys.stderr)

    # dump per-stage metrics for offline inspection
    stages = _stage_metrics(app_id)
    out_stages = [
        {
            "stageId": s.get("stageId"),
            "attempt": s.get("attemptId"),
            "name": (s.get("name") or "")[:120],
            "desc": (s.get("description") or "")[:80],
            "numTasks": s.get("numTasks"),
            "executorRunTime_ms": s.get("executorRunTime"),
            "executorCpuTime_ms": (s.get("executorCpuTime") or 0) // 1_000_000,
            "inputBytes": s.get("inputBytes"),
            "shuffleReadBytes": s.get("shuffleReadBytes"),
            "shuffleWriteBytes": s.get("shuffleWriteBytes"),
            "submissionTime": s.get("submissionTime"),
            "completionTime": s.get("completionTime"),
        }
        for s in stages
    ]
    result = {"sf_dir": SF_DIR, "repeats": REPEATS, "queries": walls}
    with open("/tmp/bench_extra_stages.json", "w") as f:
        json.dump(out_stages, f, indent=1)
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
