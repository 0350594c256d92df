"""Optimization profiling: for each target query, dump
explain('formatted') to plans/<round>/<name>_<tag>.txt, time N reps
with the noop sink (the bench methodology, single pass), and print the
last rep's stages from the UI REST API: executorRunTime, task count
and shuffle volumes per stage, then the stage timeline.

Usage: python scripts/profile_queries.py <round> [tag] [query ...]
  round names the plans/ subdirectory (e.g. r13); tag defaults to
  'before'; with no query names, runs the TOP list.
"""
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from play_with_pulsar_spark.queries import REGISTRY  # noqa: E402
from play_with_pulsar_spark.session import get_spark  # noqa: E402

TOP = [
    "graph_pagerank_copurchase",
    "mix_doremi_weights",
    "sim_opq_adc_topk",
    "mix_doremi_sample",
    "pipeline_fineweb_full",
    "text_excise_winnowed",
    "pipeline_fineweb_recipe",
    "dedup_survivors_quality",
    "dedup_embedding_lsh",
    "audit_dup_rate_by_source",
    "dedup_incremental_minhash",
    "text_bpe_merges",
    "text_gopher_repetition",
    "sim_ivf_pq_topk",
    "dedup_simhash_rotated",
    "text_line_dedup",
    "dedup_simhash_checked",
    "dsir_hashed_topk",
    "dedup_minhash_lsh",
    "quality_classifier_scores",
]

REPS = int(os.environ.get("PROFILE_REPS", "3"))


def _stages(spark) -> list[dict]:
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def print_stages(stages: list[dict]) -> None:
    """Per-stage table (heaviest first), then submission-order timeline."""
    stages = sorted(stages, key=lambda s: -(s.get("executorRunTime") or 0))
    tot_run = sum(s.get("executorRunTime") or 0 for s in stages)
    print(f"  {len(stages)} stages, executorRunTime sum {tot_run} ms")
    for s in stages[:30]:
        nm = (s.get("description") or s.get("name") or "")[:95]
        print(
            f"  {s.get('executorRunTime', 0):7d} ms run | {s.get('numCompleteTasks', 0):3d} tasks "
            f"| {s.get('status')} | shufR {s.get('shuffleReadBytes', 0):>9} "
            f"| shufW {s.get('shuffleWriteBytes', 0):>9} | {nm}"
        )
    stages.sort(key=lambda s: s.get("submissionTime") or "")
    print("  -- timeline (submission order) --")
    for s in stages[:40]:
        nm = (s.get("name") or "")[:60]
        print(
            f"  {s.get('submissionTime', '')[11:23]} -> {s.get('completionTime', '')[11:23]} "
            f"| {s.get('executorRunTime', 0):6d} ms | {s.get('numCompleteTasks', 0):3d}t | {nm}"
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or TOP
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(
        app_name=f"pwp-profile-{rnd}", extra_conf={"spark.ui.enabled": "true"}
    )
    results = {}
    for name in names:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"profile:{name}")
        # build once for the plan dump (plan build may run allowlisted
        # fit jobs; keep that out of the first timed rep by building
        # a fresh plan per rep, exactly like bench.py does)
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        spark.catalog.clearCache()
        ts = []
        if REPS == 0:
            print(f"{name}: plan dumped", flush=True)
            continue
        for _ in range(REPS):
            before = {s["stageId"] for s in _stages(spark)}
            t0 = time.perf_counter()
            df2 = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df2.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            ts.append((round(t2 - t0, 3), round(t1 - t0, 3), round(t2 - t1, 3)))
            spark.catalog.clearCache()
        results[name] = ts
        print(f"{name}: {ts}", flush=True)
        print_stages([s for s in _stages(spark) if s["stageId"] not in before])
    print("== summary (total / build / exec, min-total rep) ==")
    for k, v in results.items():
        best = min(v, key=lambda t: t[0])
        print(f"{best[0]:8.3f}  build={best[1]:7.3f} exec={best[2]:7.3f}  {k}")


if __name__ == "__main__":
    main()
