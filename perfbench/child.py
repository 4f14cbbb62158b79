"""One cold pass of a benchmark workload in a fresh Spark process.

    python3 perfbench/child.py '<json spec>'

The spec names the workload kind, the input and work directories, the
wall-clock time the parent spawned this process, and whether to trace.
Prints one JSON line: setup_s (spawn to a ready session with inputs
registered), the pass (wall_s, rows out, Spark jobs, per-unit results),
the JVM's peak RSS, and with tracing the per-layer report.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the board queries, in the order they run; a warm-up query outside the
# set runs first in every pass, so the first timed query does not pay the
# pass's start-up alone
BOARD = [
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_exact", "ann_cosine_topk",
    "text_analysis", "events_sessionize", "connected_components", "retrieval_trigram",
]
BOARD_WARMUP = "clean_labels"
BOARD_TABLES = ("documents", "embeddings", "events", "supplier", "nation", "part")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def spark_jobs(spark) -> int:
    """Spark jobs this session has run so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore().jobsList(None).size()


# --------------------------------------------------------------- inputs

def open_inputs(spark, kind: str, inp: str) -> dict:
    """Register a workload's inputs: the set-up a user's job does before
    its first action."""
    if kind == "board":
        from wikidata_wikifier_spark.sources.tpch import load_table

        sf = os.path.join(inp, "board")
        for t in BOARD_TABLES:
            load_table(spark, sf, t)
        return {"sf": sf}
    h = {t: spark.read.parquet(os.path.join(inp, t)) for t in ("index", "edges")}
    if kind == "job":
        h["source"] = spark.read.parquet(os.path.join(inp, "source"))
    return h


# ---------------------------------------------------------------- passes

def job_pass(spark, spec: dict, h: dict, tracer) -> dict:
    """The job path as job.py chains it."""
    from wikidata_wikifier_spark import pipeline, triples
    from wikidata_wikifier_spark.plans import checkpoint

    t0 = time.perf_counter()
    stats: dict = {}
    links = pipeline.wikify(h["source"], h["index"], k=1, stats=stats)
    links = pipeline.canonicalize_links(links, h["edges"])
    trip = triples.links_to_triples(links, h["index"], idx_rows=stats["idx_rows"])
    w = checkpoint.write_triples(trip, spec["out"], resume=False)
    return {"wall_s": time.perf_counter() - t0, "units": [{"ok": True}],
            "rows_out": w["n_triples"]}


def stream_pass(spark, spec: dict, h: dict, tracer) -> dict:
    """Drain the backlog through wikify_stream (availableNow, one file per
    trigger)."""
    from wikidata_wikifier_spark.schemas import SOURCE_REPOS
    from wikidata_wikifier_spark.streaming import wikify_stream as ws

    batches: list[int] = []
    t0 = time.perf_counter()
    with tracer.span("wikify_stream") if tracer else nullcontext():
        stream = (spark.readStream.schema(SOURCE_REPOS)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(spec["inputs"], "backlog")))
        q = ws.wikify_stream(stream, h["index"], spec["out"],
                             os.path.join(spec["work"], "ckpt"), edges=h["edges"],
                             on_batch=lambda b, st: batches.append(st["n_triples"]))
        q.awaitTermination()
    wall = time.perf_counter() - t0
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in q.recentProgress
            if p.get("numInputRows", 0) > 0]
    return {"wall_s": wall, "rows_out": sum(batches),
            "units": [{"ok": True} for _ in batches], "batch_s": trig}


def board_pass(spark, spec: dict, h: dict, tracer) -> dict:
    """Each board query once, after one warm-up query."""
    from wikidata_wikifier_spark.queries import QUERIES

    QUERIES[BOARD_WARMUP](spark, h["sf"]).count()
    units = []
    t0 = time.perf_counter()
    for name in BOARD:
        q0 = time.perf_counter()
        try:
            with tracer.span(f"queries.{name}") if tracer else nullcontext():
                n = QUERIES[name](spark, h["sf"]).count()
            units.append({"name": name, "ok": True, "rows": n,
                          "s": time.perf_counter() - q0})
        except Exception as e:  # a failed query is counted, the board goes on
            units.append({"name": name, "ok": False, "error": repr(e)[:300]})
    return {"wall_s": time.perf_counter() - t0, "units": units,
            "rows_out": sum(u.get("rows", 0) for u in units)}


PASSES = {"job": job_pass, "stream": stream_pass, "board": board_pass}


def main() -> None:
    spec = json.loads(sys.argv[1])
    from wikidata_wikifier_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark.sparkContext.setLogLevel("ERROR")
    h = open_inputs(spark, spec["kind"], spec["inputs"])
    setup_s = time.time() - spec["t_spawn"]
    jobs0 = spark_jobs(spark)
    tracer = None
    if spec["trace"]:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install()
    try:
        res = PASSES[spec["kind"]](spark, spec, h, tracer)
        res["ok"] = all(u["ok"] for u in res["units"])
    except Exception:
        res = {"ok": False, "error": traceback.format_exc()[-2000:]}
    res.update(setup_s=setup_s, peak_rss_mb=jvm_peak_rss_mb(spark),
               jobs=spark_jobs(spark) - jobs0)
    if tracer and res["ok"]:
        res["layers"] = tracer.report(
            res["wall_s"], root_layer="wikify_stream" if spec["kind"] == "stream" else None)
    print(json.dumps(res), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
