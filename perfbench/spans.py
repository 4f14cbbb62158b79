"""Layer spans for the traced benchmark run, recorded from outside the engine.

The tracer replaces the module attributes the engine looks up (for
`pipeline`, the operator modules it holds by name) with wrappers. Each
wrapped call:

- runs under its own Spark job group, so the status store can attribute
  every job and stage to it;
- materialises a DataFrame result (eager localCheckpoint plus a count),
  so the layer's work happens inside its span rather than in whichever
  layer consumes the lazy plan;
- records a span (layer, start, end, parent, rows out) in memory.

After the pass, `report` turns spans plus status-store job and stage
entries into `<layer>.<metric>` numbers. A layer's self time is its spans'
durations minus the time their direct child spans cover.
"""

from __future__ import annotations

import functools
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager

# layer -> [(module the caller reads, operator module it holds by that
# name or "", wrapped functions)]. Wrapping the name the caller looks up,
# via a proxy for a held module, leaves an operator module's calls to its
# own helpers untraced, so no work is counted twice.
WRAPS = {
    "mentions": [("pipeline", "", ["detect_mentions"]),
                 ("operators.mentions", "", ["label_context"])],
    "candidates": [("pipeline", "cand_ops", ["label_candidates"]),
                   ("queries", "candidates", ["trigram_matches"])],
    "features.string_sim": [("pipeline", "features", [
        "string_similarity_features", "singleton_feature", "pick_hc_candidates"])],
    "features.context": [("pipeline", "features", [
        "context_match_array", "context_score_relevant"])],
    "features.tfidf": [("pipeline", "features", [
        "pgr_rts", "kth_percentile", "semantic_tfidf_map_multi", "create_pseudo_gt"])],
    "features.centroid": [("pipeline", "features", ["embedding_centroid_score"])],
    "ranker": [("pipeline", "ranker", ["predict_using_model"])],
    "topk": [("pipeline", "topk", ["get_kg_links", "apply_match_rule"])],
    "pipeline": [("pipeline", "", ["wikify", "canonicalize_links"]),
                 ("streaming.wikify_stream", "", ["wikify", "canonicalize_links"])],
    "connected_components": [("pipeline", "", ["connected_components"]),
                             ("operators.connected_components", "", ["connected_components"])],
    "triples": [("triples", "", ["links_to_triples"]),
                ("streaming.wikify_stream", "", ["links_to_triples"])],
    "checkpoint": [("plans.checkpoint", "", ["write_triples"])],
}
# wikify_stream has no wrapped function: the benchmark spans the whole
# stream (start to termination) and its self time is per-batch overhead
AUX_GROUP = "perfbench.aux"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []  # one stack: stream batches run while main waits
        self.lock = threading.Lock()
        self.labels_in = 0  # distinct labels entering candidate generation
        self.topk_in = 0  # candidate rows entering top-k selection
        # jobs the session ran before tracing started belong to no layer
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self.job_floor = jsc.statusStore().jobsList(None).size()

    # ------------------------------------------------------------ spans
    @contextmanager
    def _job_group(self, group: str, description: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, description)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    @contextmanager
    def span(self, layer: str, fn: str = ""):
        with self.lock:
            rec = {"id": f"perfbench.{len(self.spans)}", "layer": layer, "fn": fn,
                   "parent": self.stack[-1]["id"] if self.stack else None, "rows": 0}
            self.spans.append(rec)
            self.stack.append(rec)
        try:
            with self._job_group(rec["id"], layer):
                rec["start"] = time.perf_counter()
                try:
                    yield rec
                finally:
                    rec["end"] = time.perf_counter()
        finally:
            with self.lock:
                self.stack.remove(rec)

    def _materialise(self, value, rec: dict):
        from pyspark.sql import DataFrame

        if isinstance(value, DataFrame):
            value = value.localCheckpoint(eager=True)
            rec["rows"] += value.count()
        elif isinstance(value, tuple):
            value = tuple(self._materialise(v, rec) for v in value)
        elif isinstance(value, dict) and "n_triples" in value:
            rec["rows"] += int(value["n_triples"])
        return value

    def _aux_count(self, df) -> int:
        with self._job_group(AUX_GROUP, "trace bookkeeping"):
            return df.count()

    def wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name == "label_candidates":
                self.labels_in += self._aux_count(args[0].select("label_clean").distinct())
            elif name == "get_kg_links":
                self.topk_in += self._aux_count(args[0])
            with self.span(layer, name) as rec:
                return self._materialise(fn(*args, **kwargs), rec)

        return traced

    def install(self) -> None:
        import importlib

        proxies: dict[tuple[str, str], types.SimpleNamespace] = {}
        for layer, targets in WRAPS.items():
            for mod, held, names in targets:
                target = importlib.import_module(f"wikidata_wikifier_spark.{mod}")
                if held:
                    if (mod, held) not in proxies:
                        proxies[mod, held] = types.SimpleNamespace(**vars(getattr(target, held)))
                        setattr(target, held, proxies[mod, held])
                    target = proxies[mod, held]
                for name in names:
                    setattr(target, name, self.wrap(getattr(target, name), layer, name))

    # ----------------------------------------------------------- report
    def _status(self) -> tuple[list, dict[int, list]]:
        """(JobData in job-id order, stage id -> [StageData attempts])."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        stage_seq = store.stageList(None, False, False, empty, None)
        stages: dict[int, list] = defaultdict(list)
        for i in range(stage_seq.size()):
            stages[stage_seq.apply(i).stageId()].append(stage_seq.apply(i))
        return sorted((jobs.apply(i) for i in range(jobs.size())),
                      key=lambda j: j.jobId()), stages

    def report(self, wall_s: float, root_layer: str | None = None) -> dict:
        """Per-layer and run-level metrics. Jobs outside any span (the
        streaming engine's own per-batch jobs) go to root_layer."""
        span_by_id = {s["id"]: s for s in self.spans}
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            self_s = (s["end"] - s["start"]) - child_time[s["id"]]
            out[f"{s['layer']}.self_s"] += self_s
            out[f"{s['layer']}.rows_out"] += s["rows"]
            out["trace.covered_s"] += self_s

        jobs, stages = self._status()
        seen: set[int] = set()
        spill = failed = 0.0
        for j in jobs:
            group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
            if j.jobId() < self.job_floor or group == AUX_GROUP:
                ids = j.stageIds()
                seen.update(ids.apply(k) for k in range(ids.length()))
                continue
            layer = span_by_id[group]["layer"] if group in span_by_id else root_layer
            if layer:
                out[f"{layer}.jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.length()):
                sid = ids.apply(k)
                if sid in seen:
                    continue  # a reused stage is charged to the job that ran it
                seen.add(sid)
                for st in stages.get(sid, []):
                    spill += st.diskBytesSpilled()
                    failed += st.numFailedTasks()
                    if layer:
                        out[f"{layer}.task_s"] += st.executorRunTime() / 1e3
                        out[f"{layer}.cpu_s"] += st.executorCpuTime() / 1e9
                        out[f"{layer}.shuffle_mb"] += (
                            st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
        out["spill_mb"] = spill / 2**20
        out["failed_tasks"] = failed
        out["trace.coverage"] = out.pop("trace.covered_s") / wall_s if wall_s else 0.0
        def rows(fn: str) -> int:
            return sum(s["rows"] for s in self.spans if s["fn"] == fn)

        out["candidates.pairs_per_label"] = (
            rows("label_candidates") / self.labels_in if self.labels_in else 0.0)
        out["topk.kept_ratio"] = rows("get_kg_links") / self.topk_in if self.topk_in else 0.0
        return dict(out)
