#!/usr/bin/env python3
"""Benchmark of the wikifier engine: the cold job path and a streaming
backlog (and, by hand, the operator board), each pass in a fresh Spark
process.

    python3 perfbench/run.py --workload batch_corpus --seed 1 --seconds 50 --trace 0
    python3 perfbench/run.py --workload stream_backlog --seed 1 --seconds 50 --trace 1
    python3 perfbench/run.py --workload operator_board --seed 1 --seconds 1 --trace 0 --smoke

One invocation generates the workload's inputs from --seed (timed apart as
gen_s), then runs cold passes one after another (closed loop, one client),
each in its own process at local[<cpus>], until the next would overrun
--seconds (at least one pass). With --trace 1 untraced and traced passes
alternate; the traced ones wrap the engine's layer functions (spans.py)
and give per-layer numbers.

stdout: human-readable lines, one `{"detail": ...}` line with everything
measured, and last the result line
`{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}`
holding every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1) listed in BENCHMARK.json, which names them and their units.

A pass counts as failed if it raises, or if its triple digest differs from
the first one recorded in this checkout for the same workload, seed and
engine source. `correct` also needs link precision and recall against the
generator's planted truth at or above the floors the seed engine reaches,
and non-empty output. DESIGN.md has the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from child import BOARD  # noqa: E402 (it imports no Spark at module level)

PKG = os.path.join(ROOT, "wikidata_wikifier_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench")
LEDGER = os.path.join(WORK_ROOT, "digests.json")  # workload:seed:sizes:code -> digest
RUN_DEADLINE_S = 170.0  # a run must end within 180 s

# kind, generator arguments (full and --smoke) and, for workloads that
# write triples, the link-precision floor: just under what the seed engine
# reaches on every seed tried, so quality is gated "no worse". More than
# 225 entities adds numbered labels ("cold widget 230") that retrieval
# confuses, so batch_vocab sits lower.
WORKLOADS = {
    "batch_corpus": {
        "kind": "job", "min_precision": 0.98,
        "full": {"n_files": 6000, "n_entities": 50},
        "smoke": {"n_files": 250, "n_entities": 40},
    },
    "batch_vocab": {
        "kind": "job", "min_precision": 0.92,
        "full": {"n_files": 250, "n_entities": 600},
        "smoke": {"n_files": 120, "n_entities": 120},
    },
    "stream_backlog": {
        "kind": "stream", "min_precision": 0.98,
        "full": {"n_files": 300, "n_entities": 200, "n_batches": 1},
        "smoke": {"n_files": 100, "n_entities": 60, "n_batches": 1},
    },
    "operator_board": {
        "kind": "board",
        "full": {"n_docs": 1500, "n_vecs": 2000, "n_events": 20000, "n_parts": 2000},
        "smoke": {"n_docs": 150, "n_vecs": 200, "n_events": 2000, "n_parts": 200},
    },
}

MIN_RECALL = 0.99  # the seed engine finds every planted link


def listed_metrics(section: str) -> dict[str, str]:
    """name -> unit of the end_to_end or per_layer metrics BENCHMARK.json
    lists: what the result line carries."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def pinned_env(work: str) -> dict[str, str]:
    """Everything that decides parallelism and where scratch goes."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_DRIVER_MEM": "2g",
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }


def _group_alive(pgid: int) -> bool:
    """Any live (non-zombie) process left in the group?"""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(stat[2]) == pgid and stat[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop what is left of a process group (a JVM and its Python
    workers) and wait until every member has ended."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
        deadline = time.time() + 5.0
        while time.time() < deadline and _group_alive(proc.pid):
            time.sleep(0.05)
        if not _group_alive(proc.pid):
            break
    proc.wait()


def run_child(spec: dict, env: dict, log: str, timeout: float) -> dict:
    spec = dict(spec, t_spawn=time.time())
    with open(log, "ab") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), json.dumps(spec)],
            stdout=subprocess.PIPE, stderr=err, cwd=spec["work"], env=env,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            return {"error": f"process timed out after {timeout:.0f}s"}
        finally:  # also when the run itself is stopped
            _stop_group(proc)
    for line in reversed(out.decode(errors="replace").splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    with open(log, errors="replace") as f:
        tail = "".join(f.readlines()[-15:])
    return {"error": f"process exited {proc.returncode} without a result:\n{tail}"}


def membw_probe(work: str, env: dict) -> float | None:
    """Host memory bandwidth (GB/s) from the repo's STREAM probe, run from
    a copy so its run log lands in the work dir. Printed, never gated."""
    src = os.path.join(ROOT, "BENCH", "membw.py")
    if not os.path.exists(src):
        return None
    dst = os.path.join(work, "membw.py")
    shutil.copy(src, dst)
    try:
        r = subprocess.run([sys.executable, dst, "--procs", "1", "--seconds", "0.3"],
                           capture_output=True, text=True, timeout=30, env=env, cwd=work)
        return json.loads(r.stdout.strip().splitlines()[-1])["agg_gb_per_sec"]
    except (OSError, subprocess.SubprocessError, ValueError, KeyError, IndexError):
        return None  # a dead probe must not fail the benchmark


def _code_fingerprint() -> str:
    h = hashlib.sha1()
    for d, _, fs in sorted(os.walk(PKG)):
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), PKG).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def _digest_agrees(key: str, digest: str) -> bool:
    """Compare against the first digest recorded for this key in this
    checkout (passes of one run, and earlier runs); record it if it is the
    first."""
    seen = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as f:
            seen = json.load(f)
    if key in seen:
        return seen[key] == digest
    seen[key] = digest
    with open(LEDGER, "w") as f:
        json.dump(seen, f, indent=0)
    return True


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args()

    # a stopped run still stops its Spark process and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(PKG):
        print(f"perfbench: engine package not found at {PKG}", file=sys.stderr)
        return 2
    t_run = time.time()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pins = pinned_env(work)
    env = dict(os.environ, **pins, PYTHONPATH=ROOT)
    try:
        return _bench(args, WORKLOADS[args.workload], work, pins, env, t_run)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, wl: dict, work: str, pins: dict, env: dict, t_run: float) -> int:
    import inputs

    kind = wl["kind"]
    size = wl["smoke" if args.smoke else "full"]
    membw_before = membw_probe(work, env)
    inp = os.path.join(work, "inputs")
    os.makedirs(inp)
    g0 = time.perf_counter()
    gen = inputs.board_inputs if kind == "board" else inputs.job_inputs
    sizes = gen(inp, seed=args.seed, **size)
    gen_s = time.perf_counter() - g0

    passes = _run_passes(args, kind, inp, work, env, t_run)
    membw_after = membw_probe(work, env)

    # a pass that raised fails all its units (runs, batches or queries); a
    # pass whose triple digest differs from another pass of the same
    # workload, seed and engine code fails as a whole
    expect_units = {"job": 1, "stream": size.get("n_batches", 1), "board": len(BOARD)}[kind]
    key = f"{args.workload}:{args.seed}:{json.dumps(size, sort_keys=True)}:{_code_fingerprint()}"
    attempted = failed = 0
    for p in passes:
        units = p.get("units", [])
        units = units + [{"ok": False}] * (expect_units - len(units))
        if kind != "board" and p["ok"]:
            p["digest"] = inputs.triple_digest(p["out"])
            if not _digest_agrees(key, p["digest"]):
                p["ok"] = False
                units = [{"ok": False}] * len(units)
        attempted += len(units)
        failed += sum(not u["ok"] for u in units)
    plain = [p for p in passes if p["ok"] and not p["traced"]]
    traced = [p for p in passes if p["ok"] and p["traced"]]

    detail: dict = {
        "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
        "inputs": sizes, "gen_s": gen_s, "env": pins,
        "membw_gb_s": [membw_before, membw_after],
        "samples": {"untraced_passes": len(plain), "traced_passes": len(traced)},
        "errors": [p["error"] for p in passes if "error" in p],
    }
    checks = {"no_failures": failed == 0, "ran": bool(plain)}
    report = _report(wl, plain, passes, inp, checks, detail) if plain else {}
    if report:
        report["success_ratio"] = 1.0 - failed / attempted
    if args.trace:
        checks["traced"] = bool(traced)
        detail["layers"] = _layer_metrics(kind, plain, traced, report) if plain and traced else {}
    detail.update(checks=checks, report=report, correct=all(checks.values()))

    for name, unit in listed_metrics("end_to_end").items():
        if name in report:
            print(f"{args.workload:15s} {name:22s} {report[name]:14.4f} {unit:6s} n={len(plain)}")
    for k in ("link_precision", "link_recall", "out_bytes_per_triple", "batch_s_p50"):
        if k in report:
            print(f"{args.workload:15s} {k:22s} {report[k]:14.4f}")
    print(f"{args.workload:15s} gen_s={gen_s:.2f} membw_gb_s={membw_before}->{membw_after} "
          f"checks={checks}")
    print(json.dumps({"detail": detail}))
    if not plain or (args.trace and not traced):
        return 1
    source = detail["layers"] if args.trace else report
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {n: {"value": source.get(n, 0.0), "unit": u}
               for n, u in listed_metrics(section).items()}
    print(json.dumps({"correct": detail["correct"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _run_passes(args, kind: str, inp: str, work: str, env: dict, t_run: float) -> list[dict]:
    """Cold passes back to back until the next would overrun --seconds (at
    least one, or one untraced and one traced with --trace 1), within the
    run deadline."""
    passes: list[dict] = []
    m0 = time.time()
    while True:
        i = len(passes)
        traced = bool(args.trace) and i % 2 == 1
        pdir = os.path.join(work, f"pass{i}")
        os.makedirs(pdir)
        spec = {"kind": kind, "inputs": inp, "trace": traced, "work": pdir,
                "out": os.path.join(pdir, "out")}
        res = run_child(spec, env, os.path.join(work, "spark.log"),
                        timeout=RUN_DEADLINE_S - 8 - (time.time() - t_run))
        res.setdefault("ok", False)
        res.update(traced=traced, out=spec["out"])
        passes.append(res)
        if "error" in res:
            sys.stderr.write(f"perfbench: pass {i} failed:\n{res['error']}\n")
        used = time.time() - m0
        typical = used / len(passes)
        if typical > RUN_DEADLINE_S - 12 - (time.time() - t_run):
            return passes
        if len(passes) >= (2 if args.trace else 1) and used + typical > args.seconds:
            return passes


def _report(wl: dict, plain: list[dict], passes: list[dict], inp: str,
            checks: dict, detail: dict) -> dict:
    """Medians over the untraced passes, plus the output checks."""
    import inputs

    kind = wl["kind"]
    first = plain[0]
    report = {
        "setup_s": _med([p["setup_s"] for p in plain]),
        "wall_s": _med([p["wall_s"] for p in plain]),
        "peak_rss_mb": _med([p["peak_rss_mb"] for p in plain]),
        "out_rows_per_s": _med([p["rows_out"] / p["wall_s"] for p in plain]),
    }
    checks["rows_out"] = first["rows_out"] > 0
    if kind == "board":
        rows: dict[str, set] = {}
        for p in passes:
            for u in p.get("units", []):
                rows.setdefault(u["name"], set()).add(u.get("rows"))
        checks["board_rows_agree"] = all(len(v) == 1 for v in rows.values())
        checks["board_rows_nonzero"] = all(0 not in v for v in rows.values())
        detail["query_s"] = {n: _med([u["s"] for p in plain for u in p["units"]
                                      if u["name"] == n and u["ok"]]) for n in rows}
        detail["query_rows"] = {n: sorted(v, key=str) for n, v in rows.items()}
        return report
    prec, rec = inputs.link_quality(first["out"], inp)
    report["link_precision"] = prec
    report["link_recall"] = rec
    report["out_bytes_per_triple"] = inputs.output_bytes(first["out"]) / first["rows_out"]
    checks["precision_floor"] = prec >= wl["min_precision"]
    checks["recall_floor"] = rec >= MIN_RECALL
    detail["triples"] = first["rows_out"]
    detail["digest"] = first["digest"]
    if kind == "stream":
        report["batch_s_p50"] = _med([b for p in plain for b in p["batch_s"]])
    return report


def _layer_metrics(kind: str, plain: list[dict], traced: list[dict], report: dict) -> dict:
    """Every per-layer metric: medians over the traced passes, plus what
    the untraced passes give."""
    names = {n for p in traced for n in p["layers"]}
    lay = {n: _med([p["layers"].get(n, 0.0) for p in traced]) for n in names}
    lay["trace.overhead_pct"] = 100.0 * (
        _med([p["wall_s"] for p in traced]) / report["wall_s"] - 1.0)
    lay["peak_rss_mb"] = report["peak_rss_mb"]
    if kind == "stream":
        lay["wikify_stream.batch_s_p50"] = report["batch_s_p50"]
        lay["wikify_stream.jobs_per_batch"] = _med(
            [p["jobs"] / max(len(p["batch_s"]), 1) for p in plain])
    for k in ("link_precision", "link_recall"):
        if k in report:
            lay[f"output.{k}"] = report[k]
    if "out_bytes_per_triple" in report:
        lay["output.bytes_per_triple"] = report["out_bytes_per_triple"]
    return lay


if __name__ == "__main__":
    sys.exit(main())
