#!/usr/bin/env python3
"""HGN end-to-end benchmark.

Runs one workload through the program's public entry points and prints,
as the last line of stdout, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (from a separate, phase-by-phase traced
pass). The line before it holds every metric of the run, the environment
and the check results; the same record goes to
.bench_work/results/<workload>-seed<seed>-trace<trace>.json.

Workloads: hgn_planted, hgn_copurchase, catalog_graph (see README.md).

Usage, from the repository root:
    python3 perfbench/run.py --workload hgn_planted --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py ... --update-goldens   # record this run as the golden
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("hgn_planted", "hgn_copurchase", "catalog_graph")
DATA = "perfbench/data/sf0.01"
HEAP = "2g"
SETUPS = 7
# Planted seeds without a golden must still recover the blocks this well.
NMI_FLOOR = 0.3
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

HGN_LAYERS = ["sources.load", "sources.sink", "ml.similarity", "graph.betweenness",
              "graph.rmetrics", "graph.edge_weights", "graph.edges_to_delete",
              "graph.delete", "graph.components"]
SHUFFLE_LAYERS = ["graph.betweenness", "graph.rmetrics", "graph.edge_weights"]
# The catalog_graph queries (their names start so).
CATALOG = ["g08", "g09", "g10", "g15", "g17"]


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else min(4, len(os.sched_getaffinity(0)))


def environment(root: Path, n_cores: int) -> dict:
    try:
        head = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = ""
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": n_cores,
        "xmx": HEAP,
        "jdk": java.splitlines()[0] if java else "",
        "git_head": head or "not a git checkout",
        "loadavg_1m": os.getloadavg()[0],
    }


def jvm(root: Path, classes: Path, args, work: Path, n_cores: int, timeout: float) -> int:
    tmp = (work / "tmp").relative_to(root)
    (root / tmp).mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                                 "-cp", f"{classes}:{build.spark_jars(root)}/*",
                                 "graft.perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cores))
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {timeout:.0f} s; log in {work}/jvm.log")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(rec: dict, n_cores: int, untraced_wall: float) -> dict:
    traced = rec["traced"]
    spans = traced["spans"]
    by_layer = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)

    def total(layer, key):
        return sum(s[key] for s in by_layer.get(layer, []))

    m = {}
    for layer in HGN_LAYERS:
        m[f"{layer}_s"] = (total(layer, "self_s"), "s")
    for layer in SHUFFLE_LAYERS:
        m[f"{layer}_shuffle_mb"] = (total(layer, "shuffle_write_mb"), "MB")
    steps = [s["end_s"] - s["start_s"] for s in by_layer.get("hgn.step", [])]
    deleted = traced.get("deleted", [])
    m["hgn.steps"] = (len(deleted), "count")
    m["hgn.deleted_step1"] = (deleted[0] if deleted else 0, "count")
    m["hgn.deleted_total"] = (sum(deleted), "count")
    m["hgn.vertices_dropped_total"] = (traced.get("vertices_dropped_total", 0), "count")
    m["hgn.rmetrics_rows_total"] = (traced.get("rmetrics_rows_total", 0), "count")
    m["hgn.step1_s"] = (steps[0] if steps else 0.0, "s")
    m["hgn.step_tail_p50_s"] = (median(steps[2:]), "s")
    m["plans.cut_count"] = (sum(s["cuts"] for s in spans), "count")
    m["plans.storage_mb_peak"] = (traced["storage_peak_mb"], "MB")
    m["spark.jobs"] = (sum(s["jobs"] for s in spans), "count")
    m["spark.stages"] = (sum(s["stages"] for s in spans), "count")
    m["spark.tasks"] = (sum(s["tasks"] for s in spans), "count")
    m["spark.task_s"] = (sum(s["task_s"] for s in spans), "s")
    m["spark.shuffle_read_mb"] = (sum(s["shuffle_read_mb"] for s in spans), "MB")
    m["spark.shuffle_write_mb"] = (sum(s["shuffle_write_mb"] for s in spans), "MB")
    m["spark.spill_mb"] = (sum(s["spill_mb"] for s in spans), "MB")
    m["spark.gc_s"] = (sum(s["gc_s"] for s in spans), "s")
    m["spark.cpu_util"] = (sum(s["cpu_s"] for s in spans) / (traced["wall_s"] * n_cores), "ratio")
    queries = {s["name"][len("query."):][:3]: s["end_s"] - s["start_s"]
               for s in spans if s["name"].startswith("query.")}
    for q in CATALOG:
        m[f"query.{q}_s"] = (queries.get(q, 0.0), "s")
    # For HGN the untraced operation is the cold one, so the ratio also
    # holds the JIT's warm-up (see README.md).
    m["trace.overhead_frac"] = (traced["wall_s"] / untraced_wall - 1, "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--update-goldens", action="store_true")
    a = ap.parse_args()

    started = time.monotonic()
    root = Path.cwd()
    n_cores = cores()
    env = environment(root, n_cores)
    classes, compiled = build.build(root)
    work = root / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "record.json"
    # A run must end within 180 s; one that had to compile first, within 900 s.
    budget = 170 if compiled else 175 - (time.monotonic() - started)
    code = jvm(root, classes, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--work", str(work.relative_to(root)), "--data", DATA,
                               "--out", str(out.relative_to(root)), "--setups", str(SETUPS)],
               work, n_cores, budget)
    if not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code} and wrote no record")
    rec = json.loads(out.read_text())
    rec["env"] = env
    problems = []

    goldens_path = HERE / "goldens.json"
    goldens = json.loads(goldens_path.read_text())
    catalog = a.workload == "catalog_graph"
    if catalog:
        attempted = sum(len(op["query_s"]) for op in rec["ops"])
        failed = sum(len(op["errors"]) for op in rec["ops"])
        problems += [f"{q}: {e}" for op in rec["ops"] for q, e in op["errors"].items()]
        mismatches = oracle.run(root, root / DATA, work / "verify")
        problems += mismatches
        # The oracle compares the last pass's outputs.
        failed += len({m.split(":")[0] for m in mismatches} - set(rec["ops"][-1]["errors"]))
    else:
        key = str(a.seed) if a.workload == "hgn_planted" else "fixed"
        golden = goldens.get(a.workload, {}).get(key)
        first = rec["ops"][0]
        # Without a golden every operation must repeat the first one, and
        # the planted blocks must be recovered to the NMI floor.
        expect = golden or first
        if not golden and a.workload == "hgn_planted" and \
                rec["quality"]["community_nmi"] < NMI_FLOOR:
            first["failures"].append(
                f"community_nmi {rec['quality']['community_nmi']} < {NMI_FLOOR}")
        attempted = len(rec["ops"])
        failed = 0
        for op in rec["ops"]:
            bad = list(op["failures"])
            if (op["deleted"], op["community_hash"]) != (expect["deleted"], expect["community_hash"]):
                bad.append(f"deleted {op['deleted']} and communities {op['community_hash']} "
                           f"differ from {expect['deleted']} and {expect['community_hash']}")
            problems += bad
            failed += 1 if bad else 0
        if a.update_goldens:
            goldens.setdefault(a.workload, {})[key] = {
                "deleted": first["deleted"], "community_hash": first["community_hash"]}
            goldens_path.write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")
    if code != 0:
        problems.append(f"benchmark JVM exited with {code}")
    if a.trace:
        traced = rec["traced"]
        problems += traced.get("failures", [])
        if not catalog and not traced["agrees"]:
            problems.append("traced run disagrees with Hgn.run on the deleted "
                            "sequence or the communities")

    # An HGN run is measured cold, in a fresh JVM, as a user's `Hgn -c`
    # runs; later operations (when --seconds leaves room) are only checked.
    # The catalog's passes after its warm-up pass are measured.
    walls = [op["wall_s"] for op in rec["ops"]]
    measured = [op["wall_s"] for op in rec["ops"] if not op["warmup"]] if catalog else walls[:1]
    e2e = {
        "setup_s": (median(rec["setup_samples_s"]), "s"),
        "wall_s": (median(measured), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    every = dict(e2e)
    every["catalog_wall_s" if catalog else "hgn_wall_s"] = e2e["wall_s"]
    every["failed_ops_frac"] = (failed / attempted, "ratio")
    for k, v in rec.get("quality", {}).items():
        every[k] = (v, "count" if k in ("communities", "vertices_covered") else "ratio")
    chosen = layer_metrics(rec, n_cores, median(measured)) if a.trace else e2e
    every.update(chosen)

    def fmt(ms):
        return {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}

    rec["samples"] = {"wall_s": measured, "all_ops_wall_s": walls,
                      "setup_s": rec["setup_samples_s"]}
    rec["metrics"] = fmt(every)
    rec["problems"] = problems
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": fmt(chosen)}
    results = root / ".bench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(dict(rec, result=result), indent=1) + "\n")
    for p in problems:
        sys.stderr.write(f"[perfbench] check failed: {p}\n")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "env": env,
                      "samples": rec["samples"], "metrics": rec["metrics"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
