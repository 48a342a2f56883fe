#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload <sas_etl|ingest_probe> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/harness); later runs start one JVM directly on
the compiled classes. Each run gets fresh state: its own layout root, its own
copy of the input tables under a run-unique name (so the program's fixture
directories, /tmp/graft_fixture_<name>_<data dir name>, are new too), and
all of it is removed when the run ends. Outputs are checked against DuckDB
references (refs.py) or against properties the method must have (check.py).
The last line of standard output is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics, or per-layer metrics with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True  # leave nothing in the checkout
sys.path.insert(0, HERE)
import check  # noqa: E402
from refs import References  # noqa: E402


def die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_data_dir() -> str:
    """The sf0.1 test tables the repository's tests and graft.Bench read."""
    d = os.environ.get("PERFBENCH_SF_DIR",
                       os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        die(f"no input tables in {d} (set PERFBENCH_SF_DIR)")
    return d


def _tree_files(top: str):
    for root, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
        for f in sorted(files):
            yield os.path.join(root, f)


def source_signature() -> str:
    files = [os.path.join(ROOT, "build.sbt")]
    files += sorted(glob.glob(os.path.join(ROOT, "project", "*.sbt")))
    files += sorted(glob.glob(os.path.join(ROOT, "project", "build.properties")))
    files += list(_tree_files(os.path.join(ROOT, "src", "main")))
    files += list(_tree_files(HARNESS))
    files += sorted(glob.glob(os.path.join(HARNESS, "project", "build.properties")))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build() -> str:
    """Compile the engine and the harness if their sources changed; return
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the graft sources are not beside perfbench/; run from a full checkout")
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    sig = source_signature()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == sig:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dperfbench.classpath={cp_file}", "writeClasspath"],
            cwd=HARNESS, stdin=subprocess.DEVNULL, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("sbt build timed out")
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"sbt build failed (log: {log})")
    with open(stamp, "w") as f:
        f.write(sig)
    with open(cp_file) as g:
        return g.read().strip()


def java_cmd(cp: str, heap: str = "3g"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{heap}", "-XX:-UsePerfData", "-cp", cp]


def oracle_sql(cp: str) -> dict:
    os.makedirs(STATE, exist_ok=True)
    out = os.path.join(STATE, f"oracles-{os.getpid()}.json")
    try:
        subprocess.run([*java_cmd(cp, "1g"), "graft.perfbench.Main", "oracles", "--out", out],
                       check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=60)
        with open(out) as f:
            return json.load(f)
    finally:
        if os.path.exists(out):
            os.remove(out)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def fixture_dirs(token: str):
    """The program writes fixtures to /tmp/graft_fixture_<name>_<data dir
    name>; each run's data dir name carries its token."""
    return glob.glob(f"/tmp/graft_fixture_*_pb{token}_*")


def remove_run(token: str):
    for d in fixture_dirs(token):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(os.path.join(STATE, "runs", token), ignore_errors=True)


def remove_stale_runs():
    """Remove what a killed earlier run left behind."""
    for d in glob.glob(os.path.join(STATE, "runs", "*x*")):
        token = os.path.basename(d)
        try:
            os.kill(int(token.split("x")[0]), 0)
        except ProcessLookupError:
            remove_run(token)
        except (PermissionError, ValueError):
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def rounds(timed):
    by_round = {}
    for e in timed:
        by_round.setdefault(e["round"], []).append(e)
    return list(by_round.values())


class SasEtl:
    """The 12 BASELINE shapes plus registry rows; one fresh-session pass."""
    known_faults = {}
    # Registry rows run after the 12 shapes, which already cover windows
    # (window_rank, sessionize), reshape (pivot_transpose), distinct
    # (dedup_exact) and string scalars (text_tokens).
    rows = [
        "scan_parquet",
        # joins over their resident layouts: bucketed co-located, range-banded, as-of
        "join_bucketed_colocated", "join_range_banded", "join_asof_colocated",
        "agg_rollup",
        "etl_scd2_load", "etl_compare_datasets",
        "stream_tumbling_counts",
    ]

    @classmethod
    def reference_sql(cls, oracles):
        from refs import SHAPES, SHAPE_ROWS
        return {n: oracles[n] for n in cls.rows + list(SHAPE_ROWS.values())}, dict(SHAPES)

    @staticmethod
    def headline(timed, key):
        """The 12 BASELINE shapes, summed."""
        from refs import SHAPES, SHAPE_ROWS
        shapes = set(SHAPES) | set(SHAPE_ROWS)
        return median([sum(e[key] for e in es if e["op"] in shapes) for es in rounds(timed)])


class IngestProbe:
    """Probes, incremental ingest, appends and compaction on resident layouts."""
    known_faults = {"llm_corpus_prep_stages": check.QUALITY_FAULT}
    rows = []

    @staticmethod
    def reference_sql(oracles):
        return {"llm_corpus_prep_stages": oracles["llm_corpus_prep_stages"]}, {}

    @staticmethod
    def headline(timed, key):
        """One ingest batch: prep, append and join; median over batches."""
        batches = {}
        for e in timed:
            kind, _, k = e["op"].rpartition("_b")
            if kind in ("prep", "append", "join"):
                batches.setdefault((e["round"], k), []).append(e[key])
        return median([sum(v) for v in batches.values()])


WORKLOADS = {"sas_etl": SasEtl, "ingest_probe": IngestProbe}


LAYER_SUMS = [
    "operators.build_s", "operators.build_jobs", "catalyst.analysis_s",
    "catalyst.optimizer_s", "catalyst.planning_s", "catalyst.executions",
    "codegen.compile_s", "codegen.classes", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.job_wall_s", "exec.driver_s", "exec.task_run_s", "exec.task_cpu_s",
    "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "scan.input_bytes", "scan.files_read", "scan.files_total",
    "split.residual_s"]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def timings(wl, timed, key: str) -> dict:
    """Pass total, per-op median and the workload's headline, by wall_s or cpu_s."""
    return {
        "pass": median([sum(e[key] for e in es) for es in rounds(timed)]),
        "op_p50": median([e[key] for e in timed]),
        "headline": wl.headline(timed, key),
    }


def end_to_end(wl, res, timed, store_bytes: int) -> dict:
    """Times are CPU seconds of the benchmark JVM (all its threads): on a
    shared host its wall time swings with other guests' load far more."""
    cpu = timings(wl, timed, "cpu_s")
    return {
        "setup_s": res["setup_cpu_s"],
        "pass_cpu_s": cpu["pass"],
        "headline_cpu_s": cpu["headline"],
        "store_bytes": store_bytes,
    }


def per_layer(wl, res, timed, t_launch: float, layout_bytes: int) -> dict:
    m = {k: median([sum(e["layers"].get(k, 0.0) for e in es) for es in rounds(timed)])
         for k in LAYER_SUMS}
    m["wall.setup_s"] = res["first_timed_ms"] / 1e3 - t_launch
    m.update({f"wall.{k}_s": v for k, v in timings(wl, timed, "wall_s").items()})
    m["probe.p50_s"] = median([e["wall_s"] for e in timed if e["op"].startswith("probe")])
    steps = res["setup_steps"]
    m["layouts.ensure_s"] = sum(s["s"] for s in steps if s["layer"] == "layouts.ensure")
    m["fixtures.build_s"] = sum(s["s"] for s in steps if s["layer"] == "fixtures.build")
    m["layouts.append_s"] = median([e["wall_s"] for e in timed if e["op"].startswith("append")])
    m["layouts.compact_s"] = median([e["wall_s"] for e in timed if e["op"] == "compact"])
    cycles = res["info"].get("cycles", [])
    m["layouts.max_files_per_bucket"] = max(
        [c.get("max_files_per_bucket", 0) for c in cycles] or [0])
    m["layouts.bytes"] = layout_bytes
    m["jvm.peak_rss_bytes"] = res["peak_rss_bytes"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[a.workload]
    cp = ensure_build()
    src = source_data_dir()

    remove_stale_runs()
    token = f"{os.getpid()}x{time.time_ns() % 10**6}"
    run_dir = os.path.join(STATE, "runs", token)
    base = f"pb{token}_{os.path.basename(src)}"
    data_dir = os.path.join(run_dir, "data", base)
    refs = None
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        os.makedirs(data_dir)
        for t in glob.glob(os.path.join(src, "*.parquet")):
            shutil.copyfile(t, os.path.join(data_dir, os.path.basename(t)))
        if fixture_dirs(token):
            die(f"fixture directories for {base} already exist")
        result_path = os.path.join(run_dir, "result.json")
        spans = os.path.join(STATE, "trace", f"{a.workload}-seed{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cmd = [*java_cmd(cp), f"-Djava.io.tmpdir={run_dir}/tmp",
               "graft.perfbench.Main", "run", "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cpus", str(cpus()), "--data", data_dir, "--run-dir", run_dir,
               "--out", result_path, "--spans", spans, "--rows", ",".join(wl.rows)]
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as lf:
            t_launch = time.time()
            p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                 stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die("the benchmark JVM timed out", 3)
        if rc != 0 or not os.path.exists(result_path):
            with open(log) as f:
                sys.stderr.write("".join(l for l in f.readlines()[-40:]))
            die(f"the benchmark JVM failed (exit {rc})", 3)
        with open(result_path) as f:
            res = json.load(f)

        layout_bytes = dir_bytes(os.path.join(run_dir, "layouts"))
        store_bytes = layout_bytes + sum(dir_bytes(d) for d in fixture_dirs(token))
        timed = res["execs"]

        refs = References(STATE, data_dir, cpus(), os.path.join(run_dir, "duckdb_tmp"))
        verdict = check.check_run(a.workload, res, refs, wl.known_faults)
        for line in verdict.notes:
            print(line, file=sys.stderr)

        wall = timings(wl, timed, "wall_s")
        print(f"wall time: setup {res['first_timed_ms'] / 1e3 - t_launch:.2f} s, "
              f"pass {wall['pass']:.2f} s, op p50 {wall['op_p50']:.3f} s, "
              f"headline {wall['headline']:.2f} s", file=sys.stderr)
        metrics = per_layer(wl, res, timed, t_launch, layout_bytes) if a.trace \
            else end_to_end(wl, res, timed, store_bytes)
        out = {
            "correct": verdict.correct,
            "attempted": len(timed),
            "failed": verdict.failed,
            "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
        }
    finally:
        if refs is not None:
            refs.close()
        remove_run(token)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
