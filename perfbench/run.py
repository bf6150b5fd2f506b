"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload collection_load --seed 1 --seconds 16 --trace 0

Builds the project and the harness from source (`build.py`), renders the
seeded input (`render.py`), runs the workload in one JVM at local[nproc]
(`harness/Harness.scala`), checks the outputs, and prints one JSON result as
the last stdout line. `--trace 0` reports the end-to-end metrics of
BENCHMARK.json, `--trace 1` its per-layer metrics. A stamp line before the
result records what was measured and how. See README.md.
"""

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import build  # noqa: E402
import render  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("collection_load", "stream_append")
# collection_load loads LOAD_FILES files (500 releases each) per collection,
# after one cold collection of the same files; stream_append lands
# FILES_PER_DRAIN files per drain from a pool of STREAM_FILES
LOAD_FILES = 20
STREAM_FILES = 40
FILES_PER_DRAIN = 5
# the declared queries the traced collection_load run measures layer by
# layer, on the sf0.01 tables (the scale of the DuckDB parity tier): at sf0.1
# their digest and traced passes alone take 85 s, too much beside a 180 s run
QUERY_SCALE = "0.01"
QUERIES = (
    "q_cluster_keep_best", "q_dedup_clusters", "q_retrieval_eval_hybrid",
    "q_ngram_jaccard", "q_knn_join_ivfadc", "q_knn_join_sq8",
    "q_compile_ocds", "q_collection_notes", "q_json_extract_agg",
    "q_agg_sum_groupby",
)
RUN_LIMIT_S = 172
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sf_dir(scale):
    """The test-data directory of `scale` that TESTDATA.md documents; for
    sf0.1, $SPARK_GRAFT_SF_DIR (the project's own Bench override) wins."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") if scale == "0.1" else None
    doc = os.path.join(ROOT, "TESTDATA.md")
    if not d and os.path.exists(doc):
        m = re.search(r"\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`", open(doc).read())
        d = m.group(1) if m else None
    if not d or not os.path.exists(os.path.join(d, "events.parquet")):
        fail(f"no sf{scale} test data (see TESTDATA.md)")
    return d.rstrip("/")


def source_stamp(digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"unknown (not a git checkout; sources {digest})"


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def run_harness(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Harness", "--work", work, "--out", out]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness overran its time limit; log tail:\n{tail(log_path)}")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited {p.returncode}; log tail:\n{tail(log_path)}")
    with open(out) as f:
        return json.load(f)


class Checks:
    """Correctness checks; each one counts as an attempted operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = []

    def expect(self, name, got, want):
        self.attempted += 1
        if got != want:
            self.failed.append(f"{name}: got {got}, want {want}")


def check_outputs(checks, label, observed, pairs_list, events):
    """Counts and compiled digests against what the rendered input implies."""
    exp = render.expected_counts(events)
    want = benchlib.digest(render.compiled_hashes(events).items())
    for i, o in enumerate(observed):
        for key in ("items", "compiled", "notes", "check_rows", "check_failures"):
            checks.expect(f"{label}[{i}].{key}", o.get(key), exp[key])
        checks.expect(f"{label}[{i}].compile_check_failures",
                      o.get("compile_check_failures"), exp["check_failures"])
        if "stored_notes" in o:
            checks.expect(f"{label}[{i}].stored_notes", o["stored_notes"], exp["notes"])
    digests = [benchlib.digest(p) for p in pairs_list]
    for i, d in enumerate(digests):
        checks.expect(f"{label}[{i}] compiled digest", d, want)
    return exp, digests[0] if digests else None


def split(xs, flags):
    """(traced, untraced) samples of an alternating traced run."""
    return [x for x, f in zip(xs, flags) if f], [x for x, f in zip(xs, flags) if not f]


def span_stats(res, cores):
    """Per span name: median of each counter over its traced instances."""
    by = {}
    for r in res.get("spans", []):
        by.setdefault(r["span"], []).append(r)
    out = {}
    for name, rows in by.items():
        st = {c: benchlib.median([r[c] for r in rows])
              for c in ("wall_s", "task_s", "jobs", "shuffle_write_mb")}
        st["core_util"] = benchlib.median(
            [r["task_s"] / (r["wall_s"] * cores) for r in rows if r["wall_s"] > 0] or [0.0])
        st["sum"] = {c: sum(r[c] for r in rows) for c in ("wall_s", "task_s", "jobs")}
        out[name] = st
    return out


def layer_metrics(workload, res, cores, walls, flags, n_items):
    """The per-layer values this run measured, by metric name."""
    m = {}
    spans = span_stats(res, cores)
    for name, st in spans.items():
        for c in ("wall_s", "task_s", "jobs", "shuffle_write_mb", "core_util"):
            m[f"{name}.{c}"] = st[c]
    totals = res.get("run_totals", {})
    m["spark.shuffle_write_mb"] = totals.get("shuffle_write_mb", 0.0)
    m["spark.spill_mb"] = totals.get("spill_mb", 0.0)
    m["ingest.lake_files"] = res["lake_files"]
    m["ingest.lake_mb"] = res["lake_bytes"] / 1e6
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    on, off = split(walls, flags)
    if on and off:
        m["trace.overhead_ratio"] = benchlib.median(on) / benchlib.median(off)
    if workload == "collection_load":
        n = res.get("isolated_items") or n_items
        for span, key in (("ocds.upgrade_items", "us_per_release"),
                          ("ocds.compile", "us_per_release"),
                          ("check.check_items", "us_per_item")):
            if span in spans:
                m[f"{span}.{key}"] = spans[span]["wall_s"] / n * 1e6
        for q, t in res.get("query_s", {}).items():
            m[f"query.{q}.wall_s"] = t
        if res.get("query_s"):
            m["query.total_s"] = sum(res["query_s"].values())
            m["query.geomean_s"] = benchlib.geomean(list(res["query_s"].values()))
        for name, st in spans.items():
            fam, _, phase = name.rpartition(".")
            if phase in ("build", "plan", "exec"):
                m[f"{fam}.{phase}_s"] = st["sum"]["wall_s"]
                m[f"{fam}.task_s"] = m.get(f"{fam}.task_s", 0.0) + st["sum"]["task_s"]
                if phase == "build":
                    m[f"{fam}.eager_jobs"] = st["sum"]["jobs"]
    else:
        traced = [d for d in res["drains"] if d["traced"]]
        if traced:
            m["streaming.add_batch_ms"] = benchlib.median([d["add_batch_ms"] for d in traced])
            m["streaming.trigger_ms"] = benchlib.median([d["trigger_ms"] for d in traced])
            m["streaming.start_ms"] = benchlib.median(
                [d["wall_s"] * 1000 - d["trigger_ms"] for d in traced])
        reads = res["reads"]
        for kind in ("tree", "notes"):
            xs = [r["latency_ms"] for r in reads if r["kind"] == kind]
            if xs:
                m[f"api.{kind}_p50_ms"] = benchlib.median(xs)
        notes = [r["latency_ms"] for r in reads if r["kind"] == "notes"]
        tailp = benchlib.tail_percentile(notes) if notes else None
        if tailp:
            m["api.notes_tail_pct"], m["api.notes_tail_ms"] = tailp[0], tailp[1]
        m["api.notes_samples"] = len(notes)
        if reads:
            m["api.reader_late_ms"] = benchlib.median([r["late_ms"] for r in reads])
        if res.get("metadata_ms"):
            m["api.metadata_p50_ms"] = benchlib.median(res["metadata_ms"])
        m["api.jobs"] = res.get("api_jobs", {}).get("jobs", 0)
        m["api.task_s"] = res.get("api_jobs", {}).get("task_s", 0.0)
        m["control.plane_kb"] = res.get("plane_kb", 0.0)
        m["control.journal_lines"] = res.get("journal_lines", 0)
    return m


def main():
    ap = argparse.ArgumentParser(description="graft repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    t_start = time.time()

    declared = declared_metrics(a.trace)
    try:
        classpath, src_digest = build.build()
    except build.BuildError as e:
        fail(str(e))
    t_built = time.time()
    # a run that had to compile may take longer; any other must end within
    # RUN_LIMIT_S of its start
    deadline = (t_built if t_built - t_start > 5 else t_start) + RUN_LIMIT_S
    cores = os.cpu_count() or 1
    sf = sf_dir("0.1")
    work = os.path.join(build.BUILD_DIR, "runs",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        events = render.load_events(os.path.join(sf, "events.parquet"))
        load = a.workload == "collection_load"
        n_files = LOAD_FILES if load else STREAM_FILES
        input_dir = os.path.join(work, "input")
        times = []
        for _ in range(3):  # set-up is repeated; its median is reported
            shutil.rmtree(input_dir, ignore_errors=True)
            t0 = time.perf_counter()
            files = render.render(events, a.seed, n_files, input_dir)
            times.append(time.perf_counter() - t0)
        render_s = benchlib.median(times)
        harness_args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                        "cores": cores, "seed": a.seed, "input": input_dir}
        if load:
            if a.trace:
                harness_args["queries"] = ",".join(QUERIES)
                harness_args["sf"] = sf_dir(QUERY_SCALE)
        else:
            harness_args["files"] = ",".join(files)
        res = run_harness(classpath, harness_args, work, deadline)

        checks = Checks()
        permuted = render.permuted(events, a.seed)
        if load:
            used = permuted[:LOAD_FILES * render.RELEASES_PER_FILE]
            exp, digest = check_outputs(checks, "collection", res["observed"],
                                        res["compiled_pairs"], used)
            walls, flags = res["iteration_s"], res["iteration_traced"]
            per_op = exp["items"]
            if a.trace:
                with open(os.path.join(HERE, "query_digests.json")) as f:
                    pinned = json.load(f)["digests"]
                for q in QUERIES:
                    checks.expect(f"{q} output digest", res["query_digests"].get(q),
                                  pinned.get(q))
        else:
            used = permuted[:len(res["landed_files"]) * render.RELEASES_PER_FILE]
            exp, digest = check_outputs(checks, "stream", res["observed"],
                                        [res.get("compiled_pairs", [])], used)
            walls = [d["wall_s"] for d in res["drains"]]
            flags = [d["traced"] for d in res["drains"]]
            per_op = FILES_PER_DRAIN * render.RELEASES_PER_FILE
        untraced = split(walls, flags)[1] or walls
        if a.trace:
            values = layer_metrics(a.workload, res, cores, walls, flags, per_op)
        else:
            values = {
                "setup_s": render_s + res["session_s"] + res["warmup_s"],
                "op_p50_s": benchlib.median(untraced),
                "releases_per_s": per_op * len(untraced) / sum(untraced),
                "lake_bytes_per_input_byte": res["lake_bytes"] / res["input_bytes"],
            }
        # a layer this workload does not run reports 0
        metrics = {k: benchlib.metric(values.get(k, 0.0), u) for k, u in declared.items()}

        ops_attempted = sum(o["attempted"] for o in res["ops"].values())
        ops_failed = sum(o["failed"] for o in res["ops"].values())
        attempted = ops_attempted + checks.attempted
        failed = ops_failed + len(checks.failed)
        findings = checks.failed + res["errors"]
        for f in findings:
            print(f"[perfbench] FINDING {f}", file=sys.stderr)
        stamp = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "source": source_stamp(src_digest), "nproc": cores, "master": f"local[{cores}]",
            "driver_heap": HEAP, "samples": {"op": len(untraced), "all_ops": len(walls)},
            "error_rate": failed / attempted, "findings": findings,
            "compiled_digest": digest,
            "setup": {"render_s": render_s, "session_s": res["session_s"],
                      "warmup_s": res["warmup_s"], "build_s": t_built - t_start},
            "input": {"files": len(used) // render.RELEASES_PER_FILE,
                      "input_bytes": res["input_bytes"], "expected": exp,
                      "shares": render.shares(used)},
        }
        if not load:
            notes = [r for r in res["reads"] if r["kind"] == "notes"]
            stamp["samples"]["api_notes"] = len(notes)
        print(json.dumps({"stamp": stamp}))
        os.makedirs(os.path.join(build.BUILD_DIR, "results"), exist_ok=True)
        with open(os.path.join(build.BUILD_DIR, "results",
                               f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump({"stamp": stamp, "metrics": metrics, "raw": res}, f)
        print(benchlib.result_line(not findings, attempted, failed, metrics, declared))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
