#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload topic_report|face_mix --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark's JVM
program in `perfbench/` from source (once per source state, into `.bench_build/`),
writes seeded input tables, runs one workload in a fresh JVM, checks the
outputs, and prints one JSON object as its last line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones, and
the whole trace is written to `.bench_build/traces/`.

Workloads (see perfbench/README.md):
  topic_report  one EP2 report (`FullAnalysisMain.run`, k = 10) in a fresh JVM
  face_mix      a cold pass over MIX in a fresh JVM, then warm passes
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# One face per family: relational, dedup, ANN, streaming, c-TF-IDF and
# retrieval (RAG top-k). The relational and streaming faces bypass the
# registries; the others build them cold and read them warm. search_bm25 and
# search_bm25_real go back in once their tied BM25 ranks are ordered: on some
# seeds those differ from the DuckDB oracle, so a run could not be both
# complete and correct.
MIX = [
    "rel_pricing_summary", "dedup_minhash_lsh", "sim_ivf_ann", "stream_hourly",
    "topic_ctfidf", "rag_chunk_topk",
]
# Warm passes in the face_mix unit of work; passes beyond these (run only
# until --seconds have passed) add latency samples, not unit time.
WARM_PASSES = 4
TOPICS = 10
TOP_N = 10  # keywords per topic in the report's topics sheet
# Input sizes: documents, embeddings, and the scale factor of the star
# schema and events tables (1.0 = 6M lineitem rows).
DATA = {"topic_report": (1000, 1000, 0.001), "face_mix": (500, 500, 0.01)}
REPORT_SHEETS = [
    "bertopic/diversity", "bertopic/examples", "bertopic/interpretation",
    "bertopic/keywords", "bertopic/keywords_dedup", "bertopic/similarity",
    "bertopic/sizes", "bertopic/summary", "bertopic/index.html",
    "bertopic/topic_similarity.svg", "lda/coherence", "lda/diversity",
    "lda/dominant", "lda/interpretation", "lda/overlap", "lda/summary",
    "lda/topics", "lda/topics_formatted", "lda/dominant_topics.svg",
    "lda/index.html", "lda/lda_coherence_curve.svg", "lda/topic_overlap.svg",
    "lda/word_frequency.svg",
]
HEAP = "3g"
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 175  # every run ends within this, build excluded


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout the whole group is
    killed and waited for. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    return p.returncode, out


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and perfbench.Main with sbt; returns the runtime
    classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        sys.exit("perfbench: no engine sources (build.sbt, src/main) next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt not found")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           "-J-XX:-UsePerfData",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building the engine and perfbench.Main (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_proc(cmd, 850, cwd=HERE, env=env)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.exit(f"perfbench: build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def inputs(workload, seed):
    """Seeded input tables, generated once per (workload sizes, seed)."""
    docs, embeds, sf = DATA[workload]
    d = os.path.join(BUILD, "data", f"d{docs}-e{embeds}-sf{sf}-seed{seed}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        sys.path.insert(0, HERE)
        import gen_data
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, seed, docs, embeds, sf)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def jvm(cp, work, args, timeout):
    """One fresh perfbench.Main JVM with a private java.io.tmpdir under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *JVM_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dsun.jnu.encoding=UTF-8", "-Dfile.encoding=UTF-8",
            "-Dlog4j2.level=error", "-cp", cp, "perfbench.Main", "--work", work]
           + [str(a) for a in args])
    env = dict(os.environ, LC_ALL="C.UTF-8")
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as err:
        code, out = run_proc(cmd, timeout, env=env, stderr=err)
    sys.stderr.write(out)
    raw = os.path.join(work, "raw.json")
    if code != 0 or not os.path.isfile(raw):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        sys.exit(f"perfbench: benchmark JVM failed (exit {code})")
    with open(raw) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-12 * max(1.0, abs(af), abs(bf))
    return a == b


def oracle_failures(data, check_dir, faces):
    """The DuckDB oracle compare of tools/check_oracle.py: same column names,
    row count and sorted values (1e-12 relative on floats). Returns
    {face: reason} for every face that does not match."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for face in faces:
        if face not in oracles:
            bad[face] = "no output or no oracle"
            continue
        try:
            got = _canon(pd.read_parquet(os.path.join(check_dir, face)))
            exp = _canon(con.execute(oracles[face]).fetchdf())
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            bad[face] = f"error: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            bad[face] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[face] = f"rows {len(got)} != {len(exp)}"
        else:
            for c in got.columns:
                if not all(_equal(x, y) for x, y in zip(got[c].tolist(), exp[c].tolist())):
                    bad[face] = f"values differ in {c}"
                    break
    return bad


def report_failures(unit, docs):
    """Checks one EP2 report: both halves succeeded, every sheet and figure
    exists, the LDA summary counts every document, and the topics sheet has
    TOPICS x TOP_N rows. Returns the number of failed halves (0..2)."""
    sheets = unit["sheets"]
    ok = list(unit["halves_ok"])
    for i, half in enumerate(("bertopic", "lda")):
        missing = [s for s in REPORT_SHEETS if s.startswith(half + "/")
                   and not sheets.get(s, {}).get("complete", s in sheets)]
        if missing:
            log(f"report {half}: missing {missing}")
            ok[i] = False
    summary = sheets.get("lda/summary", {})
    if summary.get("n_docs") != docs:
        log(f"report lda: summary n_docs {summary.get('n_docs')} != {docs}")
        ok[1] = False
    if sheets.get("lda/topics", {}).get("rows") != TOPICS * TOP_N:
        log(f"report lda: topics rows {sheets.get('lda/topics')} != {TOPICS * TOP_N}")
        ok[1] = False
    return ok.count(False)


# --------------------------------------------------------------- metrics

def tail(samples):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, sample count); the maximum when there are fewer
    than 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    i = n - 11 if n >= 11 else n - 1
    return xs[i], 100.0 * (i + 1) / n, n


def face_latencies(outcomes, failed_faces):
    """Latency samples of faces that neither threw nor failed their check."""
    return [o["seconds"] for o in outcomes
            if o["seconds"] is not None and o["face"] not in failed_faces]


def end_to_end(workload, raw, failed_faces):
    m = {"setup_s": raw["setup_s"], "retained_heap_mb": raw["retained_heap_mb"]}
    if workload == "topic_report":
        u = raw["units"][0]
        m.update(wall_s=u["wall_s"], cold_s=u["wall_s"], cpu_s=u["cpu_s"])
        return m, None
    # The session (cold pass plus WARM_PASSES warm passes) is the unit: a
    # 3-4 s warm pass alone swung by a quarter between runs on the same host,
    # with the machine's load and with how much JIT compiler work landed
    # inside it.
    session = [raw["cold_unit"]] + raw["units"][:WARM_PASSES]
    m.update(wall_s=sum(u["wall_s"] for u in session),
             cold_s=raw["cold_unit"]["wall_s"],
             cpu_s=sum(u["cpu_s"] for u in session))
    per_face = {}
    for o in raw["outcomes"]:
        if o["seconds"] is not None and o["face"] not in failed_faces:
            per_face.setdefault(o["face"], []).append(o["seconds"])
    medians = [statistics.median(v) for v in per_face.values()]
    warm = face_latencies(raw["outcomes"], failed_faces)
    value, pct, n = tail(warm)
    return m, {"warm_pass_s": statistics.median(u["wall_s"] for u in raw["units"]),
               "warm_face_geomean_s": statistics.geometric_mean(medians) if medians else None,
               "warm_samples": n, "warm_p50_s": statistics.median(warm) if warm else None,
               "warm_tail_s": value, "warm_tail_percentile": round(pct, 2)}


SPARK_KEYS = ["jobs", "stages", "tasks", "plan_s", "core_busy_ratio",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "scan_mb",
              "result_mb", "task_cpu_s", "gc_s"]
PIPELINE_KEYS = ["cluster_half", "lda_report", "grid_search", "charts"]
KERNELS = ["tokens", "token_hashes", "minhash", "simhash", "quality", "bucket_counts"]


def per_layer(workload, raw, cpus):
    """Per-layer metrics of a traced run. Layers a workload leaves idle
    report 0."""
    m = {}
    phases = raw["trace"]["phases"]
    for phase in ("cold", "warm"):
        p = phases.get(phase, {})
        for k in SPARK_KEYS:
            if k == "core_busy_ratio":
                wall = p.get("wall_s", 0.0)
                v = p.get("task_run_s", 0.0) / (cpus * wall) if wall else 0.0
            else:
                v = p.get(k, 0.0)
            m[f"spark.{phase}.{k}"] = v
    regs = raw["registries"]
    misses = sum(r["misses"] for r in regs)
    evictions = sum(r["evictions"] for r in regs)
    if workload == "face_mix":
        before = {r["name"]: r for r in raw["registries_after_cold"]}
        cold_misses = sum(r["misses"] for r in before.values())
        hits = sum(r["hits"] - before.get(r["name"], {}).get("hits", 0) for r in regs)
        warm_misses = misses - cold_misses
        cold = {o["face"]: o["seconds"] for o in raw["cold"] if o["seconds"] is not None}
        warm = {}
        for o in raw["outcomes"]:
            if o["seconds"] is not None:
                warm.setdefault(o["face"], []).append(o["seconds"])
        warm_med = {f: statistics.median(v) for f, v in warm.items()}
        m.update({
            "caching.misses": cold_misses,
            "caching.hits": hits,
            "caching.hit_ratio": hits / (hits + warm_misses) if hits + warm_misses else 0.0,
            "caching.evictions": evictions,
            "caching.cached_mb": raw["cached_mb_after_cold"],
            "caching.build_s_est": sum(max(cold[f] - warm_med[f], 0.0)
                                       for f in cold if f in warm_med),
        })
        for f in MIX:
            m[f"faces.{f}.cold_s"] = cold.get(f, 0.0)
            m[f"faces.{f}.warm_s"] = warm_med.get(f, 0.0)
        traced = [u["wall_s"] for u in raw["units"] if u["traced"]]
        plain = [u["wall_s"] for u in raw["units"] if not u["traced"]]
        m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        for k in PIPELINE_KEYS:
            m[f"pipeline.{k}_s"] = 0.0
        m["pipeline.report_mb"] = 0.0
    else:
        hits = sum(r["hits"] for r in regs)
        m.update({"caching.misses": misses, "caching.hits": hits,
                  "caching.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
                  "caching.evictions": evictions, "caching.cached_mb": 0.0,
                  "caching.build_s_est": 0.0})
        for f in MIX:
            m[f"faces.{f}.cold_s"] = 0.0
            m[f"faces.{f}.warm_s"] = 0.0
        plain, traced = raw["overhead_units"]
        m["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
        for k in PIPELINE_KEYS:
            m[f"pipeline.{k}_s"] = raw["pipeline"][k]
        m["pipeline.report_mb"] = raw["units"][0]["report_mb"]
    for k in KERNELS:
        m[f"functions.{k}_ns_per_byte"] = raw["kernels"][f"{k}_ns_per_byte"]
    return m


UNITS = {"setup_s": "s", "wall_s": "s", "cold_s": "s", "cpu_s": "s",
         "retained_heap_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ns_per_byte"):
        return "ns/B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith("_s_est"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t_ready = time.monotonic()
    data = inputs(a.workload, a.seed)
    cpus = len(os.sched_getaffinity(0))  # nproc
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--data", data, "--seconds", a.seconds,
                "--seed", a.seed, "--trace", a.trace, "--cpus", cpus,
                "--mix", ",".join(MIX), "--topics", TOPICS,
                "--warm-passes", WARM_PASSES]
        budget = RUN_LIMIT_S - (time.monotonic() - t_ready) - 20
        raw = jvm(cp, work, args, budget)

        if a.workload == "topic_report":
            units = raw["units"] + raw.get("overhead_units", [])
            attempted = 2 * len(units)
            failed = sum(report_failures(u, DATA["topic_report"][0]) for u in units)
            failed_faces = set()
        else:
            bad = oracle_failures(data, raw["check_dir"], MIX)
            for face, why in sorted(bad.items()):
                log(f"check failed: {face}: {why}")
            threw = {o["face"] for o in raw["cold"] + raw["outcomes"] if o["error"]}
            for o in raw["cold"] + raw["outcomes"]:
                if o["error"]:
                    log(f"face threw: {o['face']} (pass {o['pass']}): {o['error']}")
            failed_faces = threw | set(bad)
            for face in MIX:
                warm = [o["seconds"] for o in raw["outcomes"]
                        if o["face"] == face and o["seconds"] is not None]
                cold = [o["seconds"] for o in raw["cold"] if o["face"] == face]
                log(f"{face:24s} cold {cold[0] or 0:7.3f} s  warm median "
                    f"{statistics.median(warm) if warm else 0:7.3f} s")
            runs = raw["cold"] + raw["outcomes"]
            attempted = len(runs)
            failed = sum(1 for o in runs if o["face"] in failed_faces)

        if a.trace:
            metrics = per_layer(a.workload, raw, cpus)
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump(raw, f, indent=1)
            log(f"trace written to {path}")
            extra = None
        else:
            metrics, extra = end_to_end(a.workload, raw, failed_faces) \
                if failed < attempted else ({}, None)
        log(f"failed_ratio {failed / attempted:.4f} ({failed}/{attempted}); "
            f"peak_rss_mb {raw['peak_rss_mb']:.1f}; host {raw['fingerprint']}"
            + (f"; {extra}" if extra else ""))
        for k, v in sorted(metrics.items()):
            print(f"{k:40s} {v:14.6f} {unit_of(k)}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
