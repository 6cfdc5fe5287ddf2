#!/usr/bin/env python3
"""Lane benchmark: runs one workload of `graft.SparkEntry.queries` lanes
in a single Spark JVM and prints its metrics.

    python3 lanebench/run.py --workload asset_index --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and this
harness with sbt (see build.sbt here); later runs reuse the build while
the sources are unchanged. Every run first checks each lane's result
against its DuckDB oracle and each codec round trip, then measures.
The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). `setup_s` is the median over SETUP_SAMPLES cold JVMs: the
measuring JVM and SETUP_SAMPLES - 1 set-up-only JVMs started before and
after it; traced runs, which do not report it, start no set-up-only JVMs.
The full record of the run (every lane visit, provenance,
per-lane spread, spans) is written under lanebench/work/history/.
Exit status: 0 when every lane ran and every output matched, 1 when a
lane failed or an output mismatched, 2 when the run could not start.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = BENCH.parent
WORK = BENCH / "work"
DATA = BENCH / "data" / "sf0.1"
ENGINE_SRC = ROOT / "src" / "main"
CPUS = len(os.sched_getaffinity(0))
# The driver heap the root build gives graft.Bench and graft.Verify.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# Cold JVMs whose set-up time each run measures; setup_s is their median.
SETUP_SAMPLES = 3
JVM_BUDGET_S = 160.0
BUILD_TIMEOUT_S = 850.0
# Passes scheduled per run; the JVM stops at the first pass boundary
# after --seconds.
MAX_PASSES = 64
# Codec corpus size and microbench repetitions (traced runs).
CORPUS_BYTES = 1 << 18
MICRO_REPS = 3
# Lanes run concurrently in the (untimed) correctness pass.
CHECK_THREADS = CPUS

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lanebench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout
    kills the whole group, so no process it started outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def source_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ENGINE_SRC, BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Classpath of the built harness, and its class-data-sharing archive.

    When the sources changed, sbt compiles the engine and this harness.
    Then one set-up-only JVM lists the classes that set-up loads, and the
    JDK and library classes among them are dumped into a static archive.
    The engine's and this harness's classes stay out of it: runs append
    their classes directory to the archived classpath, so they load from
    class files in every run, as they do for graft.Bench."""
    cp_file, stamp_file, jsa = WORK / "classpath.txt", WORK / "stamp.txt", WORK / "classes.jsa"
    if all(f.exists() for f in (cp_file, stamp_file, jsa)) and stamp_file.read_text() == stamp:
        return cp_file.read_text(), jsa
    WORK.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        code, out, err = run_child(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(), text=True,
                                   stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("sbt build failed")
    entries = lines[-1].strip().split(os.pathsep)
    classes = next(e for e in entries if e.endswith("scala-2.13/classes"))
    lib_cp = os.pathsep.join(e for e in entries if e != classes)
    classpath = lib_cp + os.pathsep + classes
    own = {f.relative_to(classes).with_suffix("").as_posix() for f in Path(classes).rglob("*.class")}

    jsa.unlink(missing_ok=True)
    dump_dir = WORK / "runs" / "class-list"
    shutil.rmtree(dump_dir, ignore_errors=True)
    listed = dump_dir / "loaded.lst"
    job = {"data": str(DATA), "cpus": CPUS, "seconds": 0, "trace": False, "check_threads": 1,
           "warmup": workloads.WARMUP_LANE, "check_lanes": [], "passes": [[]], "corpus": None,
           "micro_reps": 1, "setup_only": True}
    deadline = time.time() + BUILD_TIMEOUT_S
    run_jvm(classpath, job, dump_dir, deadline, [f"-XX:DumpLoadedClassList={listed}"])
    keep = []
    for line in listed.read_text().splitlines():
        tok = line.split()
        name = tok[1] if tok and tok[0] == "@lambda-proxy" and len(tok) > 1 else (tok[0] if tok else "")
        if name not in own:
            keep.append(line)
    (WORK / "classes.lst").write_text("\n".join(keep) + "\n")
    cmd = ["java", "-Xshare:dump", f"-XX:SharedClassListFile={WORK / 'classes.lst'}",
           f"-XX:SharedArchiveFile={jsa}", "-cp", lib_cp]
    try:
        code, out, _ = run_child(cmd, max(10.0, deadline - time.time()), stdout=subprocess.PIPE,
                                 stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("the class-data-sharing dump timed out")
    shutil.rmtree(dump_dir, ignore_errors=True)
    if code != 0 or not jsa.exists():
        sys.stderr.write(out[-4000:])
        fail("the class-data-sharing archive was not written")
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath, jsa


def check_data():
    sums = {}
    for line in (BENCH / "data" / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        sums[name] = digest
    for name, digest in sums.items():
        p = DATA / name
        if not p.exists() or hashlib.sha256(p.read_bytes()).hexdigest() != digest:
            fail(f"input table {p} is missing or altered")
    return sums


def make_corpus(seed, dest, size=CORPUS_BYTES):
    """Seeded codec corpus: documents.text rows drawn until `size` bytes."""
    import pyarrow.parquet as pq

    texts = pq.read_table(DATA / "documents.parquet", columns=["text"]).column("text").to_pylist()
    rng = random.Random(f"corpus:{seed}")
    buf = bytearray()
    while len(buf) < size:
        buf += texts[rng.randrange(len(texts))].encode("utf-8") + b"\n"
    dest.write_bytes(bytes(buf[:size]))


def read_proc(path):
    try:
        return Path(path).read_text()
    except OSError:
        return ""


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, job, run_dir, deadline, jvm_flags=(), jsa=None):
    """Runs one LaneBench JVM with the root build's JVM options, starting
    from the class-data-sharing archive `jsa` when one is given; a JVM
    that cannot map the archive fails rather than start without it."""
    run_dir.mkdir(parents=True, exist_ok=True)
    job_file = run_dir / "job.json"
    job_file.write_text(json.dumps(dict(job, out=str(run_dir))))
    (run_dir / "tmp").mkdir(exist_ok=True)
    if jsa is not None:
        jvm_flags = [*jvm_flags, "-Xshare:on", f"-XX:SharedArchiveFile={jsa}"]
    cmd = (["java", f"-Xmx{HEAP}", *jvm_flags, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "lanebench.LaneBench", str(job_file)])
    with open(run_dir / "jvm.log", "w") as log:
        try:
            code, _, _ = run_child(cmd, max(10.0, deadline - time.time()), cwd=run_dir, stdout=log,
                                   stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail("the JVM run exceeded its time budget", 1)
    if code != 0 or not (run_dir / "result.json").exists():
        sys.stderr.write(read_proc(run_dir / "jvm.log")[-4000:])
        fail(f"the JVM run failed with exit code {code}", 1)
    return json.loads((run_dir / "result.json").read_text())


def history_spread(workload, stamp, current, ratio=2.0):
    """Per-lane spread across this run and the stored untraced runs of the
    same build and workload: each run's median lane time, flagged where
    max/min reaches `ratio`."""
    runs = [current]
    hist = WORK / "history"
    for f in sorted(hist.glob(f"{workload}-*-t0-*[0-9].json")) if hist.exists() else []:
        try:
            r = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if r["provenance"]["source_stamp"] == stamp:
            runs.append(r["lane_median_ms"])
    out = {}
    for lane in sorted({l for r in runs for l in r}):
        ts = [r[lane] for r in runs if lane in r]
        out[lane] = {"runs": len(ts), "max_over_min": max(ts) / max(min(ts), 1e-9),
                     "flagged": len(ts) > 1 and max(ts) >= ratio * min(ts)}
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--lanes", help="comma list overriding the workload's lanes (self-tests)")
    args = ap.parse_args(argv)

    if not (ENGINE_SRC / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    import oracle  # reads tools/check.py, so only after the checkout is known to be whole

    data_sums = check_data()
    stamp = source_stamp()
    classpath, jsa = build(stamp)

    wl = args.workload
    lanes = args.lanes.split(",") if args.lanes else workloads.WORKLOADS[wl]
    run_id = f"{wl}-{time.strftime('%Y%m%dT%H%M%S')}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    run_dir.mkdir(parents=True)
    codec_run = wl in workloads.CODEC_WORKLOADS or args.trace == 1
    job = {
        "data": str(DATA), "cpus": CPUS, "seconds": args.seconds,
        "trace": bool(args.trace), "check_threads": CHECK_THREADS, "warmup": workloads.WARMUP_LANE, "check_lanes": lanes,
        "passes": workloads.schedule(wl, args.seed, MAX_PASSES, lanes),
        "corpus": None, "micro_reps": MICRO_REPS if args.trace else 1, "setup_only": False,
    }
    if codec_run:
        make_corpus(args.seed, run_dir / "corpus.bin")
        job["corpus"] = str(run_dir / "corpus.bin")

    load_before = read_proc("/proc/loadavg").split()[:3]
    t_jvm = time.time()
    # set-up-only JVMs run before and after the measuring one, so that the
    # samples span the run rather than one moment of the host's load
    extra = 0 if args.trace else SETUP_SAMPLES - 1
    setups = [run_jvm(classpath, dict(job, setup_only=True), run_dir / f"setup-{i}", t_jvm + JVM_BUDGET_S, jsa=jsa)
              for i in range(extra // 2)]
    res = run_jvm(classpath, job, run_dir, t_jvm + JVM_BUDGET_S, jsa=jsa)
    setups.append(res)
    setups += [run_jvm(classpath, dict(job, setup_only=True), run_dir / f"setup-{i}", t_jvm + JVM_BUDGET_S, jsa=jsa)
               for i in range(extra // 2, extra)]
    jvm_elapsed = time.time() - t_jvm
    setup_ms = [r["setup_ms"] for r in setups]

    # correctness: oracle compare, codec round trips, lane errors
    verdicts = oracle.compare(DATA, run_dir / "results", res["oracle_sql"], lanes, WORK / "oracle-cache")
    mismatches = {k: v for k, v in verdicts.items() if v["status"] in ("mismatch", "missing") and not v.get("known")}
    codec_bad = {k: c.get("error", "round trip differs") for k, c in (res.get("codecs") or {}).items()
                 if not c.get("roundtrip_ok")}
    visits = res["checks"] + res["visits"]
    errors = {}
    for v in visits:
        if v["error"]:
            errors.setdefault(v["lane"], v["error"])
    attempted = len(visits) + len(res.get("codecs") or {})
    failed = sum(1 for v in visits if v["error"]) + len(codec_bad)
    correct = not mismatches and not codec_bad and not errors

    if args.trace:
        out_metrics, spans, lane_layers = metrics.per_layer(wl, res, CPUS)
    else:
        out_metrics = metrics.end_to_end(wl, res, setup_ms)
        spans, lane_layers = None, None

    steal = res["steal_ticks"]
    elapsed = res["timed_ms"] / 1000.0
    lane_median = {}
    for v in res["visits"]:
        lane_median.setdefault(v["lane"], []).append(v["wall_ms"])
    lane_median = {l: statistics.median(t) for l, t in lane_median.items()}
    record = {
        "provenance": {
            "git_sha": git_sha(), "source_stamp": stamp, "seed": args.seed, "workload": wl,
            "trace": bool(args.trace), "seconds": args.seconds, "nproc": CPUS,
            "driver_heap": HEAP, "max_heap_mb": res["max_heap_mb"], "spark_conf": res["spark_conf"],
            "load_avg_before": load_before,
            "steal_pct": 100.0 * steal / (elapsed * 100.0 * CPUS) if steal >= 0 and elapsed > 0 else None,
            "nonvol_ctxt_switches": res["nonvol_ctxt"], "gc_ms": res["gc_ms"],
            "data_sha256": data_sums, "jvm_elapsed_s": jvm_elapsed,
            "passes": res["passes"], "setup_ms": setup_ms, "session_ms": res["session_ms"],
        },
        "correct": correct, "attempted": attempted, "failed": failed,
        "errors": errors, "mismatches": mismatches, "codec_failures": codec_bad,
        "oracle": verdicts,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
        "pass_wall_ms": metrics.pass_walls(res), "lane_median_ms": lane_median,
        "lane_spread": metrics.lane_spread(res["visits"]), "lane_layers": lane_layers,
        "visits": res["visits"], "checks": res["checks"], "codecs": res.get("codecs"),
    }
    hist = WORK / "history"
    hist.mkdir(parents=True, exist_ok=True)
    record["history_spread"] = history_spread(wl, stamp, lane_median)
    (hist / f"{run_id}.json").write_text(json.dumps(record))
    if spans is not None:
        (hist / f"{run_id}.spans.json").write_text(json.dumps(spans))
    shutil.rmtree(run_dir, ignore_errors=True)

    noisy = sorted(l for l, s in record["lane_spread"].items() if s["flagged"])
    noisy_runs = sorted(l for l, s in record["history_spread"].items() if s["flagged"])
    print(json.dumps({"provenance": {k: v for k, v in record["provenance"].items() if k != "spark_conf"}}))
    print(f"lanebench: {wl} seed={args.seed} passes={res['passes']} "
          f"errors={errors or 'none'} mismatches={sorted(mismatches) or 'none'} "
          f"noisy_in_run={noisy or 'none'} noisy_across_runs={noisy_runs or 'none'} "
          f"record={hist / (run_id + '.json')}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u} for k, (v, u) in out_metrics.items()},
    }))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
