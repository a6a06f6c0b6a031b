"""End-to-end benchmark of Demo1, Demo2 and the curation queries.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the repository and the benchmark
driver when their sources changed, generates the workload's inputs from the
seed, runs it, checks the outputs and prints one JSON object as the last
line of stdout: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics untraced, the per-layer metrics traced). Workloads,
metrics and their definitions are in e2ebench/README.md.

Everything a run writes lives under `.bench_build/` in the repository root:
Spark's working directory, SPARK_LOCAL_DIRS and java.io.tmpdir included.
"""
import argparse
import json
import os
import random
import select
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "driver"))

import build as driver_build  # noqa: E402
import stats  # noqa: E402

OUT = os.path.join(os.getcwd(), ".bench_build")
XMX = "2g"
SETUP_REPS = 3
# Spark 4 on JDK 17 outside spark-submit: the module opens build.sbt also passes.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Stream workloads: generator settings. The rate phase offers a fixed load
# well below capacity (open loop); the saturated phase keeps `sat_unread`
# files unplanned (closed loop).
STREAMS = {
    "demo1_etl": dict(users=1000, zipf=0.0, malformed=0.02, late=0.0, jitter_s=0,
                      ev_step_s=2, rate_files_per_s=25, rate_rows_per_file=200,
                      sat_rows_per_file=10_000, sat_unread=8),
    "demo2_window": dict(users=100_000, zipf=1.1, malformed=0.0, late=0.01, jitter_s=30,
                         ev_step_s=2, rate_files_per_s=25, rate_rows_per_file=400,
                         sat_rows_per_file=10_000, sat_unread=8),
}
RATE_SHARE = 0.6  # share of --seconds spent in the rate phase; the rest is saturated
WARMUP_SECONDS = 4.0  # unmeasured saturated load before the rate phase
LOCAL1_SAT_SECONDS = 6.0  # saturated phase of the traced demo1_etl run's local[1] leg

CURATION_QUERIES = ["text_langid", "dedup_minhash_lsh", "ann_ivfpq_topk",
                    "asof_join_nearest_sliced"]

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
              "max_rows_per_s": "1/s", "pass_s": "s", "cold_pass_s": "s"}


def log(msg):
    print(msg, flush=True)


# ------------------------------------------------------------------ processes

class Proc:
    """A child process with line-oriented stdout and a deadline on reads."""

    def __init__(self, cmd, cwd=None, env=None, stderr_path=None):
        self.err = open(stderr_path, "w") if stderr_path else subprocess.DEVNULL
        self.p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.err, text=True, bufsize=1)

    def expect(self, token, timeout):
        """Reads stdout until a line starting with `token`; False on EOF or timeout."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            r, _, _ = select.select([self.p.stdout], [], [], max(0.0, deadline - time.time()))
            if not r:
                break
            line = self.p.stdout.readline()
            if not line:
                return False
            if line.startswith(token):
                return True
        return False

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def stop(self, timeout=30):
        try:
            self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        if self.err is not subprocess.DEVNULL:
            self.err.close()
        return self.p.returncode


def jvm(classpath, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # a fixed, pre-touched heap: no heap growth or first-touch page faults
    # mid-run; no hsperfdata file, which the JVM would write outside the tree
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + ADD_OPENS + ["-cp", classpath, "e2ebench.BenchDriver"] + args)
    return Proc(cmd, cwd=work, env=env, stderr_path=os.path.join(work, "jvm.log"))


def read_json(path):
    with open(path) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))

# ------------------------------------------------------------------- streams


def run_stream(workload, seed, seconds, trace, classpath, work, ncores=None,
               rate_seconds=None, sat_seconds=None, reps=SETUP_REPS):
    """One stream leg; returns (result, manifest, ckpt, out_dir, events path)."""
    ncores = ncores or cores()
    os.makedirs(work, exist_ok=True)
    setup_dirs = [os.path.join(work, f"s{r}", "in") for r in range(reps)]
    last = os.path.join(work, f"s{reps - 1}")
    spec = dict(STREAMS[workload], seed=seed, setup_dirs=setup_dirs,
                ckpt=os.path.join(last, "ckpt"), tmp=os.path.join(work, "gen_tmp"),
                manifest=os.path.join(work, "manifest.json"),
                events=os.path.join(work, "events.npz"),
                rate_seconds=seconds * RATE_SHARE if rate_seconds is None else rate_seconds,
                sat_seconds=seconds * (1 - RATE_SHARE) if sat_seconds is None else sat_seconds,
                warmup_seconds=WARMUP_SECONDS)
    with open(os.path.join(work, "gen_spec.json"), "w") as f:
        json.dump(spec, f)
    gen = Proc([sys.executable, os.path.join(HERE, "gen.py"), os.path.join(work, "gen_spec.json")],
               stderr_path=os.path.join(work, "gen.log"))
    drv = None
    try:
        if not gen.expect("@@setup-done", 60):
            raise RuntimeError("generator failed during set-up (see gen.log)")
        drv = jvm(classpath, work, ["stream", workload, work, str(ncores), str(reps), str(int(trace))])
        if not drv.expect("@@ready", 150):
            raise RuntimeError("stream did not start (see jvm.log)")
        gen.send("go")
        if gen.stop(timeout=seconds + WARMUP_SECONDS + 90) != 0:
            raise RuntimeError("generator failed (see gen.log)")
        drv.send("drain")
        if not drv.expect("@@done", 90):
            raise RuntimeError("stream did not drain in time (see jvm.log)")
    finally:
        for p in (gen, drv):
            if p is not None and p.p.poll() is None:
                p.p.kill()
            if p is not None:
                p.stop()
    return (read_json(os.path.join(work, "result.json")), read_json(spec["manifest"]),
            spec["ckpt"], os.path.join(last, "out"), spec["events"])


def batches_of(manifest, planned):
    """batchId -> list of manifest file entries it read."""
    out = {}
    for f in manifest["files"]:
        b = planned.get(f["name"])
        if b:
            out.setdefault(b[0], []).append(f)
    return out


def saturated_batches(manifest, planned, commits):
    """Committed batches that read only saturated-phase files, by batch id."""
    return sorted(b for b, fs in batches_of(manifest, planned).items()
                  if b in commits and all(f["phase"] == "saturated" for f in fs))


def stream_metrics(result, manifest, ckpt):
    files = manifest["files"]
    joined = stats.join_files(ckpt, [f["name"] for f in files])
    planned = stats.planned_batches(ckpt)
    commits = stats.commit_times(ckpt)
    lat = [(joined[f["name"]][1] - f["scheduled"]) * 1e3
           for f in files if f["phase"] == "rate" and joined[f["name"]]]
    sat = saturated_batches(manifest, planned, commits)
    rows = {b: sum(f["rows"] for f in fs) for b, fs in batches_of(manifest, planned).items()}
    if len(lat) <= 10 or len(sat) < 3:
        raise RuntimeError(f"too few samples: {len(lat)} rate files, {len(sat)} saturated batches")
    tail = stats.tail_percentile(len(lat))
    span = commits[sat[-1]] - commits[sat[0]]
    metrics = {
        "setup_s": statistics.median(result["setup_s"]),
        "latency_p50_ms": stats.percentile(lat, 50),
        "latency_p99_ms": stats.percentile(lat, tail),
        "max_rows_per_s": sum(rows[b] for b in sat[1:]) / span,
        "pass_s": span / (len(sat) - 1),
        "cold_pass_s": statistics.median(result["first_batch_s"]),
    }
    notes = [f"latency samples: {len(lat)} rate-phase files; latency_p99_ms reports "
             f"p{tail:g} (the highest percentile with >= 10 samples beyond it)",
             f"saturated phase: {len(sat)} batches, {sum(rows[b] for b in sat)} rows"]
    failed = sum(1 for v in joined.values() if v is None)
    return metrics, notes, len(files), failed


def check_stream(workload, result, out_dir, events_path):
    """Compares the sink with the generator's record; returns a list of problems."""
    import numpy as np
    import pyarrow.parquet as pq
    ev = np.load(events_path)
    sink = pq.read_table(out_dir).to_pandas() if os.path.isdir(out_dir) else None
    problems = []
    if result.get("exception"):
        problems.append(f"query failed: {result['exception']}")
    if sink is None:
        return problems + ["no sink output"]
    if workload == "demo1_etl":
        valid_users = ev["user_id"]
        if sink["user_id"].isna().any() or sink["event_time"].isna().any():
            problems.append("malformed lines reached the sink (null fields)")
        if len(sink) != len(valid_users):
            problems.append(f"sink rows {len(sink)} != valid generated rows {len(valid_users)}")
        got = np.bincount(sink["user_id"].dropna().astype(np.int64), minlength=1)
        want = np.bincount(valid_users, minlength=1)
        n = max(len(got), len(want))
        if not np.array_equal(np.pad(got, (0, n - len(got))), np.pad(want, (0, n - len(want)))):
            problems.append("per-user counts differ from the generated rows")
        got_t = np.sort(sink["event_time"].astype("datetime64[s]").astype(np.int64).to_numpy())
        if len(got_t) == len(ev["event_time"]) and not np.array_equal(got_t, np.sort(ev["event_time"])):
            problems.append("event times differ from the generated rows")
    else:
        wm = np.datetime64(result["watermark"].rstrip("Z")).astype("datetime64[s]").astype(np.int64)
        want = stats.demo2_reference(ev["event_time"], ev["user_id"], ev["on_time"], int(wm))
        starts = sink["window_start"].astype("datetime64[s]").astype(np.int64).to_numpy()
        keys = list(zip(starts.tolist(), sink["user_id"].astype(np.int64).tolist()))
        got = dict(zip(keys, sink["cnt"].astype(np.int64).tolist()))
        if len(got) != len(keys):
            problems.append(f"{len(keys) - len(got)} (window, user) pairs emitted twice")
        if got != want:
            wrong = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
            problems.append(f"{wrong} of {len(want)} expected (window, user) counts differ")
        late = int((~ev["on_time"]).sum())
        if result["rows_dropped_late"] != late:
            problems.append(f"rows dropped late {result['rows_dropped_late']} != "
                            f"generated too-late events {late}")
    return problems

# ------------------------------------------------------------------ curation


def run_curation(seed, seconds, trace, classpath, work):
    """Returns (result, {query: the oracle's expected frame, or the error})."""
    import corpus
    import oracle
    data = os.path.join(work, "data")
    corpus.generate(data, seed)
    names = list(CURATION_QUERIES)
    random.Random(seed).shuffle(names)
    drv = jvm(classpath, work, ["batch", data, work, str(cores()), str(SETUP_REPS),
                                str(int(trace)), str(seconds), ",".join(names)])
    want = {}

    def run_oracles():  # DuckDB, while the JVM runs its untimed check pass
        sql = read_json(os.path.join(work, "check", "oracle_sql.json"))
        for name in names:
            try:
                want[name] = oracle.expected(data, sql[name]) if name in sql else "no oracle SQL"
            except Exception as e:  # a failing oracle fails its query, not the run
                want[name] = f"oracle failed: {e}"

    try:
        if not drv.expect("@@timed", 170):
            raise RuntimeError("curation leg did not finish its passes (see jvm.log)")
        oracles = threading.Thread(target=run_oracles)
        oracles.start()
        ok = drv.expect("@@done", 120)
        oracles.join()
    finally:
        if drv.p.poll() is None:
            drv.p.kill()
        drv.stop()
    if not ok:
        raise RuntimeError("curation leg did not finish (see jvm.log)")
    return read_json(os.path.join(work, "result.json")), want


def curation_metrics(result):
    """Query runs are few and of four different kinds, so the latency pair is
    taken over per-query medians: the median query and the slowest one."""
    warm, names = result["warm"], result["queries"]
    per_query = {n: statistics.median(p[i] for p in warm) * 1e3 for i, n in enumerate(names)}
    slowest = max(per_query, key=per_query.get)
    pass_s = statistics.median(sum(p) for p in warm)
    rows = sum(max(0, n) for n in result["rows"].values())
    metrics = {
        "setup_s": statistics.median(result["setup_s"]),
        "latency_p50_ms": statistics.median(per_query.values()),
        "latency_p99_ms": per_query[slowest],
        "max_rows_per_s": rows / pass_s,
        "pass_s": pass_s,
        "cold_pass_s": sum(result["cold"]),
    }
    notes = [f"{len(warm)} warm passes over {len(names)} queries in the order "
             f"{','.join(names)} (the cold pass runs in name order); latency_p99_ms "
             f"reports the slowest query's median warm time ({slowest})"]
    return metrics, notes


def check_curation(result, want, work):
    """DuckDB oracle compare of every listed query; returns {query: problem}."""
    import oracle
    problems = dict(result["errors"])
    for name in result["queries"]:
        if name in problems:
            continue
        w = want[name]
        diff = w if isinstance(w, str) else oracle.compare(os.path.join(work, "check", name), w)
        if diff:
            problems[name] = diff
    return problems

# --------------------------------------------------------------------- main


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(STREAMS) + ["curation_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath = driver_build.build()
    except driver_build.BuildError as e:
        sys.exit(f"build failed: {e}")
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "curation_batch":
            result, want = run_curation(args.seed, args.seconds, args.trace, classpath, work)
            metrics, notes = curation_metrics(result)
            problems = check_curation(result, want, work)
            attempted = len(result["queries"]) * (1 + len(result["warm"]))
            failed = len(problems) * (1 + len(result["warm"]))
            for name, why in sorted(problems.items()):
                log(f"FAILED {name}: {why}")
            ctx = dict(work=work, result=result, metrics=metrics)
        else:
            result, manifest, ckpt, out_dir, events = run_stream(
                args.workload, args.seed, args.seconds, args.trace, classpath, work)
            metrics, notes, attempted, failed = stream_metrics(result, manifest, ckpt)
            problems = check_stream(args.workload, result, out_dir, events)
            ctx = dict(work=work, result=result, manifest=manifest, ckpt=ckpt,
                       out_dir=out_dir, metrics=metrics)
            if args.trace and args.workload == "demo1_etl":
                # scaling baseline: the same job on one core, saturated
                legs = run_stream(args.workload, args.seed, args.seconds, False, classpath,
                                  os.path.join(work, "local1"), ncores=1, rate_seconds=1.0,
                                  sat_seconds=LOCAL1_SAT_SECONDS, reps=1)
                one, _, one_att, one_failed = stream_metrics(*legs[:3])
                problems += check_stream(args.workload, legs[0], *legs[3:])
                attempted, failed = attempted + one_att, failed + one_failed
                ctx["local1_rows_per_s"] = one["max_rows_per_s"]
                notes.append(f"local[1] saturated leg: {one['max_rows_per_s']:.0f} rows/s; "
                             f"local[{cores()}] / local[1] = "
                             f"{metrics['max_rows_per_s'] / one['max_rows_per_s']:.2f}")
            for p in problems:
                log(f"FAILED check: {p}")
            if problems:
                failed = attempted
        for n in notes:
            log(n)
        for k, v in metrics.items():
            log(f"{k:16s} {v:14.4f} {END_TO_END[k]}")
        log(f"error_rate       {failed / attempted:14.4f} ({failed} failed of {attempted} attempted)")
        correct = failed == 0 and not problems
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        if args.trace:
            import layers
            out = layers.report(args.workload, ctx, OUT, log)
        else:
            with open(os.path.join(OUT, f"last_{args.workload}.json"), "w") as f:
                json.dump(metrics, f)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    except RuntimeError as e:
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
