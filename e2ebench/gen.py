"""Load generator for the Demo1/Demo2 workloads.

A single-threaded process, separate from the Spark JVM. It writes JSON
wire files (one `{"event_time": s, "user_id": n, "click": 1}` object per
line, FIXTURES A1) into a stream's source directory, each as a temp file
plus an atomic rename, so the file source never sees a partial file.

Phases, driven by a JSON spec (see `run.py`):
  setup      file 0 into every set-up directory, then wait for `go` on stdin;
  warmup     closed loop like `saturated`, unmeasured, then a wait until
             the stream has committed every warm-up file;
  rate       open loop: the k-th file is due at T0 + (k-1)/files_per_s,
             whether or not the stream keeps up; lateness is recorded;
  saturated  closed loop: keep `sat_unread` files the stream has not yet
             planned (read from its checkpoint's file-source log).

Everything a file holds is a function of the seed and the file's index, so
the same seed gives the same inputs. At exit it writes the manifest (per
file: phase, scheduled and written time, row counts) and `events.npz`
(event time, user, on-time flag of every valid row) for the output checks.

`python3 e2ebench/gen.py --self-check` measures how many rows per second the
generator can offer on its own.
"""
import json
import os
import sys
import time

import numpy as np

E0 = 1_700_000_000           # event time of file 0, epoch seconds
E_LATE = E0 - 10 * 86400     # too-late events: far behind any watermark
# The fastest rate any workload consumes (rows/s); the self-check requires
# at least twice this.
HIGHEST_RATE = 250_000
MALFORMED = ('not json {{{', '{"user_id": 7, "click": 1}',
             '{"event_time": "soon", "user_id": 7, "click": 1}')


class Wire:
    """Seeded content of the wire files: `rows(i, n)` is file i's lines."""

    def __init__(self, spec):
        self.spec = spec
        self.seed = spec["seed"]
        users = spec["users"]
        rng = np.random.default_rng([self.seed, 0])
        if spec.get("zipf", 0) > 0:
            w = 1.0 / np.arange(1, users + 1) ** spec["zipf"]
            self.cdf = np.cumsum(w) / w.sum()
            self.ids = rng.permutation(users) + 1
        else:
            self.cdf = None
        self.late_seq = 0

    def rows(self, i, n, allow_late=True):
        """(text, event_time, user_id, on_time, n_malformed) for file i."""
        s = self.spec
        rng = np.random.default_rng([self.seed, 1, i])
        if self.cdf is None:
            users = rng.integers(1, s["users"] + 1, n)
        else:
            users = self.ids[np.searchsorted(self.cdf, rng.random(n))]
        nominal = E0 + (i + np.arange(n) / n) * s["ev_step_s"]
        t = np.floor(nominal - rng.uniform(0, s.get("jitter_s", 0), n)).astype(np.int64)
        late = (rng.random(n) < s.get("late", 0.0)) if allow_late else np.zeros(n, bool)
        # each too-late event gets a window of its own, so the state store
        # drops exactly one aggregated row per late event
        k = int(late.sum())
        t[late] = E_LATE + 60 * (self.late_seq + np.arange(k))
        self.late_seq += k
        bad = rng.random(n) < s.get("malformed", 0.0)
        lines = list(map('{{"event_time": {}, "user_id": {}, "click": 1}}'.format,
                         t.tolist(), users.tolist()))
        for j in np.flatnonzero(bad).tolist():
            lines[j] = MALFORMED[j % len(MALFORMED)]
        ok = ~bad
        return "\n".join(lines) + "\n", t[ok], users[ok], ~late[ok], int(bad.sum())


def write_atomic(tmp_dir, dest_dir, name, text):
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(dest_dir, name))
    return time.time()


class SourceLogWatcher:
    """Incrementally reads which files the stream has planned."""

    def __init__(self, ckpt):
        self.dir = os.path.join(ckpt, "sources", "0")
        self.read_logs = set()
        self.planned = set()
        self.batch_of = {}

    def poll(self):
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return self.planned
        for name in names:
            # Spark renames each log file into place; temp and crc files start with "."
            if name in self.read_logs or not name.split(".")[0].isdigit():
                continue
            with open(os.path.join(self.dir, name)) as f:
                text = f.read()
            for line in text.splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    self.planned.add(name)
                    self.batch_of[name] = int(e["batchId"])
            self.read_logs.add(name)
        return self.planned


def run(spec):
    wire = Wire(spec)
    tmp = spec["tmp"]
    os.makedirs(tmp, exist_ok=True)
    files = []
    events = []

    def emit(i, phase, n, dest, sched=None, allow_late=True, record=True):
        cpu0 = time.process_time()
        text, t, u, on_time, bad = wire.rows(i, n, allow_late)
        name = f"{i:06d}.json"
        written = write_atomic(tmp, dest, name, text)
        if record:
            files.append({"name": name, "index": i, "phase": phase, "scheduled": sched,
                          "written": written, "rows": n, "malformed": bad,
                          "late": int((~on_time).sum())})
            events.append((t, u, on_time))
        return time.process_time() - cpu0

    # set-up: the same file 0 in every set-up repetition's source directory
    for k, d in enumerate(spec["setup_dirs"]):
        os.makedirs(d, exist_ok=True)
        emit(0, "setup", spec["rate_rows_per_file"], d, allow_late=False,
             record=(k == len(spec["setup_dirs"]) - 1))
    print("@@setup-done", flush=True)
    if sys.stdin.readline().strip() != "go":
        return
    dest = spec["setup_dirs"][-1]
    watcher = SourceLogWatcher(spec["ckpt"])
    cpu, rows, i = 0.0, 0, 1

    def closed_loop(phase, seconds, min_batches=0):
        """Keeps `sat_unread` written files unplanned for `seconds`, and on a
        slow host longer (up to a minute more), until the stream has planned
        `min_batches` batches of this phase's files."""
        nonlocal cpu, rows, i
        end = time.time() + seconds
        written = {f["name"] for f in files}
        mine = set()
        while True:
            planned = watcher.poll()
            now = time.time()
            batches = {watcher.batch_of[n] for n in mine & planned}
            if now >= end and (len(batches) >= min_batches or now >= end + 60):
                break
            if len(written - planned) < spec["sat_unread"]:
                cpu += emit(i, phase, spec["sat_rows_per_file"], dest)
                rows += spec["sat_rows_per_file"]
                written.add(files[-1]["name"])
                mine.add(files[-1]["name"])
                i += 1
            else:
                time.sleep(0.005)

    # warm-up: saturated load until the JIT has compiled the hot paths, then
    # wait until every warm-up file is planned and the last batch committed
    closed_loop("warmup", spec["warmup_seconds"])
    deadline = time.time() + 30
    names = {f["name"] for f in files}
    while time.time() < deadline and not names <= watcher.poll():
        time.sleep(0.005)
    last = max(watcher.batch_of[n] for n in names & watcher.planned)
    while time.time() < deadline and not os.path.exists(
            os.path.join(spec["ckpt"], "commits", str(last))):
        time.sleep(0.005)

    # rate: open loop, file k (from 0) due at T0 + k / files_per_s
    interval = 1.0 / spec["rate_files_per_s"]
    n_rate = max(1, int(spec["rate_seconds"] * spec["rate_files_per_s"]))
    t0 = time.time() + 0.05
    for k in range(n_rate):
        sched = t0 + k * interval
        delay = sched - time.time()
        if delay > 0:
            time.sleep(delay)
        cpu += emit(i, "rate", spec["rate_rows_per_file"], dest, sched)
        rows += spec["rate_rows_per_file"]
        i += 1

    # saturated: closed loop, measured; the first of its batches may still
    # hold rate-phase files, so three whole ones need four
    closed_loop("saturated", spec["sat_seconds"], min_batches=4)

    rate_files = [f for f in files if f["phase"] == "rate"]
    summary = {
        "files": files,
        "late_ms_max": max((f["written"] - f["scheduled"]) * 1e3 for f in rate_files),
        "cpu_s": cpu,
        "rows": rows,
    }
    with open(spec["manifest"], "w") as f:
        json.dump(summary, f)
    t, u, ok = (np.concatenate(x) for x in zip(*events))
    np.savez(spec["events"], event_time=t, user_id=u, on_time=ok)


def self_check(work_dir, seconds=2.0):
    """Rows per second the generator offers alone, with saturated-phase
    file sizes and no stream reading; returns (rows_per_s, ok)."""
    import shutil
    spec = {"seed": 1, "users": 100_000, "zipf": 1.1, "ev_step_s": 2, "jitter_s": 30,
            "late": 0.01, "malformed": 0.02}
    wire = Wire(spec)
    dest, tmp = os.path.join(work_dir, "in"), os.path.join(work_dir, "tmp")
    os.makedirs(dest, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    rows, i, t0 = 0, 0, time.time()
    try:
        while time.time() - t0 < seconds:
            text = wire.rows(i, 10_000)[0]
            write_atomic(tmp, dest, f"{i:06d}.json", text)
            rows += 10_000
            i += 1
        rate = rows / (time.time() - t0)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    return rate, rate >= 2 * HIGHEST_RATE


if __name__ == "__main__":
    if sys.argv[1:2] == ["--self-check"]:
        target = os.path.join(".bench_build", "gen-self-check")
        rate, ok = self_check(target)
        print(f"generator alone: {rate:,.0f} rows/s; needs >= 2 x {HIGHEST_RATE:,} = "
              f"{2 * HIGHEST_RATE:,}: {'ok' if ok else 'TOO SLOW'}")
        sys.exit(0 if ok else 1)
    with open(sys.argv[1]) as f:
        run(json.load(f))
