"""Job-layer benchmark: enqueue-to-SUCCESS latency, sustained rate and
per-layer spans of the engine's job server.

    python3 jobbench/run.py [--workload W[,W...]] [--seed N]
                            [--seconds S] [--trace 0|1]

Run from the root of a checkout. Each run generates the seed's tables
into a fresh directory under ``.jobbench_tmp/``, starts the engine as
separate server processes (``server.py``: ``config.build_core`` +
``http_api.Server`` over ``server.toml``), warms one up, drives it over
HTTP from this process, checks every job's result table against
DuckDB, stops the servers and deletes the directory.

Workloads (``WORKLOADS`` says why each exists):

- ``sql_small_open``: the four parameterized SQL tasks on in-process
  queues; a saturating burst for the throughput, and open-loop Poisson
  traffic (POST only) at fixed rates for the latencies.
- ``operator_heavy_closed``: closed loop, two clients, six registry
  operators on the SQLite broker; each client polls its job to a
  terminal state and reads the first result rows.
- ``sql_broker_readback``: ``sql_small_open``'s traffic on the SQLite
  broker, where every open-loop job is polled and its result read.

``--trace 0`` reports the end-to-end metrics in ``GATED``: ``setup_s``,
the median of three server starts made at once, and ``jobs_per_s``,
the rate at which a warm server completes the workload at saturation
(a burst of SQL jobs, or the operator closed loop). ``--trace 1`` makes
the same measurement, then (on ``sql_small_open``) the other rates of
the arrival-rate ladder, then four legs of the workload's traffic,
untraced, traced, traced, untraced: the untraced legs give the
latencies, the traced legs the per-layer metrics, and their difference
the tracing overhead, free of the server's warm-up drift. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_ROOT = os.path.join(ROOT, ".jobbench_tmp")
sys.path[:0] = [HERE, ROOT]  # the benchmark's modules; the engine

import datagen  # noqa: E402
import loadgen  # noqa: E402
from layers import pct, per_layer  # noqa: E402
from loadgen import Http, Job  # noqa: E402

WORKLOADS = {
    "sql_small_open": (
        "tiny SQL tasks on in-process queues: job-layer overhead (HTTP, "
        "enqueue, queue wait, per-job Spark scheduling, parquet commit) "
        "dominates and construction is ~0"
    ),
    "operator_heavy_closed": (
        "closed loop over construction-heavy and execution-heavy "
        "registry operators: construction Spark jobs and stages "
        "dominate while HTTP and store costs vanish"
    ),
    "sql_broker_readback": (
        "sql_small_open's traffic on the SQLite broker, with status "
        "polls and result reads beside job writes: isolates the broker "
        "and read path"
    ),
}
# Workloads whose server runs `distributed = true` on a file SQLite job
# store, so every job goes through the broker's claim pool.
DISTRIBUTED = ("operator_heavy_closed", "sql_broker_readback")
SQL_TASKS = ("get_profit_summary", "get_profit_entries",
             "get_profit_entries_by_date", "top_spenders")
OPERATORS = (
    # construction-heavy (Spark jobs launched while building: ~22, 7, 7).
    # fate_apply_plan (45) is left out: its first build alone takes
    # 17-30 s, more than a run's warm-up can afford.
    "corpus_fate_manifest", "pagerank_trade_graph", "rfm_segments",
    # execution-heavy (construction launches ~no Spark job)
    "q5_local_supplier_volume", "dedup_ngram_jaccard", "q1_pricing_summary",
)
ROUND_S = 10.0  # one operator round per this many --seconds (~10 s each)
CLIENTS = 2  # closed-loop clients
SETUP_STARTS = 3  # server starts made at once; setup_s is their median
# A cold server is several times slower than a warm one (JIT, Spark
# code generation). In a burst on a 4-core host the SQL mix's rate
# climbs from ~3 to ~7.5 jobs/s over the first ~25 jobs, then creeps up
# by ~10% per 100 jobs with no plateau in reach of a run. The SQL
# workloads start with an untimed burst of this many jobs, past the
# climb, and the timed burst leaves out its first BURST_TRIM too; the
# operator workload starts with one round of its operators. The
# warm-up is the same on every commit and seed.
WARMUP_SQL_JOBS = 100
BURST_JOBS_PER_S = 5  # the timed SQL burst holds this many jobs per --seconds
# Open-loop arrival rates (jobs/s), ~30-85% of the in-process capacity
# of the SQL mix on a 4-core host (~7 jobs/s). The latencies are taken
# at the middle rate, in the untraced legs; --trace 1 runs the other
# two on sql_small_open, each for SIDE_STEP_SHARE of --seconds.
LADDER = (2.0, 4.0, 6.0)
MIDDLE = 1
SIDE_STEP_SHARE = 0.4
LEG_SHARE = 0.25  # one open-loop leg of --trace 1 lasts this much of --seconds
LATENCY_LIMIT_S = 1.0  # p90 limit for max_rate_within_limit_jobs_per_s
# A burst's jobs_per_s leaves out this share of its first and of its
# last finishes: the engine's workers (up to 15 jobs in flight) fill up
# and drain there.
BURST_TRIM = 0.2
READBACK_RESULTS = 10  # result reads after each POST-only open-loop leg
FAILED_LATENCY_S = loadgen.JOB_TIMEOUT_S  # a failed job misses any limit

# Client-visible metrics, name → unit. The GATED ones are reported by
# --trace 0 and carry a regression bound. --trace 1 prints them all and
# reports the others as ``client.*``: on a shared 4-core host their
# run-to-run spread (IQR/median over ten seeds, 0.16 to 0.5) is wider
# than a regression bound can be.
E2E = {
    "setup_s": "s",
    "jobs_per_s": "1/s",
    "job_latency_p50_s": "s",
    "job_latency_p90_s": "s",
    "status_poll_p90_ms": "ms",
    "result_read_p50_ms": "ms",
    "enqueue_p50_ms": "ms",
    "enqueue_p90_ms": "ms",
}
GATED = ("setup_s", "jobs_per_s")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ traffic
def draw_args(rng: random.Random, task: str) -> list[str]:
    """Seeded args for one SQL task."""
    if task == "top_spenders":
        return [str(rng.randint(1, 20))]
    user = str(rng.randrange(150))
    if task == "get_profit_entries_by_date":
        lo = rng.randint(1, 24)
        hi = lo + rng.randint(1, 6)
        return [user, f"2024-01-{lo:02d} 00:00:00", f"2024-01-{hi:02d} 00:00:00"]
    return [user]


def open_schedule(rng: random.Random, rate: float, seconds: float,
                  prefix: str) -> list[tuple[float, Job]]:
    """A Poisson stream of exactly ``rate * seconds`` arrivals: given
    their number, Poisson arrival times are independent uniform draws
    over the window, so the offered load is the same for every seed.
    Each SQL task gets an equal share of the arrivals, in seeded order."""
    n = max(round(rate * seconds), 1)
    offsets = sorted(rng.uniform(0.0, seconds) for _ in range(n))
    tasks = [SQL_TASKS[i % len(SQL_TASKS)] for i in range(n)]
    rng.shuffle(tasks)
    return [(off, Job(f"{prefix}-{i}", task, draw_args(rng, task)))
            for i, (off, task) in enumerate(zip(offsets, tasks))]


def operator_rounds(rng: random.Random, prefix: str, n: int) -> list[Job]:
    """``n`` rounds of every operator once, each round in seeded order."""
    jobs = []
    for r in range(n):
        names = list(OPERATORS)
        rng.shuffle(names)
        jobs += [Job(f"{prefix}-{r}-{i}", name, [])
                 for i, name in enumerate(names)]
    return jobs


# -------------------------------------------------------------- server
class Server:
    """The engine as a child process, driven over stdin/stdout, with
    ``work_dir`` (its relative paths: data, results, jobs.db,
    spark-warehouse) as its working directory."""

    def __init__(self, work_dir: str, distributed: bool, trace: bool) -> None:
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("DUNGBEETLE_", "SPARK_GRAFT_",
                                    "PYSPARK_SUBMIT"))}
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp)
        env.update(
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(nproc()),
            # session.py defaults to 16g; a quarter of the host, 1-4 GiB,
            # is plenty at this scale (a server's heap is far below it
            # while SETUP_STARTS of them start at once).
            SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, int(mem_gb // 4)))}g",
            SPARK_LOCAL_DIRS=os.path.join(work_dir, "spark-local"),
            TMPDIR=tmp,
            # No JVM file outside the run directory (UsePerfData writes
            # to /tmp whatever java.io.tmpdir says).
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        cmd = [sys.executable, os.path.join(HERE, "server.py"),
               os.path.join(HERE, "server.toml"), os.path.join(HERE, "tasks")]
        if distributed:
            cmd.append("--distributed")
        if trace:
            cmd.append("--trace")
        self.work_dir = work_dir
        self.log_path = os.path.join(work_dir, "server.log")
        self._log = open(self.log_path, "wb")
        self._t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, cwd=work_dir, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self._log, text=True,
            start_new_session=True,
        )
        self.http: Http | None = None
        self.setup_s = math.nan

    def wait_ready(self) -> None:
        """Wait until ``GET /`` answers and the task catalog is loaded;
        ``setup_s`` is the time from launch until then."""
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "ready":
            raise RuntimeError(f"server did not start:\n{self.log_tail()}")
        self.http = Http(line[1])
        self.http.call("GET", "/")
        tasks, _ = self.http.call("GET", "/tasks")
        self.setup_s = time.perf_counter() - self._t0
        missing = set(SQL_TASKS + OPERATORS) - set(tasks)
        if missing:
            raise RuntimeError(f"task catalog lacks {sorted(missing)}")

    def command(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline().strip()
        if reply != "ok":
            raise RuntimeError(f"server answered {reply!r} to {line!r}")

    def dump(self, job_ids: list[str]) -> dict:
        ids_path = os.path.join(self.work_dir, "ids.json")
        out_path = os.path.join(self.work_dir, "dump.json")
        with open(ids_path, "w") as f:
            json.dump(job_ids, f)
        self.command(f"dump {ids_path} {out_path}")
        with open(out_path) as f:
            return json.load(f)

    def close(self) -> None:
        """Ask the server to shut down (end of its stdin)."""
        if self.proc.stdin and not self.proc.stdin.closed:
            try:
                self.proc.stdin.close()
            except OSError:
                pass

    def stop(self) -> None:
        """Shut the server down and wait until every process of its
        group, its Spark JVM included, has exited; kill what is left
        after a grace period."""
        self.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        deadline = time.monotonic() + 30
        try:
            while True:
                os.killpg(self.proc.pid, 0)  # raises once the group is gone
                if time.monotonic() > deadline:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                time.sleep(0.1)
        except ProcessLookupError:
            pass
        self._log.close()

    def log_tail(self, n: int = 4000) -> str:
        with open(self.log_path, "rb") as f:
            return f.read()[-n:].decode(errors="replace")


def start_servers(run_dir: str, distributed: bool, trace: bool,
                  servers: list[Server]) -> None:
    """Launch SETUP_STARTS servers at once, each in its own directory
    over the run's data, and wait until all are ready. Appends to
    ``servers`` as it launches, so the caller can stop them on error;
    the first one (the only one with ``trace``) serves the traffic."""
    for i in range(SETUP_STARTS):
        work_dir = os.path.join(run_dir, f"server{i}")
        os.makedirs(work_dir)
        os.symlink(os.path.join(run_dir, "data"),
                   os.path.join(work_dir, "data"))
        servers.append(Server(work_dir, distributed, trace and i == 0))
    errors = []

    def ready(server: Server) -> None:
        try:
            server.wait_ready()
        except Exception as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=ready, args=(s,)) for s in servers]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


# ------------------------------------------------------------- passes
@dataclass
class Pass:
    """One stretch of measured traffic and what its clients saw."""

    jobs: list[Job]
    closed: bool
    start: float  # wall time the traffic started
    rate: float = 0.0  # open-loop arrival rate (jobs/s); 0 for a burst
    traced: bool = False
    client_s: list[float] = field(default_factory=list)  # closed loop


def sql_burst(http: Http, rng: random.Random, n: int, tag: str) -> Pass:
    """Send ``n`` SQL jobs at once and wait until the engine is idle."""
    jobs = [j for _, j in open_schedule(rng, n, 1.0, tag)]
    t0 = loadgen.open_loop(http, [(0.0, j) for j in jobs], poll=False)
    loadgen.wait_idle(http, timeout=2 * loadgen.JOB_TIMEOUT_S)
    return Pass(jobs, False, t0)


def open_pass(http: Http, rng: random.Random, rate: float, seconds: float,
              tag: str, poll: bool) -> Pass:
    """Open-loop Poisson traffic at ``rate``. POST-only clients never
    look at their jobs, so once the engine is idle every job's status
    is read once (the output check needs its count) and the first
    READBACK_RESULTS results are read."""
    sched = open_schedule(rng, rate, seconds, tag)
    t0 = loadgen.open_loop(http, sched, poll=poll)
    loadgen.wait_idle(http)
    jobs = [j for _, j in sched]
    if not poll:
        for n, job in enumerate(jobs):
            if not job.error:
                loadgen.poll_once(http, job, read_result=n < READBACK_RESULTS)
    return Pass(jobs, False, t0, rate)


def closed_pass(http: Http, rng: random.Random, rounds: int, tag: str,
                clients: int = CLIENTS) -> Pass:
    jobs = operator_rounds(rng, tag, rounds)
    start = time.time()
    busy = loadgen.closed_loop(http, jobs, clients)
    return Pass(jobs, True, start, client_s=busy)


def warm_up(server: Server, workload: str) -> None:
    """Untimed jobs, the same for every seed (see WARMUP_SQL_JOBS)."""
    rng = random.Random("warm-up")
    if workload == "operator_heavy_closed":
        # As many clients as cores, so the cold builds overlap.
        jobs = closed_pass(server.http, rng, 1, "warm", nproc()).jobs
    else:
        jobs = sql_burst(server.http, rng, WARMUP_SQL_JOBS, "warm").jobs
    loadgen.wait_idle(server.http, timeout=120.0)
    by_state = server.http.call("GET", "/metrics")[0]["jobs_by_state"]
    if any(j.error for j in jobs) or by_state.get("FAILURE"):
        raise RuntimeError(f"warm-up jobs failed: {by_state}")


def measure(server: Server, workload: str, seed: int, seconds: float,
            trace: bool) -> list[Pass]:
    """The workload's measured traffic, the same for the same seed. The
    first pass is the saturated one ``jobs_per_s`` comes from; with
    ``trace`` the ladder's side steps and the four legs follow."""
    rng = random.Random(f"{workload}/{seed}")
    http = server.http
    if workload == "operator_heavy_closed":
        passes = [closed_pass(http, rng, max(1, int(seconds // ROUND_S)),
                              "m-op")]
    else:
        n = max(1, round(BURST_JOBS_PER_S * seconds))
        passes = [sql_burst(http, rng, n, "m-b")]
        for job in passes[0].jobs:
            if not job.error:
                loadgen.poll_once(http, job, read_result=False)
    if not trace:
        return passes
    if workload == "sql_small_open":
        for i, rate in enumerate(LADDER):
            if i != MIDDLE:
                passes.append(open_pass(http, rng, rate,
                                        seconds * SIDE_STEP_SHARE,
                                        f"m-s{i}", poll=False))
    # Untraced, traced, traced, untraced: a linear drift in the server's
    # speed (it keeps warming up) cancels out of traced minus untraced.
    for leg, traced in enumerate((False, True, True, False)):
        if traced:
            server.command("trace on")
        tag = f"{'t' if traced else 'u'}{leg}"
        if workload == "operator_heavy_closed":
            p = closed_pass(http, rng, 1, tag)
        else:
            p = open_pass(http, rng, LADDER[MIDDLE], seconds * LEG_SHARE,
                          tag, poll=workload == "sql_broker_readback")
        if traced:
            server.command("trace off")
        p.traced = traced
        passes.append(p)
    return passes


# ------------------------------------------------------------ analysis
def finish(passes: list[Pass], records: dict, checker, results_dir: str) -> None:
    """Attach the record's end state and the output check to each job:
    ``job.failure`` is '' for a job that succeeded and checked out, and
    ``job.latency`` is FAILED_LATENCY_S for any other."""
    for p in passes:
        for job in p.jobs:
            rec = records.get(job.job_id)
            failure = job.error
            if not failure and rec is None:
                failure = "job record missing"
            if not failure and rec["state"] != "SUCCESS":
                failure = f"{rec['state']}: {rec['error'][:200]}"
            if not failure and job.state != "SUCCESS":
                failure = f"client saw {job.state or 'no state'}"
            if not failure:
                failure = checker.check(
                    os.path.join(results_dir, f"results_{job.job_id}"),
                    job.task, job.args, job.count)
            job.failure = failure
            job.finished = rec["finished_at"] if rec else None
            start = job.sent if p.closed else job.due
            job.latency = (FAILED_LATENCY_S if failure
                           else job.finished - start)


def pass_rate(p: Pass) -> float:
    """SUCCESS jobs per wall second of one pass. For a closed loop the
    second is one of a client's mean busy time, so the idle tail of the
    client that runs out of jobs first, which depends on the seeded
    order, does not count; for a burst, it is the least-squares slope of
    finishes over time in its middle (see BURST_TRIM), which every
    finish there steadies, where a count between two finishes would
    hang on where they fall in their clumps; for open-loop traffic, it
    is one from the traffic's start to its last job's end."""
    done = sorted(j.finished for j in p.jobs if not j.failure)
    if len(done) < 3:  # the output check has failed the run
        return 0.0
    if p.closed:
        return len(done) / statistics.fmean(p.client_s)
    if p.rate:
        return len(done) / (done[-1] - p.start)
    k = round(len(done) * BURST_TRIM)
    mid = done[k:len(done) - k]
    return statistics.linear_regression(mid, range(len(mid))).slope


def end_to_end(gated: Pass, legs: list[Pass], setups: list[float]) -> dict:
    """Metric name → (value, n samples): ``jobs_per_s`` from the gated
    pass, the client figures from ``legs``."""
    jobs = [j for p in legs for j in p.jobs]
    lat = [j.latency for j in jobs]
    status = [ms for j in jobs for ms in j.status_ms]
    results = [j.result_ms for j in jobs if j.result_ms is not None]
    posts = [j.post_ms for j in jobs if j.post_ms is not None]
    return {
        "setup_s": (statistics.median(setups), len(setups)),
        "jobs_per_s": (pass_rate(gated),
                       sum(1 for j in gated.jobs if not j.failure)),
        "job_latency_p50_s": (pct(lat, 50), len(lat)),
        "job_latency_p90_s": (pct(lat, 90), len(lat)),
        "status_poll_p90_ms": (pct(status, 90), len(status)),
        "result_read_p50_ms": (pct(results, 50), len(results)),
        "enqueue_p50_ms": (pct(posts, 50), len(posts)),
        "enqueue_p90_ms": (pct(posts, 90), len(posts)),
    }


def in_system_growth(jobs: list[Job]) -> float:
    """Mean jobs in the system seen by arrivals in the last third of a
    step minus that seen in the first third; a growing backlog shows as
    a large positive value."""
    jobs = sorted(jobs, key=lambda j: j.due)
    ends = [j.finished if not j.failure else math.inf for j in jobs]

    def in_system(i: int) -> int:
        return sum(1 for k in range(i) if ends[k] > jobs[i].due)

    third = max(len(jobs) // 3, 1)
    first = statistics.fmean(in_system(i) for i in range(third))
    last = statistics.fmean(in_system(i)
                            for i in range(len(jobs) - third, len(jobs)))
    return last - first


def ladder_rows(steps: dict[float, list[Pass]]) -> tuple[list[dict], float]:
    """Per-rate latency and backlog rows, and the highest rate whose
    p90 meets LATENCY_LIMIT_S with a bounded backlog in every pass of
    the step (0 if none)."""
    rows, best = [], 0.0
    for rate, passes in sorted(steps.items()):
        lat = [j.latency for p in passes for j in p.jobs]
        growth = max(in_system_growth(p.jobs) for p in passes)
        ok = pct(lat, 90) <= LATENCY_LIMIT_S and growth <= 2.0
        rows.append({"rate": rate, "n": len(lat), "p50_s": pct(lat, 50),
                     "p90_s": pct(lat, 90), "growth": growth, "ok": ok})
        if ok:
            best = max(best, rate)
    return rows, best


def report(workload: str, setups: list[float], passes: list[Pass],
           spans: list[dict]) -> dict:
    """Print the workload's tables; return its JSON summary."""
    gated, rest = passes[0], passes[1:]
    legs = [p for p in rest if p.rate == LADDER[MIDDLE] or p.closed]
    untraced = [p for p in legs if not p.traced]
    traced = [p for p in legs if p.traced]
    e2e = end_to_end(gated, untraced, setups)
    every = [j for p in passes for j in p.jobs]
    failed = [j for j in every if j.failure]
    print(f"\n== {workload}: {WORKLOADS[workload]}")
    print(f"  setup starts: {', '.join(f'{s:.2f}' for s in setups)} s")
    print(f"  {'end-to-end metric':34s} {'value':>12s} {'unit':5s} {'n':>6s}")
    for name, unit in E2E.items():
        if name in GATED or untraced:
            value, n = e2e[name]
            print(f"  {name:34s} {value:12.4f} {unit:5s} {n:6d}")
    print(f"  {'failed_ratio':34s} {len(failed) / len(every):12.4f} "
          f"{'':5s} {len(every):6d}")
    for j in failed[:5]:
        print(f"    failed {j.job_id} {j.task} {j.args}: {j.failure}")
    out = {"correct": not failed, "attempted": len(every),
           "failed": len(failed)}
    if not traced:
        out["metrics"] = {k: {"value": e2e[k][0], "unit": E2E[k]}
                          for k in GATED}
        return out
    late = [(j.sent - j.due) * 1e3 for p in rest if p.rate
            for j in p.jobs]
    if late:
        print(f"  {'loadgen.lateness_p90_ms':34s} {pct(late, 90):12.4f} ms")
    steps: dict[float, list[Pass]] = {}
    if workload == "sql_small_open":
        for p in rest:
            if p.rate and not p.traced:
                steps.setdefault(p.rate, []).append(p)
    rows, best = ladder_rows(steps) if steps else ([], 0.0)
    if rows:
        print(f"  {'max_rate_within_limit_jobs_per_s':34s} {best:12.4f} 1/s"
              f"   (p90 <= {LATENCY_LIMIT_S:g} s, bounded backlog)")
        for r in rows:
            print(f"    rate {r['rate']:g}/s n={r['n']} p50={r['p50_s']:.3f}s"
                  f" p90={r['p90_s']:.3f}s backlog_growth={r['growth']:+.2f}"
                  f" {'within limit' if r['ok'] else 'over limit'}")
    t_e2e = end_to_end(gated, traced, setups)
    layer = per_layer(traced, spans)
    for k in E2E:
        if k not in GATED:
            layer[f"client.{k}"] = (e2e[k][0], E2E[k])
    layer["loadgen.lateness_p90_ms"] = (pct(late, 90), "ms")
    layer["loadgen.max_rate_within_limit_jobs_per_s"] = (best, "1/s")
    for i, rate in enumerate(LADDER):
        r = rows[i] if rows else {"p50_s": 0.0, "p90_s": 0.0}
        layer[f"loadgen.rate_{rate:g}_per_s.p50_s"] = (r["p50_s"], "s")
        layer[f"loadgen.rate_{rate:g}_per_s.p90_s"] = (r["p90_s"], "s")
    layer["trace.overhead.job_latency_p50_s"] = (
        t_e2e["job_latency_p50_s"][0] - e2e["job_latency_p50_s"][0], "s")
    layer["trace.overhead.jobs_per_s"] = (
        statistics.fmean(map(pass_rate, traced))
        - statistics.fmean(map(pass_rate, untraced)), "1/s")
    print(f"  {'per-layer metric (traced legs)':40s} {'value':>12s} unit")
    for name, (value, unit) in layer.items():
        print(f"  {name:40s} {value:12.4f} {unit}")
    out["metrics"] = {k: {"value": v, "unit": u}
                      for k, (v, u) in layer.items()}
    return out


# ---------------------------------------------------------------- main
def remove_stale_runs() -> None:
    """Delete run directories left by runs that were killed (their
    process, named by the directory's last ``-`` field, is gone)."""
    for name in os.listdir(TMP_ROOT) if os.path.isdir(TMP_ROOT) else ():
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)


def run_workload(workload: str, seed: int, seconds: float,
                 trace: bool) -> dict:
    """One workload in its own run directory; returns its JSON summary."""
    run_dir = os.path.join(TMP_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    servers: list[Server] = []
    phases = {"start": time.perf_counter()}
    try:
        data_dir = os.path.join(run_dir, "data")
        datagen.write(data_dir, seed)
        phases["data"] = time.perf_counter()
        start_servers(run_dir, workload in DISTRIBUTED, trace, servers)
        phases["setup"] = time.perf_counter()
        server, spare = servers[0], servers[1:]
        for s in spare:  # they shut down while the server warms up
            s.close()
        warm_up(server, workload)
        for s in spare:
            s.stop()
        phases["warm-up"] = time.perf_counter()
        passes = measure(server, workload, seed, seconds, trace)
        phases["traffic"] = time.perf_counter()
        dump = server.dump([j.job_id for p in passes for j in p.jobs])
        server.close()  # it shuts down while the results are checked
        from check import Checker

        finish(passes, dump["records"], Checker(data_dir),
               os.path.join(server.work_dir, "results"))
        server.stop()
        phases["check"] = time.perf_counter()
        out = report(workload, [s.setup_s for s in servers], passes,
                     dump["spans"])
        names, times = list(phases), list(phases.values())
        print("  wall time: " + ", ".join(
            f"{n} {b - a:.1f} s" for n, a, b in zip(names[1:], times, times[1:])))
        return out
    except Exception:
        for s in servers:
            print(s.log_tail(), file=sys.stderr)
        raise
    finally:
        for s in servers:
            s.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    # SIGTERM unwinds like Ctrl-C, so the servers are stopped and the run
    # directory removed; a second one must not cut that short.
    def terminate(*_) -> None:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminate)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default=",".join(WORKLOADS),
                   help="workload name, or a comma-separated subset")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20.0,
                   help="length of the measured traffic: the timed SQL "
                   f"burst holds {BURST_JOBS_PER_S:g} jobs per second of "
                   f"it, the operator loop one round per {ROUND_S:g} s")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    names = args.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        p.error(f"unknown workload(s) {unknown}; choose from {list(WORKLOADS)}")
    remove_stale_runs()
    results = {n: run_workload(n, args.seed, args.seconds, bool(args.trace))
               for n in names}
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
