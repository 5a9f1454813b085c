"""Load generator: seeded traffic against the engine's HTTP API.

One process, with no more threads than the host has cores (the
sender and two status pollers, or the closed-loop clients), each with
at most one open connection. Every request records its client round
trip; job latency itself is computed later from the job record's
``finished_at``.
"""

from __future__ import annotations

import heapq
import http.client
import json
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

TERMINAL = ("SUCCESS", "FAILURE")
POLL_S = 0.05  # a client's status-poll period
POLLERS = 2  # open-loop status-polling threads
RESULT_ROWS = 20  # rows a client reads back from a finished job
JOB_TIMEOUT_S = 60.0  # a job not terminal this long after its send fails


class HttpError(Exception):
    pass


class Http:
    """Minimal JSON client for the engine's envelope; one connection
    per request, as the server speaks HTTP/1.0."""

    def __init__(self, url: str, timeout: float = 30.0) -> None:
        u = urlparse(url)
        self.host, self.port, self.timeout = u.hostname, u.port, timeout

    def call(self, method: str, path: str, body: dict | None = None):
        """Return (data, round-trip seconds); raise HttpError on any
        transport error or error envelope."""
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection(self.host, self.port,
                                          timeout=self.timeout)
        try:
            payload = None if body is None else json.dumps(body)
            headers = {"Content-Type": "application/json"} if body else {}
            conn.request(method, path, body=payload, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
        except OSError as exc:
            raise HttpError(f"{method} {path}: {exc}") from exc
        finally:
            conn.close()
        rt = time.perf_counter() - t0
        try:
            env = json.loads(raw)
        except json.JSONDecodeError as exc:
            raise HttpError(f"{method} {path}: bad body {raw[:80]!r}") from exc
        if resp.status != 200 or env.get("status") != "success":
            raise HttpError(f"{method} {path}: {resp.status} {env.get('message')}")
        return env["data"], rt


@dataclass
class Job:
    job_id: str
    task: str
    args: list[str]
    due: float = 0.0  # wall time the send was scheduled for (open loop)
    sent: float = 0.0  # wall time the POST was sent
    post_ms: float | None = None
    status_ms: list[float] = field(default_factory=list)
    result_ms: float | None = None
    state: str = ""  # last state a client saw
    count: int | None = None  # status `count` of the SUCCESS poll
    error: str = ""  # client-side failure (HTTP error, timeout)
    # Filled in after the run from the job record and the output check.
    finished: float | None = None  # record's finished_at
    failure: str = ""  # why the job counts as failed; "" if it did not
    latency: float = 0.0  # seconds from due (open) or sent (closed)


def post(http: Http, job: Job) -> None:
    job.sent = time.time()
    try:
        _, rt = http.call("POST", f"/tasks/{job.task}/jobs",
                          {"job_id": job.job_id, "args": job.args})
        job.post_ms = rt * 1e3
    except HttpError as exc:
        job.error = str(exc)


def poll_once(http: Http, job: Job, read_result: bool = True) -> bool:
    """One status poll; on SUCCESS also read the first result rows
    (with ``read_result``). Return True once the job is terminal (or
    failed client-side)."""
    try:
        st, rt = http.call("GET", f"/jobs/{job.job_id}")
    except HttpError as exc:
        job.error = str(exc)
        return True
    job.status_ms.append(rt * 1e3)
    job.state = st["state"]
    if job.state not in TERMINAL:
        if time.time() - job.sent > JOB_TIMEOUT_S:
            job.error = f"timeout in state {job.state}"
            return True
        return False
    if job.state == "SUCCESS":
        job.count = st["count"]
        if read_result:
            try:
                _, rt = http.call(
                    "GET", f"/jobs/{job.job_id}/result?limit={RESULT_ROWS}")
                job.result_ms = rt * 1e3
            except HttpError as exc:
                job.error = str(exc)
    return True


def open_loop(http: Http, jobs: list[tuple[float, Job]],
              poll: bool) -> float:
    """Send each job at its offset (seconds) from now, whatever the
    server's progress, and return the wall time offsets count from.
    With ``poll``, client threads poll every sent job's status until it
    is terminal and then read its result."""
    heap: list[tuple[float, int, Job]] = []
    cv = threading.Condition()
    sending = [True]

    def poller() -> None:
        while True:
            with cv:
                while not heap and sending[0]:
                    cv.wait()
                if not heap:
                    return
                due, _, job = heap[0]
                wait = due - time.monotonic()
                if wait > 0:
                    cv.wait(wait)
                    continue
                heapq.heappop(heap)
            if not poll_once(http, job):
                with cv:
                    heapq.heappush(heap, (time.monotonic() + POLL_S,
                                          id(job), job))
                    cv.notify()

    threads = [threading.Thread(target=poller, daemon=True)
               for _ in range(POLLERS if poll else 0)]
    for t in threads:
        t.start()
    t0 = time.time() + 0.05
    try:
        for offset, job in jobs:
            job.due = t0 + offset
            delay = job.due - time.time()
            if delay > 0:
                time.sleep(delay)
            post(http, job)
            if poll and not job.error:
                with cv:
                    heapq.heappush(heap, (time.monotonic() + POLL_S,
                                          id(job), job))
                    cv.notify()
    finally:
        with cv:
            sending[0] = False
            cv.notify_all()
        for t in threads:
            t.join()
    return t0


def closed_loop(http: Http, jobs: list[Job], clients: int) -> list[float]:
    """``clients`` threads each take the next job in order, send it,
    poll it to a terminal state and read its result, until all ran.
    Return each client's busy time: from the start until it found no
    job left."""
    lock = threading.Lock()
    queue = list(jobs)
    busy: list[float] = []
    t0 = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                if not queue:
                    busy.append(time.perf_counter() - t0)
                    return
                job = queue.pop(0)
            post(http, job)
            if job.error:
                continue
            while not poll_once(http, job):
                time.sleep(POLL_S)

    threads = [threading.Thread(target=client, daemon=True)
               for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return busy


def wait_idle(http: Http, timeout: float = JOB_TIMEOUT_S) -> None:
    """Block until the engine reports no PENDING/STARTED/RETRY job."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        data, _ = http.call("GET", "/metrics")
        by_state = data["jobs_by_state"]
        if not any(by_state.get(s) for s in ("PENDING", "STARTED", "RETRY")):
            return
        time.sleep(0.05)
    raise HttpError(f"engine still busy after {timeout:.0f}s")
