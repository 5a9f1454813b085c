"""Benchmark server: the engine as ``python -m dungbeetle_spark`` wires
it (``config.build_core`` + ``http_api.Server``), plus a control
channel on stdin and optional span tracing.

Run by ``run.py`` as a child process with a fresh directory of the run as
its working directory::

    python3 server.py CONFIG.toml SQL_DIR [--distributed] [--trace]

It prints ``ready <url>`` on stdout once the HTTP server listens, then
reads one command per line from stdin and answers each with ``ok``:

- ``trace on`` / ``trace off``: start or stop recording spans (only
  with ``--trace``, which installs the wrappers at start-up);
- ``dump IDS OUT``: write the job records for the job ids listed in
  the JSON file IDS, and every recorded span, as JSON to OUT.

End of stdin stops the HTTP server and the engine and exits.

With ``--trace`` the public entry points of each engine module are
wrapped from here (``spans.install``); no span is inside the engine.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("config")
    p.add_argument("sql_dir")
    p.add_argument("--distributed", action="store_true")
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)

    from dungbeetle_spark.config import build_core, load_config

    overrides = {"sql_directory": [args.sql_dir]}
    if args.distributed:
        overrides.update(distributed="true", job_store="jobs.db")
    cfg = load_config(args.config, overrides=overrides)

    recorder = None
    if args.trace:
        from spans import Recorder, install

        recorder = Recorder()
        install(recorder)

    core = build_core(cfg)
    core.start()
    from dungbeetle_spark.http_api import Server

    server = Server(core, "127.0.0.1", 0)
    server.start()
    print(f"ready {server.address}", flush=True)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if cmd == ["trace", "on"] and recorder is not None:
                recorder.enabled = True
            elif cmd == ["trace", "off"] and recorder is not None:
                recorder.enabled = False
            elif len(cmd) == 3 and cmd[0] == "dump":
                _dump(core, recorder, cmd[1], cmd[2])
            else:
                print(f"error: unknown command {line.strip()!r}", flush=True)
                continue
            print("ok", flush=True)
    finally:
        server.stop()
        core.stop()
    return 0


def _dump(core, recorder, ids_path: str, out_path: str) -> None:
    with open(ids_path) as f:
        ids = json.load(f)
    records = {}
    for job_id in ids:
        try:
            records[job_id] = asdict(core.store.get(job_id))
        except KeyError:
            records[job_id] = None
    spans = recorder.snapshot() if recorder is not None else []
    with open(out_path, "w") as f:
        json.dump({"records": records, "spans": spans}, f)


if __name__ == "__main__":
    raise SystemExit(main())
