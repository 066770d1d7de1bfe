"""Serving benchmark: the shipped `--data` server, driven over HTTP and TCP.

    python3 perfbench/run.py --workload dashboard|explore --seed N \
        --seconds S --trace 0|1

Run from the repository root. One run:

1. set-up (`setup_s`): start `python -m graphite_clickhouse_spark
   --config <bench toml> --data <empty IngestJob layout> --carbon-listen`
   as a subprocess, load the seeded store through the carbon receiver
   (the engine's own write path: spool -> parse_carbon_lines ->
   IngestJob.write_batch), wait until the stream has committed it, then
   run one untimed warm pass of the workload;
2. the timed read phase: one block per request class, in which every
   closed-loop client replays its fixed-length seeded script of that
   class;
3. the drain: one TCP writer sends a fixed seeded batch as fast as the
   socket allows; the batch counts as drained when the stream has
   committed its spool file, and the stored rows are checked on disk;
4. freshness: a probe point sent right after a frame refresh, timed
   until /render shows it;
5. footprint (`rss_mb`): the server is left idle until its JVM has run
   the periodic full collection, then its resident memory is read;
6. the server is stopped (every process of its session) and the work
   directory is removed.

Every answer is checked against the generator (`gen.check`). The last
line of stdout is the JSON result; with `--trace 1` the server runs
under `trace_server.py` and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

#: closed-loop clients per workload
WORKLOADS = {"dashboard": 2, "explore": 2}
#: end-to-end metrics (name, unit), as BENCHMARK.json declares them
END_TO_END = (
    ("setup_s", "s"), ("req_per_s", "req/s"), ("render_p50_ms", "ms"),
    ("find_p50_ms", "ms"), ("tagged_p50_ms", "ms"),
    ("promql_p50_ms", "ms"), ("tags_p50_ms", "ms"),
    ("ingest_pts_per_s", "points/s"), ("freshness_s", "s"),
    ("stored_bytes_per_point", "bytes"), ("rss_mb", "MB"),
)
HTTP_TIMEOUT = 90
#: the server's JVM runs a full collection once no collection has run for
#: this long; longer than any gap between collections under load
IDLE_GC_S = 4
RUN_DEADLINE = 170  # seconds; the run must end within 180


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def server_env(work: str, cpus: int, mem_mb: int) -> dict:
    """Pin the server to this host: all cores, a heap sized to memory,
    temporary files inside the work directory; the JVM collects in full
    when idle and logs its collections to `gc.log`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gb = max(1, min(4, mem_mb // 1024 // 6))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -XX:+UseG1GC -XX:G1PeriodicGCInterval={IDLE_GC_S * 1000}"
            f" -XX:-G1PeriodicGCInvokesConcurrent"
            f" -Xlog:gc:file={os.path.join(work, 'gc.log')}"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONUNBUFFERED": "1",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def write_config(work: str) -> str:
    """The benchmark's server config: the in-process find cache on (the
    way a Grafana deployment runs) and the avg/sum rollup rules."""
    path = os.path.join(work, "graphite.toml")
    with open(path, "w") as fh:
        fh.write(
            "[common.find-cache]\n"
            'type = "mem"\n'
            'default-timeout = "1h"\n'
            'short-timeout = "60s"\n'
            'find-timeout = "10m"\n'
            "\n[clickhouse]\n"
            f'rollup-conf = "{os.path.join(HERE, "rollup.xml")}"\n'
        )
    return path


class Server:
    """The server subprocess and the processes it starts."""

    def __init__(self, work: str, traced: bool, env: dict):
        self.data = os.path.join(work, "data")
        for sub in ("points", "path_index", "tags_index"):
            os.makedirs(os.path.join(self.data, sub), exist_ok=True)
        self.log_path = os.path.join(work, "server.log")
        self.gc_log = os.path.join(work, "gc.log")
        self.spans_path = os.path.join(work, "spans.json")
        self.traced = traced
        args = ["--config", write_config(work), "--data", self.data,
                "--listen", "127.0.0.1:0", "--carbon-listen", "127.0.0.1:0"]
        if traced:
            cmd = [sys.executable, os.path.join(HERE, "trace_server.py"),
                   self.spans_path, *args]
        else:
            cmd = [sys.executable, "-m", "graphite_clickhouse_spark", *args]
        self.t_spawn = time.monotonic()
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdout=self._log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, env=env,
                                     start_new_session=True)
        self.http = self.carbon = None
        self.warmup_s = 0.0

    def wait_listening(self, deadline: float, carbon_only: bool = False) -> float:
        """Block until the carbon receiver (and, unless `carbon_only`, the
        HTTP listener) is announced; seconds since spawn."""
        while time.monotonic() < deadline:
            with open(self.log_path) as fh:
                text = fh.read()
            for line in text.splitlines():
                if line.startswith("carbon plaintext listening on "):
                    host, port = line.rsplit(" ", 1)[1].split(":")
                    self.carbon = (host, int(port))
                elif line.startswith("warmup: "):
                    self.warmup_s = sum(float(kv.split("=")[1].rstrip("s"))
                                        for kv in line.split()[1:])
                elif "listening on http://" in line:
                    hostport = line.rsplit("http://", 1)[1]
                    host, port = hostport.strip().split(":")
                    self.http = (host, int(port))
            if self.carbon and (carbon_only or self.http):
                return time.monotonic() - self.t_spawn
            if self.proc.poll() is not None:
                raise RuntimeError("server exited:\n" + text[-3000:])
            time.sleep(0.05)
        raise RuntimeError("server did not start in time")

    def members(self) -> list[tuple[int, int]]:
        """(pid, parent pid) of the live (non-zombie) processes of the
        server's session: the server, its JVM and the Python workers (the
        pyspark daemon moves to a process group of its own, but stays in
        the session)."""
        out = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == self.proc.pid and fields[0] != "Z":
                out.append((int(pid), int(fields[1])))
        return out

    def rss_mb(self) -> tuple[float, float]:
        """Resident memory of (the server's Python process and its JVM,
        the pyspark workers under the JVM). The workers are apart
        because their number follows how many tasks ran at once."""
        server = workers = 0
        for pid, ppid in self.members():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except OSError:
                continue
            if self.proc.pid in (pid, ppid):
                server += pages
            else:
                workers += pages
        page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
        return server * page_mb, workers * page_mb

    def idle_gcs(self) -> int:
        """Periodic (idle) full collections the JVM has logged so far."""
        try:
            with open(self.gc_log) as fh:
                return fh.read().count("(G1 Periodic Collection)")
        except OSError:
            return 0

    def idle_rss_mb(self, deadline: float) -> float:
        """Median resident memory of the server's Python process and JVM
        after the JVM's next idle full collection: what the server keeps,
        not the garbage its heap holds at the moment, which follows the
        timing of the collector and moved the read-phase median by up to
        29% between runs."""
        seen = self.idle_gcs()
        limit = min(deadline, time.monotonic() + 4 * IDLE_GC_S)
        while self.idle_gcs() == seen:
            if time.monotonic() > limit:
                raise RuntimeError("the JVM ran no idle collection")
            time.sleep(0.1)
        time.sleep(1.0)  # the freed heap is given back to the OS concurrently
        samples = []
        for _ in range(5):
            samples.append(self.rss_mb()[0])
            time.sleep(0.2)
        return statistics.median(samples)

    def stop(self) -> None:
        """Stop the whole group and wait for every member to exit. The
        traced launcher alone gets SIGTERM first, to write its spans
        while its JVM is still up; the shipped server holds nothing
        worth a graceful stop."""
        if self.traced and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            pids = self.members()
            if not pids:
                break
            for pid, _ppid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self._log.close()


def http_get(addr, url: str, headers: dict | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection(*addr, timeout=HTTP_TIMEOUT)
    try:
        conn.request("GET", url, headers=headers or {})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def send_carbon(addr, payload: bytes) -> None:
    with socket.create_connection(addr) as s:
        s.sendall(payload)
        s.shutdown(socket.SHUT_WR)
        s.recv(1)  # the receiver closes after draining our bytes


def spool_committed(data: str) -> tuple[int, int]:
    """(spool files written, spool files the stream has committed)."""
    spool = os.path.join(data, "spool")
    files = {f for f in os.listdir(spool) if f.endswith(".txt")}
    ckpt = os.path.join(data, "checkpoint")
    commits = os.path.join(ckpt, "commits")
    done = set()
    if os.path.isdir(commits):
        for bid in os.listdir(commits):
            if not bid.isdigit():
                continue
            # the source log compacts every few batches into <id>.compact
            for name in (bid, bid + ".compact"):
                try:
                    with open(os.path.join(ckpt, "sources", "0", name)) as fh:
                        for line in fh:
                            if line.startswith("{"):
                                done.add(os.path.basename(
                                    json.loads(line)["path"]))
                except OSError:
                    continue
    return len(files), len(files & done)


def wait_committed(data: str, min_files: int, deadline: float) -> float:
    """Block until at least `min_files` spool files exist and the stream
    has committed all of them; returns the monotonic time of that."""
    while time.monotonic() < deadline:
        n, done = spool_committed(data)
        if n >= min_files and done == n:
            return time.monotonic()
        time.sleep(0.02)
    raise RuntimeError("stream did not commit the spool in time")


def points_files(data: str) -> dict[str, int]:
    out = {}
    for dp, _dn, fn in os.walk(os.path.join(data, "points")):
        for f in fn:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dp, f)
                out[p] = os.path.getsize(p)
    return out


def check_drained(files: list[str], n: int, total: float) -> None:
    """Every drained point is stored exactly once with its value."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows, vsum = 0, 0.0
    for f in files:
        t = pq.read_table(f, columns=["path", "value"])
        live = pc.starts_with(t["path"], "live")
        t = t.filter(live)
        rows += t.num_rows
        vsum += pc.sum(t["value"]).as_py() or 0.0
    if rows != n or abs(vsum - total) > 1e-6 * max(1.0, total):
        raise gen.Mismatch(f"drain: stored {rows} points (sum {vsum}), "
                           f"want {n} (sum {total})")


class Recorder:
    """Per-request samples and failures, shared by the client threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.samples: list[tuple[str, float, float, str]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        with self.lock:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(what)

    def ok(self, cls: str, t0: float, t1: float, rid: str) -> None:
        with self.lock:
            self.attempted += 1
            self.samples.append((cls, t0, t1, rid))


def run_script(addr, store, script, rec: Recorder, tag: str) -> None:
    """One closed-loop client: the next request goes out when the
    previous answer is in and checked."""
    for i, r in enumerate(script):
        rid = f"{tag}-{i}"
        t0 = time.monotonic()
        try:
            status, body = http_get(addr, r.url, {"X-Bench-Id": rid,
                                                  "X-Bench-Class": r.cls})
            t1 = time.monotonic()
            gen.check(store, r, status, body)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            rec.fail(f"{r.cls} {r.url[:120]}: {exc}")
            continue
        rec.ok(r.cls, t0, t1, rid)


def run_clients(addr, store, scripts, rec, tag) -> None:
    threads = [threading.Thread(target=run_script,
                                args=(addr, store, s, rec, f"{tag}{c}"))
               for c, s in enumerate(scripts)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def wait_visible(srv: Server, path: str, value: int, t0: float) -> float:
    """Poll /render until `path` carries `value`; seconds since `t0`."""
    now = int(time.time())
    url = (f"/render?target={path}&from={now - 86400}&until={now + 120}"
           f"&format=json&noCache=1")
    while True:
        status, body = http_get(srv.http, url, {"X-Bench-Class": "probe"})
        if status == 200 and gen.probe_visible(body, path, value):
            return time.monotonic() - t0
        if time.monotonic() - t0 > 60:
            raise RuntimeError(f"{path} not visible after 60 s")


def probe(srv: Server, seed: int, rec: Recorder) -> float:
    """One freshness probe: send a point right after a frame refresh made
    the previous write visible, poll /render until the probe shows; the
    time is one refresh cycle plus the stream's commit latency."""
    now = int(time.time())
    path, line, value = gen.probe_line(seed, now)
    t0 = time.monotonic()
    try:
        send_carbon(srv.carbon, line)
        seconds = wait_visible(srv, path, value, t0)
    except Exception as exc:  # noqa: BLE001 - every failure is counted
        rec.fail(f"probe {path}: {exc}")
        return 0.0
    with rec.lock:
        rec.attempted += 1
    return seconds


def pct(xs: list[float], q: float) -> float:
    """The q-th percentile (0 < q < 100) by statistics.quantiles."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def run(workload: str, seed: int, seconds: int, traced: bool,
        live: list) -> dict:
    t_start = time.monotonic()
    deadline = t_start + RUN_DEADLINE
    hi_start = host_info()
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = Recorder()
    setup: dict[str, float] = {}
    srv = spans = None
    try:
        anchor = gen.midnight_anchor(time.time())
        store = gen.make_store(seed, anchor)
        clients = WORKLOADS[workload]
        scripts = (gen.dashboard_scripts if workload == "dashboard"
                   else gen.explore_scripts)
        warm, blocks = scripts(seed, anchor, clients, seconds)
        lines = store.lines()
        srv = Server(work, traced, server_env(work, hi_start["nproc"],
                                              hi_start["mem_total_mb"]))
        live.append(srv)
        # the store goes in through the carbon receiver and the stream as
        # soon as the receiver listens, beside the server's own warm-up
        srv.wait_listening(deadline, carbon_only=True)
        t0 = time.monotonic()
        send_carbon(srv.carbon, lines)
        setup["server_start_s"] = srv.wait_listening(deadline)
        setup["warmup_s"] = srv.warmup_s
        wait_committed(srv.data, -(-store.points // 50_000), deadline)
        # the first request swaps in the stored frames; before it, a
        # concurrent request could still see the empty start-up frames
        run_script(srv.http, store, [gen.find_request("appA.*", True)], rec, "v")
        setup["store_build_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        run_clients(srv.http, store, warm, rec, "warm")
        setup["warm_pass_s"] = time.monotonic() - t0
        rec.samples.clear()

        # timed read phase: one block per request class, every client of a
        # block sending that class only, so each class is timed under the
        # same load in every run
        setup_s = time.monotonic() - t_start
        rss: list[tuple[float, float]] = []
        stop = threading.Event()

        def sample_rss():
            while not stop.wait(1.0):
                rss.append(srv.rss_mb())

        sampler = threading.Thread(target=sample_rss)
        sampler.start()
        try:
            idle_gcs = srv.idle_gcs()
            r0 = time.monotonic()
            for cls, scripts in blocks:
                run_clients(srv.http, store, scripts, rec, f"c-{cls}-")
            r1 = time.monotonic()
            idle_gcs = srv.idle_gcs() - idle_gcs
        finally:
            stop.set()
            sampler.join()

        # drain: one spool file's worth of lines as fast as the socket allows
        before = points_files(srv.data)
        payload, n_drain, total, sentinel = gen.drain_lines(seed, anchor)
        n_spool = spool_committed(srv.data)[0]
        d0, d0_wall = time.monotonic(), time.time()
        send_carbon(srv.carbon, payload)
        d1 = wait_committed(srv.data, n_spool + 1, deadline)
        after = points_files(srv.data)
        new = [p for p in after if p not in before]
        try:
            check_drained(new, n_drain, total)
            with rec.lock:
                rec.attempted += 1
        except gen.Mismatch as exc:
            rec.fail(str(exc))
        spool = os.path.join(srv.data, "spool")
        last_spool = max(os.path.getmtime(os.path.join(spool, f))
                         for f in os.listdir(spool) if f.endswith(".txt"))
        drain = {"points": n_drain, "seconds": d1 - d0,
                 "bytes": sum(after[p] for p in new), "files": len(new),
                 "spool_s": max(1e-3, last_spool - d0_wall), "t0": d0, "t1": d1}
        # freshness: lock onto the refresh cycle with the sentinel, then probe
        wait_visible(srv, sentinel, 1, d1)
        fresh = probe(srv, seed, rec)
        idle_rss = srv.idle_rss_mb(deadline)
    finally:
        t_stop = time.monotonic()
        if srv is not None:
            srv.stop()
            live.remove(srv)
            if traced and os.path.exists(srv.spans_path):
                with open(srv.spans_path) as fh:
                    spans = json.load(fh)
        setup["stop_s"] = time.monotonic() - t_stop
        if rec.errors:
            print("failures:\n  " + "\n  ".join(rec.errors), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    by_cls: dict[str, list[float]] = {}
    for cls, a, b, _rid in rec.samples:
        by_cls.setdefault(cls, []).append((b - a) * 1000)
    values = {
        "setup_s": setup_s,
        "req_per_s": len(rec.samples) / (r1 - r0),
        "render_p50_ms": pct(by_cls.get("render", []), 50),
        "find_p50_ms": pct(by_cls.get("find", []), 50),
        "tagged_p50_ms": pct(by_cls.get("tagged", []), 50),
        "promql_p50_ms": pct(by_cls.get("promql", []), 50),
        "tags_p50_ms": pct(by_cls.get("tags", []), 50),
        "ingest_pts_per_s": drain["points"] / drain["seconds"],
        "freshness_s": fresh,
        "stored_bytes_per_point": drain["bytes"] / drain["points"],
        "rss_mb": idle_rss,
    }
    metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "traced": traced,
        "host_start": hi_start, "host_end": host_info(),
        "samples": {c: len(v) for c, v in sorted(by_cls.items())},
        # too few samples for a gated tail (p90 needs 100): diagnostic only
        "render_p90_ms": pct(by_cls.get("render", []), 90),
        "latency_ms": {c: [round(pct(v, q), 1) for q in (1, 25, 50, 75, 99)]
                       for c, v in sorted(by_cls.items())},
        # memory under load, by the 1 Hz samples of the read phase, and the
        # idle full collections that fell into it (each a pause)
        "read_rss_mb": round(pct([r[0] for r in rss], 50), 1),
        "workers_rss_mb": round(pct([r[1] for r in rss], 50), 1),
        "rss_samples": len(rss),
        "read_phase_idle_gcs": idle_gcs,
        "ok_frac": (rec.attempted - rec.failed) / max(1, rec.attempted),
        "read_phase_s": r1 - r0, "setup": setup,
        "drain": {k: v for k, v in drain.items() if k not in ("t0", "t1")},
        "metrics": {k: v[0] for k, v in metrics.items()},
    }
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if traced:
        lay = layers.layer_metrics(spans or {}, rec.samples, setup, drain, r1 - r0)
        detail["layers"] = {k: v for k, (v, _u) in lay.items()}
        out = {k: {"value": v, "unit": u} for k, (v, u) in lay.items()}
    print("perfbench-detail " + json.dumps(detail))
    return {"correct": rec.failed == 0, "attempted": max(1, rec.attempted),
            "failed": rec.failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("graphite_clickhouse_spark", "__main__.py")):
        print("run from the repository root: graphite_clickhouse_spark/ not found",
              file=sys.stderr)
        return 2
    live: list[Server] = []

    def overstay():
        # a run past its limit, or told to stop, stops its server and
        # exits without a result
        print("run stopped before the end", file=sys.stderr)
        for srv in list(live):
            srv.stop()
        os._exit(3)

    watchdog = threading.Timer(RUN_DEADLINE, overstay)
    watchdog.daemon = True
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda _s, _f: overstay())
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), live)
    watchdog.cancel()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
