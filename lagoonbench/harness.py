"""Process set-up, loopback HTTP client and statistics shared by the
workloads.

Importing this module starts nothing. :func:`prepare_process` must run
before pyspark is imported: it points every scratch location (temp
files, Spark local dirs, the JVM's tmpdir) inside the run's work
directory, so a run reads and writes only inside the checkout.
"""

from __future__ import annotations

import http.client
import json
import os
import resource
import shlex
import statistics
import subprocess
import time
from dataclasses import dataclass, field

CPUS = "2"
DRIVER_MEM = "2g"
BENCH_USER = "bench"
# requests sent as this user are traced in a --trace 1 run; both users
# read the same public datasets through the same ACL path
TRACED_USER = "tbench"


def prepare_process(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp directory, from the Spark
    # launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    confs = {
        # a heap fixed at its maximum size and touched at start: peak
        # RSS then does not depend on how much of the heap the garbage
        # collector happened to use
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:InitialHeapSize={DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads per-job stage metrics from the status
        # store; keep every job of a run (both modes, same settings)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--driver-memory {DRIVER_MEM}"]
        + [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"]
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session():
    """The program's own session factory, plus shipping the package to
    Python workers (without it a Python-UDF path fails with
    ModuleNotFoundError when the Python process runs from another
    directory)."""
    from lagoon_spark.session import ensure_workers_can_import, get_spark

    spark = get_spark("lagoonbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_workers_can_import(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM (and with
    it the Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quiesce(spark) -> None:
    """Collect garbage in Python and in the Spark JVM, outside any timed
    region: every measured stretch then starts from the same heap state
    instead of paying for a collection its predecessors made due."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def new_engine(spark, warehouse: str):
    from lagoon_spark.engine import Lagoon

    eng = Lagoon(spark, warehouse, user=BENCH_USER, default_public=True)
    eng.init_db()
    return eng


def op(tracer, kind: str, traced: bool):
    """``tracer.op`` in a traced run, a no-op context otherwise."""
    import contextlib

    return tracer.op(kind, traced) if tracer is not None else contextlib.nullcontext()


def start_server(engine):
    """An in-process ``LagoonServer`` on a free loopback port."""
    from lagoon_spark.server import LagoonServer

    srv = LagoonServer(engine, port=0)
    srv.start()
    return srv


@dataclass
class Response:
    status: int
    body: bytes
    first_byte_s: float  # request sent -> status line and headers read
    total_s: float  # request sent -> last body byte read


def expect_ok(r: "Response") -> None:
    """Set-up requests must succeed; a failure there aborts the run."""
    if r.status != 200:
        raise RuntimeError(f"set-up request failed: HTTP {r.status} {r.body[:200]!r}")


class Client:
    """One keep-alive loopback connection; a closed-loop session."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def _do(self, method: str, path: str, body: bytes | None, user: str) -> Response:
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=body, headers={"X-Lagoon-User": user})
            r = self.conn.getresponse()
            t1 = time.perf_counter()
            data = r.read()  # every byte of the (chunked) stream
        except (http.client.HTTPException, OSError):
            self.conn.close()
            raise
        t2 = time.perf_counter()
        if r.getheader("Connection", "").lower() == "close":
            self.conn.close()  # the server drops the socket after an error
        return Response(r.status, data, t1 - t0, t2 - t0)

    def sql(self, query: str, fmt: str = "csv", user: str = BENCH_USER) -> Response:
        return self._do("POST", f"/sql?format={fmt}", query.encode(), user)

    def sources(self, query: str, user: str = BENCH_USER) -> Response:
        return self._do("GET", "/sources?" + query, None, user)

    def close(self) -> None:
        self.conn.close()


# -- statistics ----------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile; 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return float(s[k])


# What :func:`host_probe` takes on an idle host (4 vCPUs of a 2.1 GHz
# Xeon). Gated times are scaled to this speed; see :func:`at_ref`.
REF_PROBE_S = 0.016


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes: how fast the host runs
    this process right now. The benchmark runs it while the program is
    idle (between requests, journey steps and set-up phases)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(200_000):
        x ^= i * i
    return time.perf_counter() - t0


def at_ref(value: float, probes) -> float:
    """``value``, a time measured in this run, scaled to the speed of a
    host on which the probe takes :data:`REF_PROBE_S`.

    The host is shared: neighbours' load slows a whole run, set-up and
    window alike, by up to 40%, and a run's latencies follow the median
    probe of the run, if not fully (over ten runs of each workload on
    one machine, the spread of ``op_ms`` fell from 0.20 to 0.11 of its
    median for ``sql_serve`` and from 0.19 to 0.15 for ``llm_pipeline``
    when scaled). No request, journey step or set-up phase runs during
    a probe, so a change to the program moves the scaled time as it
    moves the raw one."""
    return value * REF_PROBE_S / median(probes)


def mix_ms(samples: dict, weights: dict) -> float:
    """Mean latency of a request drawn from the mix, with every request
    class at its median: ``samples`` maps a class to its latencies in
    seconds, ``weights`` a class to its share of the mix. Classes with
    no sample are left out and the rest re-weighted. One slow outlier
    moves a class median little, and unlike the median of all requests
    this does not jump when the middle falls between two classes."""
    seen = {c: w for c, w in weights.items() if samples.get(c)}
    total = sum(seen.values())
    return sum(w * median(samples[c]) for c, w in seen.items()) / total * 1e3 if total else 0.0


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the benchmark's Python driver plus
    the Spark JVM it launched (``VmHWM`` of the JVM process)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    try:
        with open(f"/proc/{_jvm_pid(spark)}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return own + jvm


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM's Python workers)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def cpu_seconds(spark) -> float:
    """CPU time (user + system) used so far by this process, the Spark
    JVM and the JVM's Python workers. Unlike wall time it does not count
    time the host gave to other tenants."""
    tick = os.sysconf("SC_CLK_TCK")
    ru = resource.getrusage(resource.RUSAGE_SELF)
    total = ru.ru_utime + ru.ru_stime
    for pid in _tree(_jvm_pid(spark)):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / tick
        except (OSError, IndexError, ValueError):
            pass
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # end-to-end metric -> value
    detail: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    op_ms: list = field(default_factory=list)  # every untraced operation's latency
    probes: list = field(default_factory=list)  # host_probe() seconds
    layers: dict = field(default_factory=dict)  # per-layer metric -> value

    def probe(self, n: int = 1) -> None:
        self.probes.extend(host_probe() for _ in range(n))

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    def timing(self, name: str, samples, unit: str, scale: float = 1.0) -> float:
        """Record a median with its sample count in the detail report."""
        v = median(samples) * scale
        self.detail[name] = (v, unit, len(samples))
        return v


def canon(v):
    """Cross-engine cell normal form, applied to both sides of a check:
    a number (whatever its text form) becomes a float rounded to six
    decimals, an empty or absent cell becomes None, the rest is text."""
    if v is None or v == "":
        return None
    s = str(v)
    try:
        return round(float(s), 6)
    except ValueError:
        return s


def same_rows(got: list, want: list) -> bool:
    """Order-insensitive equality of two row lists in :func:`canon` form."""
    key = repr
    g = sorted((tuple(canon(x) for x in r) for r in got), key=key)
    w = sorted((tuple(canon(x) for x in r) for r in want), key=key)
    return g == w


def parse_csv_body(body: bytes) -> tuple[list, list]:
    import csv
    import io

    rows = list(csv.reader(io.StringIO(body.decode("utf-8"))))
    return (rows[0] if rows else []), rows[1:]


def parse_json_body(body: bytes) -> list[dict]:
    return [json.loads(line) for line in body.decode("utf-8").splitlines() if line]
