"""Build, launch and measure helpers shared by the workloads."""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "sbt-target", "scala-2.13", "classes")
SPARK_JARS = os.environ.get("SPARK_HOME", "/opt/spark") + "/jars"
STAMP = os.path.join(BUILD_DIR, "stamp")

# Spark 4 on JDK 17 needs these outside spark-submit (the program's
# build.sbt passes the same list to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return os.cpu_count() or 4


def _source_digest():
    """Digest of every source the harness is compiled from."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "scala"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program's main sources with the harness (sbt, offline)
    unless the class directory already matches the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) to build")
    digest = _source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building harness + program (sbt compile)")
    t0 = time.time()
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "compile"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


class Scratch:
    """One run's private directory: JVM tmpdir, Spark local dir, warehouse,
    stores and inputs all live here, and it is removed when the run ends."""

    def __init__(self):
        base = os.path.join(BUILD_DIR, "runs")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=base)
        self.tmp = self.sub("tmp")

    def sub(self, name):
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def file(self, name):
        return os.path.join(self.path, name)

    def close(self):
        shutil.rmtree(self.path, ignore_errors=True)


def java_cmd(scratch, main, args, xmx="2g", gc="-XX:+UseParallelGC"):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xmx{xmx}", gc, "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={scratch.tmp}",
        f"-Dspark.local.dir={scratch.tmp}",
        f"-Dspark.sql.warehouse.dir={scratch.sub('warehouse')}",
        f"-Dderby.system.home={scratch.tmp}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*", main] + [str(a) for a in args])


class Procs:
    """Every child process a run starts; `stop_all` ends and reaps them."""

    def __init__(self):
        self.live = []

    def start(self, cmd, cwd, env=None, stdout=None, stderr=None):
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                             start_new_session=True)
        self.live.append(p)
        return p

    def stop(self, p, timeout=30):
        """SIGTERM (the JVM runs its shutdown hooks), then SIGKILL."""
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                p.wait(timeout)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        if p in self.live:
            self.live.remove(p)
        return p.returncode

    def stop_all(self):
        for p in list(self.live):
            self.stop(p, timeout=10)


def run_java(procs, scratch, main, args, name, timeout=170, xmx="2g", meanwhile=None,
             gc="-XX:+UseParallelGC"):
    """Run a harness main to completion; its stderr goes to a log file.
    `meanwhile` runs in this process while the JVM starts."""
    errp = scratch.file(f"{name}.err")
    with open(errp, "w") as err:
        p = procs.start(java_cmd(scratch, main, args, xmx, gc), cwd=scratch.path,
                        stdout=err, stderr=err)
        if meanwhile:
            meanwhile()
        try:
            rc = p.wait(timeout)
        except subprocess.TimeoutExpired:
            procs.stop(p)
            raise RuntimeError(f"{name} timed out")
    procs.live.remove(p)
    if rc != 0:
        tail = open(errp).read()[-3000:]
        raise RuntimeError(f"{name} exited {rc}:\n{tail}")


class WireMain:
    """The deployable server in its own JVM, configured only through its
    environment variables."""

    def __init__(self, procs, scratch, store, token_key, secure=False):
        env = dict(os.environ)
        env.update({"GRAFT_STORE_DIR": store, "GRAFT_WIRE_PORT": "0",
                    "GRAFT_WIRE_BINARY_PORT": "0", "GRAFT_TOKEN_KEY": token_key,
                    "SPARK_GRAFT_CPUS": str(cpus())})
        if secure:
            env.update({"GRAFT_WIRE_SECURE": "1", "GRAFT_WIRE_PLAINTEXT": "1"})
        self.procs = procs
        self.out = scratch.file("wiremain.out")
        self._outf = open(self.out, "w")
        self._errf = open(scratch.file("wiremain.err"), "w")
        self.proc = procs.start(java_cmd(scratch, "graft.server.WireMain", []),
                                cwd=scratch.path, env=env, stdout=self._outf,
                                stderr=self._errf)
        self.info = None

    def wait_up(self, timeout=120):
        t_end = time.time() + timeout
        while time.time() < t_end:
            if self.proc.poll() is not None:
                raise RuntimeError("WireMain exited during start")
            with open(self.out) as f:
                for line in f:
                    if line.startswith('{"wire_server"'):
                        self.info = json.loads(line)
                        return self.info
            time.sleep(0.05)
        raise RuntimeError("WireMain did not come up")

    def stop(self):
        """Graceful stop: SIGTERM runs WireMain's shutdown hook, which
        flushes the write-behind buffers."""
        rc = self.procs.stop(self.proc, timeout=60)
        self._outf.close()
        self._errf.close()
        return rc


def percentile(values, q):
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def drive(procs, scratch, spec_name, out_name):
    """Run the load generator: a small heap and the serial collector, so
    its own pauses and GC threads stay out of the way of the server."""
    run_java(procs, scratch, "perfbench.Drive",
             [scratch.file(spec_name), scratch.file(out_name)], out_name.split(".")[0],
             xmx="1g", gc="-XX:+UseSerialGC")


def request_of(spec, op):
    """The request a Drive op line answers (warm-up rounds are numbered
    -1, -2, ...)."""
    rounds = spec["clients"][op["c"]]["warmup" if op["warm"] else "rounds"]
    return rounds[-1 - op["r"] if op["warm"] else op["r"]][op["i"]]


def client_ops(ops, c):
    """Client c's ops in the order it sent them, warm-up first."""
    return sorted((o for o in ops if o["c"] == c),
                  key=lambda o: (not o["warm"], -o["r"] if o["warm"] else o["r"], o["i"]))


def read_ops(path):
    """Drive's output: (header, ops, pushes)."""
    with open(path) as f:
        header = json.loads(f.readline())
        ops, pushes = [], []
        for line in f:
            d = json.loads(line)
            (pushes if "push" in d else ops).append(d)
    return header, ops, pushes


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def read_spans(prefix):
    """A traced run's spans as {name: [seconds]} and notes as {name: [value]}."""
    spans, notes = {}, {}
    with open(prefix + ".spans.jsonl") as f:
        for line in f:
            d = json.loads(line)
            if "value" in d:
                notes.setdefault(d["name"], []).append(d["value"])
            else:
                spans.setdefault(d["name"], []).append((d["end"] - d["start"]) / 1e9)
    with open(prefix + ".json") as f:
        return spans, notes, json.load(f)
