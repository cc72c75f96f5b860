#!/usr/bin/env python3
"""The benchmark: one command, three workloads, outputs checked.

  python3 perfbench/run.py --workload contacts_rest|registry_ops
                           [--seed N] [--seconds S] [--trace 0|1]
                           [--record results.jsonl]

Run from the repository root.  The first run builds the program and the
benchmark's harness (perfbench/harness) with sbt and caches the classpath
in .bench_build/; inputs are generated from --seed under .bench_work/.

Workloads (see perfbench/README.md for why each exists):
  contacts_rest   graft.api.ApiMain in a child JVM over a 10k-row master;
                  one closed-loop client on one connection: POST /run
                  {"stage":"pipeline"}, then /output-files and /output/<name>;
                  one {"stage":"validate"} after the first pipeline run.
  registry_ops    passes over 11 registry queries (SparkEntry.queries) in
                  the benchmark's harness JVM, each query built and then
                  materialized by a parquet write that is checked against
                  its DuckDB oracle twin.

A run starts the program's JVM and times units of work from the first one
on, for --seconds (at least one unit; at the 10 s of BENCHMARK.json one
unit outlasts the window, so the figure is a fresh JVM's first unit).
--trace 1 runs the same units with the benchmark's Spark listeners
registered and reports per-layer numbers instead; the tracing overhead is
trace.unit_s of a traced run minus unit_p50_s of an untraced run on the
same seed (perfbench/compare.py prints it).

The last stdout line is the JSON result; the lines before it name every
metric with its unit, including the workload's own alias of unit_p50_s
(rest_run_p50_s, registry_sweep_s) and failed_frac.
"""
import argparse
import hashlib
import http.client
import json
import os
import selectors
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_contacts  # noqa: E402
import gen_registry  # noqa: E402
import trace  # noqa: E402

CORES = 4
DEADLINE_S = 170          # per run, build excluded
SETUP_SAMPLES = 2         # program launches per run for setup_s
# caps each program JVM below the 8g default of the root build's `sbt run`,
# so a run's footprint stays small on a shared host
JVM_HEAP = "3g"
CONTACTS_ROWS, SOURCE_ROWS = 10000, 2500
REGISTRY_SF = 0.005
ALIAS = {"contacts_rest": "rest_run_p50_s", "registry_ops": "registry_sweep_s"}

OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# --- build ------------------------------------------------------------------

def _stamp(root):
    h = hashlib.sha256(root.encode())
    files = ["build.sbt", "project/build.properties",
             "perfbench/harness/build.sbt",
             "perfbench/harness/project/build.properties"]
    for d in ("src/main", "perfbench/harness/src"):
        for dp, _, fs in os.walk(os.path.join(root, d)):
            files += [os.path.relpath(os.path.join(dp, f), root) for f in fs]
    for f in sorted(files):
        with open(os.path.join(root, f), "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def ensure_built(root):
    """Compile the program and the harness once per source state; return
    the runtime classpath (harness classes first)."""
    bdir = os.path.join(root, ".bench_build")
    stamp = _stamp(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    try:
        with open(os.path.join(bdir, "stamp")) as f:
            if f.read() == stamp and os.path.exists(cp_file):
                with open(cp_file) as c:
                    return c.read().strip()
    except FileNotFoundError:
        pass
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    hdir = os.path.join(root, "perfbench", "harness")
    log("building program + harness with sbt (first run in this checkout)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=hdir, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    with open(os.path.join(bdir, "build.log"), "w") as f:
        f.write(p.stdout)
    harness_classes = os.path.join(hdir, "target")
    cp = [l for l in p.stdout.splitlines() if l.startswith(harness_classes)]
    if p.returncode != 0 or not cp:
        raise BenchError("build failed; see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(os.path.join(bdir, "stamp"), "w") as f:
        f.write(stamp)
    return cp[-1]


# --- child processes --------------------------------------------------------

class Child:
    """A program JVM with its stdout read line by line under a deadline."""

    def __init__(self, cmd, work, name, env=None):
        self.t_launch = time.time()
        self.err = open(os.path.join(work, name + ".stderr"), "w")
        self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.err,
                                  text=True, env=env, cwd=work)
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.p.stdout, selectors.EVENT_READ)

    def readline(self, deadline):
        while time.time() < deadline:
            if self.sel.select(timeout=max(0.0, min(1.0, deadline - time.time()))):
                line = self.p.stdout.readline()
                if line == "" and self.p.poll() is not None:
                    return None
                return line.rstrip("\n")
            if self.p.poll() is not None:
                return None
        raise BenchError("child %s timed out" % self.p.args[-1])

    def peak_rss_mb(self):
        try:
            with open("/proc/%d/status" % self.p.pid) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def stop(self):
        if self.p.poll() is None:
            self.p.terminate()
            try:
                self.p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        self.sel.close()
        self.p.stdout.close()
        self.err.close()


def java(cp, main, args, work, props=()):
    # no hsperfdata file and a scratch tmpdir: the JVM writes only under work
    return (["java"] + OPENS + ["-Xmx" + JVM_HEAP, "-XX:-UsePerfData",
                                "-Djava.awt.headless=true",
                                "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
            + list(props) + ["-cp", cp, main] + list(args))


def trace_file(work):
    return "-Dperfbench.trace.file=" + os.path.join(work, "trace.jsonl")


# --- workloads --------------------------------------------------------------

def read_ready(child, deadline):
    """Seconds from launch to the child's READY line (None if it exited)."""
    line = child.readline(deadline)
    while line is not None and not line.startswith("READY "):
        line = child.readline(deadline)
    return None if line is None else int(line.split()[1]) / 1e3 - child.t_launch


def harness(cp, work, data, seconds, traced=False, probe=False):
    """The registry_ops harness JVM (perfbench.Harness)."""
    args = ["--data", data, "--out", os.path.join(work, "out"),
            "--queries", ",".join(trace.REGISTRY_QUERIES),
            "--seconds", str(seconds), "--cpus", str(CORES),
            "--trace", "1" if traced else "0", "--probe", "1" if probe else "0"]
    return Child(java(cp, "perfbench.Harness", args, work, [trace_file(work)]),
                 work, "probe" if probe else "harness")


def harness_setup(cp, work, data, deadline):
    c = harness(cp, work, data, 0, probe=True)
    try:
        setup = read_ready(c, deadline)
    finally:
        c.stop()
    if setup is None:
        raise BenchError("setup probe failed; see %s/probe.stderr" % work)
    return setup


class Api:
    """graft.api.ApiMain in a child JVM, and one keep-alive connection."""

    def __init__(self, cp, work, data, deadline, props=()):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
        self.out = os.path.join(work, "api_out")
        self.child = Child(java(cp, "graft.api.ApiMain",
                                [os.path.join(data, "master.tsv"),
                                 os.path.join(data, "sources"), self.out, "0"],
                                work, props), work, "api", env)
        try:
            port = None
            while port is None:
                line = self.child.readline(deadline)
                if line is None:
                    raise BenchError("ApiMain exited; see %s/api.stderr" % work)
                if line.startswith("[api] listening on :"):
                    port = int(line.split(":")[1].split()[0])
            self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
            status, _ = self.get("/stages")
            if status != 200:
                raise BenchError("/stages answered %d" % status)
            self.setup_s = time.time() - self.child.t_launch
        except BaseException:
            self.child.stop()
            raise

    def _req(self, method, path, body=None):
        hdr = {"Content-Type": "application/json"} if body else {}
        self.conn.request(method, path, body=body, headers=hdr)
        r = self.conn.getresponse()
        return r.status, r.read().decode("utf-8")

    def get(self, path):
        return self._req("GET", path)

    def run(self, stage):
        """POST /run; returns (t0, t1, answer) with failures in answer['fails']."""
        t0 = time.time()
        status, body = self._req("POST", "/run", json.dumps({"stage": stage}))
        t1 = time.time()
        ans = json.loads(body) if body.startswith("{") else {}
        ok = status == 200 and ans.get("ok") is True and ans.get("returncode") == 0
        ans["fails"] = [] if ok else ["/run %s answered %d %s" % (stage, status, body[:300])]
        return t0, t1, ans

    def stop(self):
        self.conn.close()
        self.child.stop()


def api_setup(cp, work, data, deadline):
    api = Api(cp, work, data, deadline)
    api.stop()
    return api.setup_s


def _stage_log(log_text):
    """'fill: 0.59s 20000 rows; clean: ...' -> {stage: seconds}."""
    out = {}
    for part in log_text.split(";"):
        name, _, rest = part.strip().partition(": ")
        if name in trace.STAGES and rest.endswith("rows"):
            out[name] = float(rest.split("s ")[0])
    return out


def rest_workload(cp, work, data, seconds, deadline, traced, master, seed):
    """One closed-loop client on one connection: pipeline runs for the
    window, with one validate run (not timed) after the first; after each
    pipeline run the client lists and fetches the artifacts and checks
    them."""
    props = ["-Dspark.extraListeners=perfbench.Trace",
             "-Dspark.sql.queryExecutionListeners=perfbench.TraceQe",
             trace_file(work)] if traced else []
    api = Api(cp, work, data, deadline, props)
    units = []

    def pipeline_unit():
        t0, t1, ans = api.run("pipeline")
        fails, counts = ans["fails"], {}
        if not fails and "passed=true" not in ans.get("log", ""):
            fails.append("/run pipeline: validation did not pass: %s" % ans.get("log"))
        if not fails:
            status, body = api.get("/output-files")
            files = json.loads(body).get("files", []) if status == 200 else []
            want = [checks.CLEANED, checks.CHANGELOG, checks.VALIDATION]
            if not set(want) <= set(files):
                fails.append("/output-files lists %s" % files)
            else:
                texts = {}
                for name in want:
                    status, body = api.get("/output/" + name)
                    texts[name] = json.loads(body)["content"] if status == 200 else ""
                f, counts = checks.check_contacts(texts, master, seed)
                fails += f
        units.append({"kind": "timed", "t0": t0 * 1e3, "t1": t1 * 1e3,
                      "wall": t1 - t0, "server_s": ans.get("seconds", 0.0),
                      "stages": _stage_log(ans.get("log", "")),
                      "fails": fails, "counts": counts})

    try:
        start = time.time()
        pipeline_unit()
        t0, t1, ans = api.run("validate")
        units.append({"kind": "validate", "t0": t0 * 1e3, "t1": t1 * 1e3,
                      "wall": t1 - t0, "fails": ans["fails"]})
        while time.time() - start < seconds:
            if time.time() > deadline:
                raise BenchError("deadline passed")
            pipeline_unit()
        rss = api.child.peak_rss_mb()
    finally:
        api.stop()
    return [api.setup_s], units, rss


def registry_workload(cp, work, data, seconds, deadline, traced):
    """Passes over the query set in one fresh JVM; each pass' parquet dumps
    are checked against the DuckDB oracle after the JVM has exited."""
    c = harness(cp, work, data, seconds, traced)
    units, rss = [], 0.0
    try:
        setup = read_ready(c, deadline)
        if setup is None:
            raise BenchError("harness never came up; see %s/harness.stderr" % work)
        line = c.readline(deadline)
        while line is not None:
            if line.startswith("UNIT "):
                units.append(dict(json.loads(line[5:]), kind="timed"))
                rss = max(rss, c.peak_rss_mb())
            line = c.readline(deadline)
        c.p.wait(timeout=max(1, deadline - time.time()))
    finally:
        c.stop()
    oracle = os.path.join(work, "out", "oracle_sql.json")
    for u in units:
        qs = u["queries"]
        u["fails"] = ["%s: %s" % (q, v["err"]) for q, v in qs.items() if not v["ok"]]
        if not u["fails"]:
            shutil.copy(oracle, u["dir"])
            u["fails"] = checks.check_registry(data, u["dir"])
        shutil.rmtree(u["dir"], ignore_errors=True)
        done = [v for v in qs.values() if "t2" in v]
        u["wall"] = sum((v["t2"] - v["t0"]) / 1e3 for v in done)
        u["t0"] = min(v["t0"] for v in qs.values())
        u["t1"] = max([v["t2"] for v in done] or [u["t0"]])
    return [setup], units, rss


# --- metrics ----------------------------------------------------------------

def higher_percentile(values):
    """The highest percentile with at least ten samples beyond it."""
    for pct in (99, 95, 90):
        if len(values) * (100 - pct) / 100.0 >= 10:
            q = statistics.quantiles(values, n=100)
            return "p%d %.4f" % (pct, q[pct - 1])
    return "no higher percentile has ten samples beyond it"


def run(a, cp, work, deadline):
    wl, traced = a.workload, a.trace == 1
    layer = {}
    if wl == "registry_ops":
        data = os.path.join(work, "registry")
        props = gen_registry.generate(data, a.seed, REGISTRY_SF)
        setups, units, rss = registry_workload(cp, work, data, a.seconds,
                                               deadline, traced)
    else:
        data = os.path.join(work, "contacts")
        props = gen_contacts.generate(data, a.seed, CONTACTS_ROWS, SOURCE_ROWS)
        master = checks.load_master(os.path.join(data, "master.tsv"))
        setups, units, rss = rest_workload(cp, work, data, a.seconds, deadline,
                                           traced, master, a.seed)
        layer["rows.master"] = len(master[1])
        probe_rows = checks.fillable_missing_rows(master)
    while len(setups) < SETUP_SAMPLES:
        setups.append(api_setup(cp, work, data, deadline) if wl == "contacts_rest"
                      else harness_setup(cp, work, data, deadline))

    for u in units:
        for f in u["fails"]:
            log("FAIL %s unit: %s" % (u["kind"], f))
    timed = [u for u in units if u["kind"] == "timed"]
    if not timed:
        raise BenchError("no unit of work completed")
    walls = [u["wall"] for u in timed]
    p50 = statistics.median(walls)
    failed = sum(1 for u in units if u["fails"])
    extra = {
        ALIAS[wl]: "%.4f s (median of %d timed units; %s)" % (
            p50, len(walls), higher_percentile(walls)),
        "failed_frac": "%.4f (%d of %d units)" % (
            failed / float(len(units)), failed, len(units)),
        "setup_samples_s": " ".join("%.3f" % s for s in setups),
        "inputs": json.dumps(props, sort_keys=True)}
    metrics = {}
    if not traced:
        metrics["unit_p50_s"] = {"value": p50, "unit": "s"}
        metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    else:
        layer.update(per_layer(wl, work, units, timed))
        if wl == "contacts_rest":
            layer["fill.fills_per_probe_row"] = (
                layer["rows.changelog"] / probe_rows if probe_rows else 0.0)
        layer["trace.unit_s"] = p50
        layer["jvm.peak_rss_mb"] = rss
        for k, unit in trace.per_layer_names():
            metrics[k] = {"value": float(layer.get(k, 0.0)), "unit": unit}
        for k, v in sorted(layer.items()):
            if k not in metrics:
                extra[k] = "%.6g" % v
    return {"correct": failed == 0, "attempted": len(units), "failed": failed,
            "metrics": metrics, "extra": extra}


def per_layer(wl, work, units, timed):
    events = trace.load(os.path.join(work, "trace.jsonl"))
    out = trace.engine(events, [(u["t0"], u["t1"]) for u in timed], CORES)
    n = float(len(timed))
    out["units"] = n
    out["cold.first_unit_s"] = timed[0]["wall"]
    if wl == "contacts_rest":
        for s in trace.STAGES:
            out["stage.%s_s" % s] = statistics.median(
                [u.get("stages", {}).get(s, 0.0) for u in timed])
        for k in ("rows.cleaned", "rows.changelog", "rows.validation_errors"):
            out[k] = statistics.median([u.get("counts", {}).get(k, 0) for u in timed])
    if wl == "contacts_rest":
        out["rest.server_s"] = statistics.median([u["server_s"] for u in timed])
        out["rest.overhead_ms"] = statistics.median(
            [(u["wall"] - u["server_s"]) * 1e3 for u in timed])
        out["rest.validate_s"] = sum(u["wall"] for u in units if u["kind"] == "validate")
    if wl == "registry_ops":
        build, execute = [], []
        for q in trace.REGISTRY_QUERIES:
            runs = [u["queries"][q] for u in timed if "t2" in u["queries"].get(q, {})]
            qb = [(r["t0"], r["t1"]) for r in runs]
            qe = [(r["t1"], r["t2"]) for r in runs]
            build += qb
            execute += qe
            out["query.%s.build_s" % q] = sum(b - a for a, b in qb) / 1e3 / n
            out["query.%s.exec_s" % q] = sum(b - a for a, b in qe) / 1e3 / n
            out["query.%s.jobs" % q] = trace.job_count(events, qb + qe) / n
        out["registry.build_s"] = sum(b - a for a, b in build) / 1e3 / n
        out["registry.exec_s"] = sum(b - a for a, b in execute) / 1e3 / n
        out["registry.build_jobs"] = trace.job_count(events, build) / n
        out["registry.exec_jobs"] = trace.job_count(events, execute) / n
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["contacts_rest", "registry_ops"])
    ap.add_argument("--seed", type=int, default=checks.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="append the full result to this JSONL file")
    a = ap.parse_args(argv)

    root = os.path.realpath(os.getcwd())
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no program sources here (build.sbt, src/main/scala/graft); "
            "run from the repository root")
        return 2
    cp = ensure_built(root)
    deadline = time.time() + DEADLINE_S
    work = os.path.join(root, ".bench_work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(a, cp, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(dict(result, workload=a.workload, seed=a.seed,
                                    trace=a.trace)) + "\n")
    for name, m in sorted(result["metrics"].items()):
        print("metric %s %.6g %s" % (name, m["value"], m["unit"]))
    for k, v in sorted(result["extra"].items()):
        print("extra %s %s" % (k, v))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed",
                                             "metrics")}))
    return 0 if result["correct"] else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through every Child.stop()


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except BenchError as e:
        log("error: %s" % e)
        sys.exit(3)
