#!/usr/bin/env python3
"""Engine benchmark: the graft CLI commands as a user runs them.

    python3 perfbench/run.py --workload lint|deploy|bootstrap --seed N \
        --seconds S --trace 0|1 [--plant-failure]

Run from the root of a checkout. The first run builds the program and
the benchmark's traced runner with sbt (offline); later runs reuse the
build while no source file changes.

Workloads (inputs from gen.py, all a function of the seed):
  lint       `analyze --format json` over ~300 migrations
  deploy     embedded Derby target, 6 migrations applied in set-up and
             3 pending: `apply --jdbc-url`, then `status --format json`
  bootstrap  Spark-native target, empty tracker: `apply` of 6, then
             `rollback --steps 2` (run by hand; see NOTES.md)

--trace 0 times the workload's commands, one fresh plain `java` process
per command, repeating the command sequence for about S seconds (at
least once). Every command's output is checked; a failed command is
counted and its rep left out of the medians.

--trace 1 runs the workload once plainly and once through the traced
runner (perfbench.TraceMain), and reports per-layer metrics.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. A fuller record (environment, every sample, spans) goes to
perfbench/out/. The exit code is non-zero when any command failed.
"""

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
NPROC = len(os.sched_getaffinity(0))
CMD_TIMEOUT = 150
RUN_BUDGET = 160  # seconds after which no new rep starts
# set-ups without a program run under test are repeated; the median is
# reported (deploy's, which applies migrations, runs once)
SETUP_REPEATS = 3


# --- build -----------------------------------------------------------------

def _digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirs, names in os.walk(r):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt-compile program + benchmark unless the sources are unchanged."""
    stamp = os.path.join(TARGET, "launch.stamp")
    digest = _digest()
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt not found on PATH")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               TMPDIR=tmp)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        code = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "perfbench/writeLaunch"], cwd=HERE, env=env, stdout=fh,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: build failed (see %s)" % log)
    with open(stamp, "w") as fh:
        fh.write(digest)


def java_prefix():
    with open(os.path.join(TARGET, "javaopts.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o]
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        cp = fh.read().strip()
    return ["java"] + opts + ["-Xmx2g", "-XX:-UsePerfData", "-cp", cp]


# --- processes -------------------------------------------------------------

def _killpg(pid):
    try:
        os.killpg(pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass


def run_proc(argv, cwd, env, timeout=CMD_TIMEOUT):
    """Run to completion in its own process group; returns exit code,
    wall and CPU seconds, peak RSS and stdout."""
    os.makedirs(cwd, exist_ok=True)
    with open(os.path.join(cwd, "stdout"), "w+") as out, \
            open(os.path.join(cwd, "stderr"), "w") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(argv, cwd=cwd, env=env, stdout=out, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        timer = threading.Timer(timeout, _killpg, (p.pid,))
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        except BaseException:
            _killpg(p.pid)
            p.wait()
            raise
        finally:
            timer.cancel()
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
        _killpg(p.pid)
        out.seek(0)
        stdout = out.read()
    return {"code": p.returncode, "wall": wall,
            "cpu": ru.ru_utime + ru.ru_stime, "rss_mb": ru.ru_maxrss / 1024.0,
            "stdout": stdout}


def cmd_env(tmp, warehouse):
    env = {k: v for k, v in os.environ.items() if not k.startswith("MIGRATE_")}
    env.update(SPARK_MASTER="local[%d]" % NPROC, GRAFT_WAREHOUSE=warehouse,
               SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)
    return env


def jvm(prefix, tmp):
    return prefix + ["-Djava.io.tmpdir=" + tmp]


# --- workloads -------------------------------------------------------------

class Workload:
    """Inputs, start state, command sequence and expected outputs."""

    def __init__(self, name, seed, work, prefix):
        self.name, self.seed, self.work, self.prefix = name, seed, work, prefix
        self.state = os.path.join(work, "state")
        self.repo = os.path.join(work, "repo")

    def setup(self):
        """Warm up, generate the inputs and bring the start state about;
        returns set-up time samples in CPU seconds, this process's plus
        the program's. Wall time would mostly measure how long this disk
        makes small-file writes wait, which swings fivefold run to run.

        The warm-up starts the program once (`graft --version`) so the
        timed reps do not pay for reading its jars from disk."""
        def warm_up(i):
            r = self.graft(os.path.join(self.work, "warmup%d" % i), self.work,
                           ["--version"])
            if r["code"] != 0 or not r["stdout"].startswith("graft "):
                raise SystemExit("perfbench: `graft --version` failed")
            return r["cpu"]

        if self.name == "deploy":
            t0 = time.process_time()
            cpu = warm_up(0)
            ops = gen.deploy(self.seed)
            self.applied = [s.split("_")[0][1:] for s, _, _ in ops]
            gen.write(self.repo, gen.files_of(ops))
            start = os.path.join(self.work, "start")
            gen.write(start, gen.files_of(ops[:gen.DEPLOY_APPLIED]))
            os.makedirs(self.state)
            db = os.path.join(self.state, "db")
            r = self.graft(os.path.join(self.work, "setup"), self.state,
                           ["apply", start, os.path.join(self.state, "tracker"),
                            "--jdbc-url", "jdbc:derby:%s;create=true" % db])
            why = check.apply(r["code"], r["stdout"], gen.DEPLOY_APPLIED, 0)
            if why:
                raise SystemExit("perfbench: deploy set-up failed: " + why)
            tmp = os.path.join(self.work, "setup-close", "tmp")
            os.makedirs(tmp)
            c = run_proc(jvm(self.prefix, tmp) + ["perfbench.DerbyClose", db],
                         os.path.dirname(tmp), cmd_env(tmp, tmp))
            if c["code"] != 0:
                raise SystemExit("perfbench: closing the Derby set-up failed")
            return [time.process_time() - t0 + cpu + r["cpu"] + c["cpu"]]
        samples = []
        os.makedirs(self.state)
        for i in range(SETUP_REPEATS):
            shutil.rmtree(self.repo, ignore_errors=True)
            t0 = time.process_time()
            cpu = warm_up(i)
            if self.name == "lint":
                files, self.planted = gen.lint(self.seed)
                gen.write(self.repo, files)
            else:
                ops = gen.bootstrap(self.seed)
                self.applied = [s.split("_")[0][1:] for s, _, _ in ops]
                gen.write(self.repo, gen.files_of(ops))
            samples.append(time.process_time() - t0 + cpu)
        return samples

    def graft(self, cwd, state, args, main="graft.cli.GraftMain"):
        tmp = os.path.join(cwd, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return run_proc(jvm(self.prefix, tmp) + [main] + args, cwd,
                        cmd_env(tmp, os.path.join(state, "warehouse")))

    def restore(self, rep):
        """A fresh copy of the seeded start state for one rep (untimed)."""
        shutil.copytree(self.state, rep)
        return rep

    def commands(self, rep):
        """[(command, args, check)] of one rep over state dir `rep`."""
        trk = os.path.join(rep, "tracker")
        if self.name == "lint":
            return [("analyze", [self.repo, "--format", "json"],
                     lambda c, o: check.analyze(c, o, self.planted))]
        if self.name == "deploy":
            url = "jdbc:derby:" + os.path.join(rep, "db")
            return [
                ("apply", [self.repo, trk, "--jdbc-url", url],
                 lambda c, o: check.apply(c, o, gen.DEPLOY_PENDING,
                                          gen.DEPLOY_APPLIED)),
                ("status", [self.repo, trk, "--format", "json"],
                 lambda c, o: check.status(c, o, self.applied, [])),
            ]
        k = gen.BOOTSTRAP_ROLLBACK
        return [
            ("apply", [self.repo, trk],
             lambda c, o: check.apply(c, o, len(self.applied), 0)),
            ("rollback", [self.repo, trk, "--steps", str(k)],
             lambda c, o: check.rollback(c, o, k)),
        ]

    def run_rep(self, idx, traced=False, plant=False):
        """One rep; returns per-command records."""
        rep = self.restore(os.path.join(self.work, "rep%d" % idx))
        records = []
        for i, (cmd, args, chk) in enumerate(self.commands(rep)):
            cwd = os.path.join(rep, "cmd%d-%s" % (i, cmd))
            if traced:
                os.makedirs(cwd)
                spans = os.path.join(cwd, "trace.json")
                probe = ["--probe"] if i == 0 else []
                r = self.graft(cwd, rep, [spans] + probe + [cmd] + args,
                               main="perfbench.TraceMain")
                if os.path.isfile(spans):
                    with open(spans) as fh:
                        r["trace"] = json.load(fh)
            else:
                r = self.graft(cwd, rep, [cmd] + args)
            out = r["stdout"]
            if plant and i == 0:
                out = "\n".join(out.splitlines()[:-1])  # truncated output
            r["failure"] = chk(r["code"], out)
            r["command"] = cmd
            del r["stdout"]
            records.append(r)
        return records


# --- per-layer metrics from one traced rep ---------------------------------

def _self_times(spans):
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + \
            s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        d = s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + d
    return out


def layer_metrics(traced, plain, floor, files):
    def spans_named(t, prefix):
        return [s for s in t["spans"] if s["name"] == prefix or
                s["name"].startswith(prefix + ".")]

    def subtree_jobs(t, prefix):
        kids = {}
        for s in t["spans"]:
            kids.setdefault(s["parent"], []).append(s)
        total, todo = 0, list(spans_named(t, prefix))
        while todo:
            s = todo.pop()
            total += s["jobs"]
            todo += kids.get(s["id"], [])
        return total

    def dur(t, prefix):
        return sum(s["end_s"] - s["start_s"] for s in spans_named(t, prefix))

    ts = [r["trace"] for r in traced]
    S = lambda prefix: sum(dur(t, prefix) for t in ts)  # noqa: E731
    J = lambda prefix: sum(subtree_jobs(t, prefix) for t in ts)  # noqa: E731
    N = lambda prefix: sum(len(spans_named(t, prefix)) for t in ts)  # noqa

    def gate(t):
        # the only work Executor.apply does before taking the lock
        runs = spans_named(t, "exec.apply")
        locks = spans_named(t, "exec.lock.acquire")
        if not runs or not locks:
            return 0.0
        return min(l["start_s"] for l in locks) - runs[0]["start_s"]

    def unattributed(r):
        top = [s for s in r["trace"]["spans"]
               if s["parent"] == 0 and s["thread"] == "main"]
        return r["wall"] - sum(s["end_s"] - s["start_s"] for s in top)

    rules = [v for t in ts for v in t["rules"].values()]
    jobs = sum(s["jobs"] for t in ts for s in t["spans"]) + \
        sum(t["unattributed_jobs"] for t in ts)
    stages = sum(s["stages"] for t in ts for s in t["spans"]) + \
        sum(t["unattributed_stages"] for t in ts)
    touched = sum(int(t.get("migrations", 0)) for t in ts)
    extra = lambda k: sum(int(t.get(k, 0)) for t in ts)  # noqa: E731
    m = {
        "cli.jvm_floor_s": (floor, "s"),
        "cli.session_s": (S("cli.session"), "s"),
        "cli.stop_s": (S("cli.stop"), "s"),
        "cli.peak_rss_mb": (max(r["rss_mb"] for r in traced), "MB"),
        "cli.unattributed_s": (sum(unattributed(r) for r in traced), "s"),
        "loader.load_s": (S("loader.load"), "s"),
        "loader.files": (files, "count"),
        "loader.jobs": (J("loader.load"), "count"),
        "classify.parse_s": (S("probe.classify"), "s"),
        "classify.stmts": (extra("classify_stmts"), "count"),
        "rules.check_s": (sum(v["seconds"] for v in rules), "s"),
        "rules.calls": (sum(v["calls"] for v in rules), "count"),
        "rules.findings": (sum(v["findings"] for v in rules), "count"),
        "analyzer.analyze_s": (S("analyzer.analyze"), "s"),
        "analyzer.jobs": (J("analyzer.analyze"), "count"),
        "analyzer.gate_s": (sum(gate(t) for t in ts), "s"),
        "exec.lock_s": (S("exec.lock"), "s"),
        "exec.runner_s": (S("exec.runner"), "s"),
        "exec.runner_calls": (N("exec.runner"), "count"),
        "exec.runner_jobs": (J("exec.runner"), "count"),
        "exec.applied": (extra("applied"), "count"),
        "exec.skipped": (extra("skipped"), "count"),
        "tracker.ensure_s": (S("tracker.ensure"), "s"),
        "tracker.read_s": (S("tracker.read"), "s"),
        "tracker.read_calls": (N("tracker.read"), "count"),
        "tracker.read_jobs": (J("tracker.read"), "count"),
        "tracker.write_s": (S("tracker.write"), "s"),
        "tracker.write_calls": (N("tracker.write"), "count"),
        "tracker.write_jobs": (J("tracker.write"), "count"),
        "tracker.compactions": (extra("compactions"), "count"),
        "spark.jobs": (jobs, "count"),
        "spark.stages": (stages, "count"),
        "spark.jobs_per_migration": (jobs / max(touched, 1), "count"),
        "trace.overhead_s": (sum(t["wall"] - p["wall"]
                                 for t, p in zip(traced, plain)), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lint", "deploy", "bootstrap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="check a truncated copy of the first command's "
                         "output, to show a failure is counted")
    a = ap.parse_args()
    # a terminated run still kills its running command (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no program sources at %s" % ROOT)

    started = time.perf_counter()
    build()
    prefix = java_prefix()
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed,
                                                     os.getpid()))
    os.makedirs(work)
    try:
        wl = Workload(a.workload, a.seed, work, prefix)
        setup = wl.setup()
        nfiles = len(os.listdir(wl.repo))
        reps, traced = [], None
        measured = 0.0
        while True:
            recs = wl.run_rep(len(reps), plant=a.plant_failure and not reps)
            reps.append(recs)
            measured += sum(r["wall"] for r in recs)
            if a.trace:
                break
            est = measured / len(reps)
            if measured + est > a.seconds or \
                    time.perf_counter() - started + est > RUN_BUDGET:
                break
        if a.trace:
            traced = wl.run_rep(len(reps), traced=True)
            floor_dir = os.path.join(work, "floor")
            floor = statistics.median(
                wl.graft(os.path.join(floor_dir, str(i)), work,
                         ["--version"])["wall"] for i in range(3))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = [r for rep in reps + ([traced] if traced else []) for r in rep]
    failed = [r for r in records if r["failure"]]
    ok = [rep for rep in reps if not any(r["failure"] for r in rep)]
    summary = {}
    if a.trace:
        if traced and not any(r["failure"] or "trace" not in r
                              for r in traced) and ok:
            metrics = layer_metrics(traced, ok[0], floor, nfiles)
        else:
            metrics = {}
    else:
        metrics = {"setup_s": {"value": statistics.median(setup),
                               "unit": "s"}}
        summary["setup_s"] = len(setup)
        if ok:
            metrics["wall_s"] = {"value": statistics.median(
                sum(r["wall"] for r in rep) for rep in ok), "unit": "s"}
            metrics["cpu_s"] = {"value": statistics.median(
                sum(r["cpu"] for r in rep) for rep in ok), "unit": "s"}
            summary["wall_s"] = summary["cpu_s"] = len(ok)

    print("perfbench %s seed=%d trace=%d nproc=%d reps=%d commands=%d "
          "failed=%d" % (a.workload, a.seed, a.trace, NPROC, len(reps),
                         len(records), len(failed)))
    for r in failed:
        print("  FAILED %s: %s" % (r["command"], r["failure"]))
    for name in sorted(set(r["command"] for r in records)):
        walls = [r["wall"] for rep in ok for r in rep if r["command"] == name]
        if walls:
            print("  %-8s %8.3f s median wall (n=%d)" %
                  (name, statistics.median(walls), len(walls)))
    for k, v in metrics.items():
        n = summary.get(k)
        print("  %-26s %12.4f %-5s%s" % (k, v["value"], v["unit"],
                                         " (n=%d)" % n if n else ""))

    os.makedirs(OUT, exist_ok=True)
    art = os.path.join(OUT, "%s-seed%d-trace%d.json" % (a.workload, a.seed,
                                                        a.trace))
    with open(art, "w") as fh:
        json.dump({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "env": {"nproc": NPROC, "spark_master": "local[%d]" % NPROC,
                    "python": platform.python_version(),
                    "platform": platform.platform(),
                    "java": subprocess.run(
                        ["java", "-XX:-UsePerfData", "-version"],
                        capture_output=True,
                        text=True).stderr.splitlines()[0]},
            "setup_s": setup, "metrics": metrics,
            "reps": [[{k: v for k, v in r.items() if k != "trace"}
                      for r in rep] for rep in reps],
            "traced": [{"command": r["command"], "wall": r["wall"],
                        "self_s": _self_times(r["trace"]["spans"]),
                        "trace": r["trace"]}
                       for r in traced or [] if "trace" in r],
        }, fh, indent=1)

    print(json.dumps({"correct": not failed, "attempted": len(records),
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
