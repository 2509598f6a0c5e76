#!/usr/bin/env python3
"""zenospark benchmark: one command, driven by BENCHMARK.json.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), forks one Spark child
JVM at a time, checks every output against perfbench/expected.json, and
prints one JSON object as the last line of stdout. See perfbench/README.md.

Extra modes:
    --record     re-record perfbench/expected.json from the current engine
    --perturb    self-check: alter one expected value; the run must fail
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("crawl_wide", "query_sweep")
CRAWLS = ("crawl_wide",)
# sweep entries a traced run adds (perfbench/src/Sweep.scala TracedOnly)
TRACED_ONLY = {"crawl_2waves"}
# a child gets a fixed allowance for JVM start, build-time corpus writing
# and set-up, plus a multiple of its measured time (more at one core)
CHILD_SETUP_ALLOWANCE_S = 240
CHILD_TIME_FACTOR = 4
HEAP = "3g"
# --seed selects one of this many recorded input variants (seed mod VARIANTS)
VARIANTS = 4


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, root, classpath):
        self.root = root
        self.classpath = classpath
        self.build_dir = root / ".bench_build"
        self.proc = None
        # a child leaves its temp dir (crawl stores) behind; it is removed
        # when the next run starts, as unlinking the files just after they
        # were written took up to 14 s of a traced run's wall
        shutil.rmtree(self.build_dir / "tmp", ignore_errors=True)

    def child(self, workload, variant, seed, seconds, trace, cores, record=False, probe=False,
              extra=()):
        """Fork one child JVM; return its parsed result."""
        tag = "%s-c%d-s%d-t%d%s-%d" % (workload, cores, seed, trace, "-rec" if record else "",
                                      os.getpid())
        tmp = self.build_dir / "tmp" / tag
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        logs = self.build_dir / "logs"
        logs.mkdir(parents=True, exist_ok=True)
        out = self.build_dir / "results" / (tag + ".json")
        out.parent.mkdir(parents=True, exist_ok=True)
        if out.exists():
            out.unlink()
        # a fixed heap, so GC sizing is the same in every run; no perf-data
        # file, so the JVM writes nothing outside the checkout
        cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-XX:ActiveProcessorCount=%d" % cores]
               + build.jvm_opens()
               + ["-Djava.io.tmpdir=" + str(tmp), "-Dspark.ui.enabled=false",
                  "-cp", self.classpath, "perfbench.Child",
                  "--workload", workload, "--variant", str(variant), "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
                  "--root", str(self.root), "--out", str(out),
                  "--record", "1" if record else "0", "--probe", "1" if probe else "0"]
               + list(extra))
        timeout = CHILD_SETUP_ALLOWANCE_S + CHILD_TIME_FACTOR * seconds * (4 if cores == 1 else 1)
        t0 = time.time()
        with open(logs / (tag + ".log"), "wb") as lf:
            self.proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                         cwd=str(self.root), start_new_session=True)
            try:
                rc = self.proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self.stop()
                raise RuntimeError("child %s timed out after %ds" % (tag, timeout))
            finally:
                self.proc = None
        if rc != 0 or not out.exists():
            raise RuntimeError("child %s failed (exit %d), see %s" % (tag, rc, logs / (tag + ".log")))
        res = json.loads(out.read_text())
        res["wall_s"] = time.time() - t0
        return res

    def stop(self):
        p = self.proc
        if p is not None and p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except OSError:
                pass
            p.wait()


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def check_counters(cs, expect, chk, what):
    chk.check(len(cs) == len(expect), "%s ran %d waves, expected %d" % (what, len(cs), len(expect)))
    for w, (c, e) in enumerate(zip(cs, expect)):
        chk.check(c == e, "%s wave %d counters %s != %s" % (what, w + 1, c, e))


def check_crawl(res, expect, chk, label, traced):
    """Per-wave counters of every episode (and of the traced tail) against
    the recorded ones, plus the lineage and final-frontier checks. The
    recording fixes how many waves an episode and the tail must run."""
    for i, ep in enumerate(res["episodes"]):
        check_counters(ep["counters"], expect["waves"], chk, "%s episode %d" % (label, i))
        chk.check(ep["chain_ok"], "%s episode %d live-row arithmetic broken in lineage" % (label, i))
    tail = res.get("tail")
    chk.check((tail is not None) == traced, "%s tail ran: %s, traced: %s" % (label, tail is not None, traced))
    if tail:
        check_counters(tail["counters"], expect["tail"], chk, label + " tail")
        chk.check(tail["chain_ok"], "%s tail live-row arithmetic broken in lineage" % label)
    f = res["final"]
    chk.check(f["dup_urls"] == 0, "%s live frontier has %d duplicate url_canon" % (label, f["dup_urls"]))
    chk.check(f["live_rows"] == f["expected_live_rows"] == f["snapshot_rows"],
              "%s live rows %d, lineage says %d, snapshot says %d" % (
                  label, f["live_rows"], f["expected_live_rows"], f["snapshot_rows"]))


def check_layers(layers, chk, workload):
    for k, v in layers.items():
        chk.check(v is not None and v >= 0, "per-layer %s is negative: %s" % (k, v))
    if workload in CRAWLS:
        # accounting self-check: idle time and codegen deltas of every tail
        # wave, where the compactor overlaps the waves, are never negative
        for k in ("loop.driver_idle_min_s", "spark.codegen_compiles_min"):
            chk.check(k in layers, "per-layer %s missing" % k)


def crawl_e2e(res):
    eps = res["episodes"]
    work = sum(e["work"] for e in eps)
    secs = sum(sum(e["step_s"]) + e["await_s"] for e in eps)
    steps = [s for e in eps for s in e["step_s"]]
    setup = res["session_s"] + res["warm_s"] + median([e["open_s"] + e["init_s"] for e in eps])
    return work / secs, median(steps), setup


def run_crawl(runner, a, variant, exp, chk):
    """Returns (end-to-end metrics, per-layer metrics, child result)."""
    r4 = runner.child(a.workload, variant, a.seed, a.seconds, a.trace, 4, probe=True)
    check_crawl(r4, exp, chk, "local[4]", bool(a.trace))
    ups, step_p50, setup = crawl_e2e(r4)
    layers = dict(r4["layers"])
    if a.trace:
        # identical work at one core, in its own JVM
        r1 = runner.child(a.workload, variant, a.seed, a.seconds, 0, 1)
        check_crawl(r1, exp, chk, "local[1]", False)
        layers["urls_per_s_1c"] = crawl_e2e(r1)[0]
        layers["scaling_eff_1_4"] = ups / layers["urls_per_s_1c"] / 4
    return {"work_per_s": ups, "step_p50_s": step_p50, "setup_s": setup}, layers, r4


def run_sweep(runner, a, variant, exp, chk):
    """Returns (end-to-end metrics, per-layer metrics, child result)."""
    r = runner.child(a.workload, variant, a.seed, a.seconds, a.trace, 4, probe=True)
    passes = [("cold pass", r["cold_digests"]), ("traced-only", r["traced_only_digests"])]
    passes += [("pass %d" % i, p["digests"]) for i, p in enumerate(r["passes"])]
    ran = set().union(*(d for _, d in passes))
    chk.check(ran == (set(exp) if a.trace else set(exp) - TRACED_ONLY),
              "sweep entries %s differ from recorded" % sorted(ran ^ set(exp)))
    for label, digests in passes:
        for name, got in sorted(digests.items()):
            chk.check(got == exp.get(name), "%s: %s digest %s != %s" % (label, name, got, exp.get(name)))
    sums = [sum(p["q"].values()) for p in r["passes"]]
    metrics = {"work_per_s": len(r["passes"][0]["q"]) * len(sums) / sum(sums),
               "step_p50_s": median(sums),
               "setup_s": r["session_s"] + r["cold_s"]}
    return metrics, dict(r["layers"]), r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--perturb", action="store_true")
    a = ap.parse_args()

    root = HERE.parent
    try:
        spec = json.loads((root / "BENCHMARK.json").read_text())
        classpath = build.ensure(root)
    except (OSError, ValueError, build.BuildError) as e:
        log("cannot build: %s" % e)
        return 2
    runner = Run(root, classpath)
    signal.signal(signal.SIGTERM, lambda *_: (runner.stop(), sys.exit(3)))
    try:
        prepare(runner)
    except RuntimeError as e:
        log("cannot write the crawl corpora: %s" % e)
        return 2
    expected_file = HERE / "expected.json"

    if a.record:
        return record(runner, expected_file, a.workload)
    if a.workload is None:
        ap.error("--workload is required")

    expected = json.loads(expected_file.read_text())
    if a.perturb:
        perturb(expected, a.workload)
    variant = a.seed % VARIANTS
    chk = Checks()
    try:
        if a.workload in CRAWLS:
            metrics, layers, r = run_crawl(runner, a, variant, expected[a.workload][str(variant)], chk)
        else:
            metrics, layers, r = run_sweep(runner, a, variant, expected[a.workload], chk)
    except RuntimeError as e:
        log(str(e))
        return 1
    finally:
        runner.stop()

    probe = r["probe"]
    layers["jvm.peak_rss_mb"] = r["peak_rss_mb"]
    if a.trace:
        check_layers(layers, chk, a.workload)
        layers["probe.serial_s"] = probe["serial_s"]
        layers["probe.parallel_s"] = probe["parallel_s"]
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else metrics
    out = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    for n in chk.notes[:20]:
        log("CHECK FAILED: " + n)
    log("window probe: %s" % json.dumps(probe))
    result = {"correct": chk.failed == 0, "attempted": chk.attempted, "failed": chk.failed,
              "metrics": out}
    artifact = root / ".bench_build" / "results" / ("%s-s%d-t%d.summary.json" % (a.workload, a.seed, a.trace))
    artifact.write_text(json.dumps({"result": result, "probe": probe, "e2e": metrics,
                                    "layers": layers, "check_failures": chk.notes}, indent=1))
    print(json.dumps(result))
    return 0 if chk.failed == 0 else 1


def prepare(runner):
    """Writes the crawl corpus of every input variant once per build, before
    any measured run, so that no run pays for writing one."""
    stamp = (runner.build_dir / "classes" / "STAMP").read_text()
    mark = runner.build_dir / "cache" / "PREPARED"
    if mark.is_file() and mark.read_text() == stamp:
        return
    log("writing the crawl corpora")
    shutil.rmtree(runner.build_dir / "cache", ignore_errors=True)
    runner.child("prepare", 0, 0, 0, 0, 4, extra=("--variants", str(VARIANTS)))
    os.sync()  # let the corpus writes reach the disk before a run is timed
    mark.write_text(stamp)


def perturb(expected, workload):
    """Alter one recorded expectation so a correct engine must fail."""
    if workload in CRAWLS:
        for v in expected[workload].values():
            v["waves"][0][0] += 1
    else:
        name = sorted(expected[workload])[0]
        expected[workload][name][0] += 1


def record(runner, expected_file, only=None):
    """Record per-wave counters for every variant and the sweep digests
    (of one workload if `only` is set, keeping the others)."""
    out = json.loads(expected_file.read_text()) if expected_file.exists() else {}
    out["variants"] = VARIANTS
    for w in WORKLOADS:
        if only not in (None, w):
            continue
        log("recording %s" % w)
        if w in CRAWLS:
            out[w] = {}
            for v in range(VARIANTS):
                r = runner.child(w, v, v, 0, 0, 4, record=True)
                out[w][str(v)] = {"waves": r["waves"], "tail": r["tail"]}
        else:
            out[w] = runner.child(w, 0, 0, 0, 0, 4, record=True)["digests"]
    expected_file.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    log("wrote %s" % expected_file)
    return 0


if __name__ == "__main__":
    sys.exit(main())
