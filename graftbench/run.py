#!/usr/bin/env python3
"""graft benchmark: the batch board and the micro-batch connector lane, with
a traced per-layer table that also drives the continuous-trigger variant.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (graftbench/build.sbt compiles the library's
own build one directory up); later runs reuse the build until a source file
changes. Each run starts one JVM (graftbench.Main) for the workload, checks
its outputs, and prints as its LAST line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1 runs
the workload untraced and then traced, and reports the per-layer metrics of
BENCHMARK.json, including the tracing overhead per end-to-end metric. For
mq_microbatch it also drains the backlog at local[1] (the single-threaded
baseline). The board's traced run also runs the continuous-trigger variant
of the connector pipeline: it is a JVM of its own either way, and the
lane's traced run, with its baseline, already fills most of the 180 s that
one run may take.

Workloads:
  board          10 SparkEntry keys (2 per operator family) on seeded tables;
                 attempted = keys, failed = keys that error or mismatch the
                 DuckDB oracle (scripts/local_compare.py).
  mq_microbatch  graft-mq -> Deser.parseBodies(PAD) -> filter -> graft-mq
                 sink under Trigger.ProcessingTime(0), ~1 KB bodies, an open-
                 loop rate ladder, then a backlog drain after a restart;
                 attempted = messages offered after warm-up, failed = lost +
                 duplicated + corrupted + mis-parsed at the sink (traced:
                 also any gap between the parse layer's input and output
                 row counts and the generator's).
  (mq_continuous, the same pipeline under Trigger.Continuous, is measured
  only in the traced board run: its sink loses messages in an epoch-commit
  race, so its figures are not reproducible run to run.)

What each end-to-end metric means per workload:
  setup_s         process start (after any build) to the first timed step:
                  JVM and Spark start, input generation, warm-up (board: the
                  oracle dump pass, which fills the once-per-JVM caches, and
                  one untimed pass; lane: history fill, a warm-up burst and
                  a warm-up at the lowest rate).
  peak_rss_mb     peak resident memory of the benchmark JVM.
  work_s          board: sum over keys of each key's best time over the
                  timed passes (at least two; the first still runs cold);
                  lane: time from restarting the query over a fixed backlog
                  to the last backlog message visible at the sink (median
                  of two drains).
  latency_p50_ms  board: median over keys of each key's best time;
  latency_p99_ms  board p99: the nearest-rank p99 of those best times, which
                  with ten keys is the slowest key's; lane: due time
                  to visible at the sink, at the ladder's middle rate (p50,
                  p99 over delivered messages).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("board", "mq_microbatch")
CONTINUOUS_SECONDS = 4
# the continuous probe takes about 30 s; it is skipped, and says so, when a
# traced run has used more than this many seconds (after any build) before it
PROBE_START_LIMIT_S = 120
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
BOARD_SF = 0.01
TOY_BOARD_KEYS = ["q1_pricing_summary", "dedup_exact", "deser_dirty"]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + benchmark with sbt; returns the runtime classpath."""
    stamp = os.path.join(HERE, "target", "bench-classpath.json")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("hash") == digest:
            return s["classpath"]
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    # builds resolve only from the local caches, never the network
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "graftbench" not in cp or ".jar" not in cp:
        die(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp}, fh)
    return cp


def run_jvm(cp, args, work, log_name):
    """One benchmark JVM; returns its parsed GRAFTBENCH record and notes."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # the parallel collector keeps peak RSS and pause-driven latency
        # steady run to run (G1's heap sizing made RSS spread by 20%)
        "-XX:+UseParallelGC", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main", "--work", work] + args
    log = os.path.join(os.path.dirname(work), log_name)
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=ROOT,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s; see {log}")
    notes, rec = [f"[run] {log_name[:-4]}: {time.time() - t0:.1f} s"], None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH "):
            rec = json.loads(line[len("GRAFTBENCH "):])
        else:
            notes.append(line)
    if p.returncode != 0 or rec is None:
        sys.stdout.write("\n".join(notes) + "\n")
        die(f"benchmark JVM failed (rc={p.returncode}); see {log}")
    return rec, notes


def oracle_compare(data, dump, keys):
    """The Verify-dump vs DuckDB oracle compare; returns mismatching keys."""
    script = os.path.join(ROOT, "scripts", "local_compare.py")
    r = subprocess.run([sys.executable, script, data, dump] + keys, capture_output=True,
                       text=True, cwd=ROOT, timeout=120)
    ok = {l.split(":", 1)[0] for l in r.stdout.splitlines() if ": OK" in l}
    bad = [k for k in keys if k not in ok]
    for l in r.stdout.splitlines():
        if ": OK" not in l:
            print(f"[oracle] {l}")
    if r.returncode not in (0, 1):
        print(r.stderr[-2000:], file=sys.stderr)
    return bad


def one_run(cp, a, work, traced, t0_ms, extra=()):
    """Runs the workload once in a fresh work dir; returns (record, notes)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if traced else "0", "--t0-ms", str(t0_ms)] + list(extra)
    if a.toy:
        args += ["--toy", "1"]
    keys = []
    data = os.path.join(work, "data")
    if a.workload == "board":
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.generate(data, a.seed, 0.001 if a.toy else BOARD_SF)
        keys = TOY_BOARD_KEYS if a.toy else []
        args += ["--data", data] + (["--keys", ",".join(keys)] if keys else [])
    rec, notes = run_jvm(cp, args, work, f"jvm-{a.workload}{'-traced' if traced else ''}.log")
    if a.workload == "board":
        dump = os.path.join(work, "verify")
        with open(os.path.join(dump, "oracle_sql.json")) as fh:
            keys = sorted(json.load(fh))
        bad = oracle_compare(data, dump, keys)
        notes.append(f"[board] oracle compare: {len(keys) - len(bad)}/{len(keys)} keys exact"
                     + (f"; mismatched: {','.join(bad)}" if bad else ""))
        failed = set(bad) | set(rec["failed_keys"])
        rec["failed"] = len(failed)
        rec["correct"] = not failed
    return rec, notes


def continuous_probe(cp, a, work, notes):
    """The pipeline under Trigger.Continuous, traced, with its audit: the
    continuous stream's per-poll reopen and the sink's epoch-commit loss."""
    c = argparse.Namespace(**vars(a))
    c.workload, c.seconds = "mq_continuous", min(a.seconds, CONTINUOUS_SECONDS)
    used = time.time() - a.started
    if used > PROBE_START_LIMIT_S:
        notes.append(f"[run] continuous probe skipped: {used:.0f} s used, over "
                     f"{PROBE_START_LIMIT_S} s; its metrics read 0")
        return {}
    rec, cnotes = one_run(cp, c, work, True, int(time.time() * 1000))
    notes += cnotes
    e, l = rec["e2e"], rec["layers"]
    return {
        # 0 when no message at all survived the middle rate
        "continuous.latency_p50_ms": e.get("latency_p50_ms") or 0.0,
        "continuous.latency_p99_ms": e.get("latency_p99_ms") or 0.0,
        "continuous.offered_msgs": rec["attempted"],
        "continuous.lost_msgs": l["audit.lost_msgs"],
        "continuous.loss_pct": 100.0 * l["audit.lost_msgs"] / rec["attempted"],
        "continuous.corrupt_msgs": l["audit.corrupt_msgs"],
        "continuous.mark_past_eof": l["sink.mark_past_eof"],
        "continuous.read_head_ms": l["topiclog.read_head_ms"],
        "continuous.read_tail_ms": l["topiclog.read_tail_ms"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("mq_continuous",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy sizes, for the smoke test")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isfile(spec_path):
        die("run from the root of a graft checkout (library sources not found)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp = build()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, a.workload)
    # setup_s counts from here: a first run's build is not the system's set-up
    t0_ms = int(time.time() * 1000)
    a.started = time.time()

    try:
        rec, notes = one_run(cp, a, work, False, t0_ms)
        metrics = {}
        if a.trace == 0:
            for m in spec["end_to_end"]:
                metrics[m["name"]] = {"value": rec["e2e"][m["name"]], "unit": m["unit"]}
        else:
            base = rec["e2e"]
            t1_ms = int(time.time() * 1000)
            traced, tnotes = one_run(cp, a, work, True, t1_ms)
            notes += tnotes
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(work_root, f"spans-{a.workload}.json"))
            layers = dict(traced["layers"])
            for m in spec["end_to_end"]:
                n = m["name"]
                b, t = base.get(n), traced["e2e"].get(n)
                if b and t is not None:
                    layers[f"trace.overhead_pct.{n}"] = (t - b) / b * 100.0
            if a.workload == "mq_microbatch":
                bl, bnotes = one_run(cp, a, work, False, int(time.time() * 1000),
                                     extra=["--baseline", "1"])
                notes += bnotes
                layers["baseline.drain_local1_msgs_per_s"] = bl["layers"]["drain.msgs_per_s"]
                layers["baseline.drain_local1_ratio"] = \
                    bl["layers"]["drain.msgs_per_s"] / rec["layers"]["drain.msgs_per_s"]
            else:
                layers.update(continuous_probe(cp, a, work, notes))
            for m in spec["per_layer"]:
                metrics[m["name"]] = {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
            # the traced run's own audit counts too; its counts are reported
            traced["correct"] = rec["correct"] and traced["correct"]
            rec = traced
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for l in notes:
        print(l)
    unmeasured = [n for n, m in metrics.items()
                  if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]]
    if unmeasured:
        die(f"not measured in this run: {', '.join(unmeasured)}")
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
