#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

  python3 perfbench/run.py --workload json_variant --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/out/; later runs start the JVM directly.

--trace 0 prints the end-to-end metrics; --trace 1 runs the traced
variant and prints the per-layer metrics. Either way the full record
(provenance, input properties, samples, per-layer extras and, when
traced, the span tree) is written to perfbench/out/records/.

  python3 perfbench/run.py --selftest        # sbt test for the benchmark
  python3 perfbench/run.py --refresh-oracle  # regenerate oracle/lane_mix.json
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("json_variant", "lane_mix")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, cwd=ROOT, capture=False, env=None):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[perfbench] timed out after {timeout:.0f} s: {cmd[0]}")
    return p.returncode, out


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    return env


def build(timeout):
    """Compile the library and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] library sources (src/main/scala/graft) not found; "
                         "run from the root of a full checkout")
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "stamp.txt")
    s = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == s:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building with sbt")
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, timeout, cwd=HERE, capture=True, env=sbt_env())
    if code != 0:
        sys.stderr.write(out)
        raise SystemExit(f"[perfbench] build failed ({code})")
    cp = [line for line in out.splitlines() if line and not line.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(s)
    return cp


def java_cmd(cp, work, main_args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             "-XX:CompileThresholdScaling=0.1",
             f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "perfbench.Main"] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--refresh-oracle", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()

    if a.selftest:
        code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"], 1800, cwd=HERE,
                            env=sbt_env())
        sys.exit(code)

    built_before = os.path.exists(os.path.join(OUT, "classpath.txt"))
    cp = build(timeout=840)
    # a run must end within 180 s; one that had to build first, within 900 s
    deadline = t_start + (175 if built_before and time.monotonic() - t_start < 5 else 895)
    work = os.path.join(OUT, "work")

    if a.refresh_oracle:
        refresh_oracle(cp, work)
        return
    if a.workload is None:
        ap.error("--workload is required")

    result_path = os.path.join(OUT, f"result-{a.workload}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result_path, "--bench-dir", HERE]
    log(f"{a.workload} seed {a.seed} trace {a.trace}")
    code, _ = run_child(java_cmd(cp, work, args), deadline - time.monotonic() - 2)
    log(f"benchmark JVM exited {code}")
    if not os.path.exists(result_path):
        raise SystemExit(f"[perfbench] the benchmark JVM exited {code} without a result")
    with open(result_path) as f:
        res = json.load(f)
    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec = dict(res["record"], commit=commit(), metrics=res["metrics"])
    rec_path = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(rec, f, indent=1)
    for e in res["record"].get("errors", []):
        log(f"error: {e}")
    log(f"record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] and code == 0 else 1)


def commit():
    """The checkout's commit: git when available, else a hash of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "sources:" + stamp()[:16]


def refresh_oracle(cp, work):
    """Regenerate the lane tables, run every lane once and DuckDB's oracle
    SQL over them, and rewrite oracle/lane_mix.json."""
    dump = os.path.join(OUT, "oracle")
    code, _ = run_child(java_cmd(cp, work, ["--mode", "oracle", "--work", work, "--out", dump,
                                            "--bench-dir", HERE]), 1800)
    if code != 0:
        raise SystemExit(f"[perfbench] oracle dump failed ({code})")
    code, out = run_child([sys.executable, os.path.join(HERE, "oracle.py"), "refresh",
                           os.path.join(dump, "tables"), os.path.join(dump, "oracle_sql.json"),
                           os.path.join(HERE, "oracle", "lane_mix.json"),
                           os.path.join(dump, "lane_out")], 1800, capture=True)
    print(out, end="")
    sys.exit(code)


if __name__ == "__main__":
    main()
