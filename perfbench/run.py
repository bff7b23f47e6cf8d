"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark's JVM side (perfbench/build.py),
generates the workload's inputs and a small warm-up corpus of the same
shape from the seed (perfbench/gen.py), runs
the JVM side (perfbench/scala) on GraftSession.harness at local[nproc],
checks every output, and prints one JSON line last: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The traced
run of marks_ttl also runs the GeoSPARQL-facing queries over seeded
TPC-H-shaped tables and checks their rows against DuckDB. The full
record (every pass, spans, the session's spark.sql.* conf, input sizes)
goes to .bench_out/<workload>-s<seed>-t<trace>.json.

Metrics, per workload (see BENCHMARK.json):
  setup_s                median input generation (of 3) + JVM session + warm-up passes
                         (on the warm-up corpus, then on the workload's)
  wall_s                 median wall time of the timed passes (at least 2), input to
                         committed output, at the reference machine speed
  marks_per_s            input marks per second at the reference speed: Mongo marks
                         (marks_ttl), nucleus polygons (seg_patches)
  patches_per_s          output units per second at the reference speed: .ttl.gz
                         files (marks_ttl), patches (seg_patches)
  out_bytes_per_in_byte  gz output bytes per input byte
The machine is shared, and its speed drifts by a third and more over
minutes. So a fixed CPU kernel runs on every core just before and just
after each timed pass (perfbench/scala/Calibration.scala), and a pass's
time is scaled by REF_CAL_S over the mean of the two kernel times. The
times as measured, and the kernel times, are in the side file
("measured", and "cal_s" of each pass).
The fail ratio is `failed / attempted` in the last line: the contract
admits no metric that reads 0.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("marks_ttl", "seg_patches")
QUERY_HOST = "marks_ttl"  # the workload whose traced run also runs the queries
GEN_REPEATS = 3
# the calibration kernel's time (perfbench/scala/Calibration.scala) on
# the reference machine, 4 cores; the pass times are reported at this speed
REF_CAL_S = 0.4
JVM_TIMEOUT_S = 165
# the small corpus of the warm-up passes: the same code paths as the
# workload's corpus on a tenth of the data, so that many cheap passes
# warm the driver-side planning and scheduling code
WARM_SIZES = {"marks_ttl": {"images": 8, "total": 2000},
              "seg_patches": {"slides": 2, "patches": 8}}


def generate(workload, seed, in_dir, warm_dir):
    """Writes the workload's corpus and its warm-up corpus. Returns the
    median time of GEN_REPEATS generations and what each generator
    returned."""
    fn = {"marks_ttl": gen.marks, "seg_patches": gen.seg}[workload]
    times, info, warm = [], None, None
    for i in range(GEN_REPEATS):
        last = i == GEN_REPEATS - 1
        d, wd = (in_dir, warm_dir) if last else (in_dir + ".%d" % i, warm_dir + ".%d" % i)
        t0 = time.perf_counter()
        info = fn(seed, d)
        warm = fn(seed, wd, **WARM_SIZES[workload])
        times.append(time.perf_counter() - t0)
        if not last:
            shutil.rmtree(d)
            shutil.rmtree(wd)
    return statistics.median(times), info, warm


def oracle_check(work, tables):
    """Compares each query's collected rows with its DuckDB oracle SQL
    over the same generated parquet. Returns (checked, mismatches)."""
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(tables):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (f[:-8], os.path.join(tables, f)))

    def cell(v):
        if v is None:
            return "\\N"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    res = json.load(open(os.path.join(work, "results.json")))
    bad = []
    for name, r in sorted(res.items()):
        want = sorted("\t".join(cell(v) for v in row)
                      for row in con.execute(r["oracle_sql"]).fetchall())
        if sorted(r["rows"]) != want:
            bad.append("%s: %d rows differ from the DuckDB oracle (%d vs %d rows)" % (
                name, len(set(r["rows"]) ^ set(want)), len(r["rows"]), len(want)))
    return len(res), bad


def wall_summary(walls):
    """Median plus the highest percentile with at least ten samples
    beyond it (none below 20 samples)."""
    s = sorted(walls)
    out = {"n": len(s), "median": statistics.median(s)}
    if len(s) >= 20:
        k = len(s) - 10  # ten samples lie beyond the k-th smallest
        out["p%d" % (100 * k // len(s))] = s[k - 1]
    return out


def contaminated(wall, cpu, walls, cpus):
    """Wall time up by a quarter while the process's CPU time stayed
    within 5% of the reference: the run waited on something outside
    the program rather than doing more work."""
    return wall > 1.25 * statistics.median(walls) and cpu < 1.05 * statistics.median(cpus)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit, so the finally blocks stop the JVM
    # and delete the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("build.sbt")):
        sys.exit("run from the root of a checkout: src/main/scala/graft or build.sbt is missing")
    spec = json.load(open("BENCHMARK.json"))

    build.build()

    work = os.path.abspath(os.path.join(".bench_work", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid())))
    in_dir = os.path.join(work, "in")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s, gen_info, warm_info = generate(a.workload, a.seed, in_dir,
                                              os.path.join(work, "warm_in"))
        expect = {k[len("expect_"):]: v for k, v in gen_info.items() if k.startswith("expect_")}
        result_path = os.path.join(work, "result.json")
        jvm = build.java(os.path.join(work, "tmp"))
        jvm += ["perfbench.Bench",
                "workload=" + a.workload, "seconds=%g" % a.seconds,
                "trace=%d" % a.trace, "in=" + in_dir, "work=" + work,
                "warm_in=" + os.path.join(work, "warm_in"), "result=" + result_path]
        jvm += ["expect_%s=%d" % kv for kv in sorted(expect.items())]
        jvm += ["warm_%s=%d" % kv for kv in sorted(warm_info.items()) if kv[0].startswith("expect_")]
        tables = os.path.join(work, "tables")
        if a.trace and a.workload == QUERY_HOST:
            gen.tables(a.seed, tables)
            jvm.append("tables=" + tables)
        os.makedirs(".bench_out", exist_ok=True)
        log_path = os.path.join(".bench_out", "%s-s%d-t%d.log" % (a.workload, a.seed, a.trace))
        with open(log_path, "w") as log:
            p = subprocess.Popen(jvm, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit("perfbench.Bench ran past %ds (log: %s)" % (JVM_TIMEOUT_S, log_path))
            finally:
                # also on SIGTERM: never leave the JVM running
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.exists(result_path):
            sys.exit("perfbench.Bench failed with code %d (log: %s)" % (rc, log_path))
        r = json.load(open(result_path))

        errors, attempted, failed = list(r["errors"]), r["attempted"], r["failed"]
        if os.path.exists(os.path.join(work, "results.json")):
            n, bad = oracle_check(work, tables)
            attempted += n
            failed += len(bad)
            errors += bad
        recorded = json.load(open(os.path.join(HERE, "expected.json")))
        for name, digest in sorted(r["digests"].items()):
            expected = recorded.get(name, {}).get(str(a.seed))
            if expected is not None:
                attempted += 1
                if expected != digest:
                    failed += 1
                    errors.append("%s digest %s differs from the one recorded for seed %d (%s)"
                                  % (name, digest, a.seed, expected))

        passes = r["passes"]
        walls = [p["wall_s"] for p in passes]
        in_bytes = gen_info["input"]["bytes"]
        setup_s = gen_s + r["setup_s"]
        # each pass's wall time at the reference speed of the calibration
        # kernel, and as measured
        ref = [p["wall_s"] * REF_CAL_S / p["cal_s"] for p in passes]
        e2e = {
            "setup_s": setup_s,
            "wall_s": statistics.median(ref),
            "marks_per_s": statistics.median(p["items"] / t for p, t in zip(passes, ref)),
            "patches_per_s": statistics.median(p["units"] / t for p, t in zip(passes, ref)),
            "out_bytes_per_in_byte": statistics.median(p["out_bytes"] for p in passes) / in_bytes,
        }
        measured = {
            "wall_s": statistics.median(walls),
            "marks_per_s": statistics.median(p["items"] / p["wall_s"] for p in passes),
            "patches_per_s": statistics.median(p["units"] / p["wall_s"] for p in passes),
            "cal_s": statistics.median(p["cal_s"] for p in passes),
        }
        cpus = [p["cpu_s"] for p in passes]
        flagged = [i for i, p in enumerate(passes)
                   if contaminated(p["wall_s"], p["cpu_s"], walls, cpus)]
        side_path = os.path.join(".bench_out", "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace))
        # the run against the earlier untraced runs of this workload
        earlier = [json.load(open(f)) for f in glob.glob(".bench_out/%s-s*-t0.json" % a.workload)
                   if f != side_path]
        run_flag = len(earlier) >= 3 and contaminated(
            e2e["wall_s"], statistics.median(cpus),
            [e["end_to_end"]["wall_s"] for e in earlier], [e["cpu_s"] for e in earlier])
        side = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "input": gen_info["input"], "expect": expect, "gen_s": gen_s,
            "session_s": r["session_s"], "warmup_s": r["warmup_s"],
            "wall_s": wall_summary(ref), "end_to_end": e2e, "measured": measured,
            "cpu_s": statistics.median(cpus), "contaminated_passes": flagged,
            "contaminated_run": run_flag, "passes": passes, "warmup": r["warmup"], "warmup_small": r["warmup_small"],
            "digests": r["digests"],
            "spark_sql_conf": r["spark_sql_conf"],
            "attempted": attempted, "failed": failed, "errors": errors,
            "fail_ratio": failed / attempted,
        }
        if a.trace:
            side["layers"] = r["layers"]
            side["spans"] = r["spans"]
            side["traced_passes"] = r["traced_passes"]
        with open(side_path, "w") as f:
            json.dump(side, f, indent=1, sort_keys=True)

        # every measured digit (ns, bytes) of a value under 10 s; fewer
        # for the per-layer line, which must stay well under the 2000
        # characters of stdout a reader may keep
        values, digits = (r["layers"], 10) if a.trace else (e2e, 12)
        metrics = {m["name"]: {"value": float("%.*g" % (digits, values.get(m["name"], 0))),
                               "unit": m["unit"]}
                   for m in spec["per_layer" if a.trace else "end_to_end"]}
        conf = hashlib.sha256(json.dumps(r["spark_sql_conf"], sort_keys=True).encode()).hexdigest()
        print("perfbench %s seed=%d passes=%d wall_s=%.3f cpu_s=%.3f contaminated=%s/%d "
              "conf=%s errors=%d side=%s"
              % (a.workload, a.seed, len(passes), e2e["wall_s"], statistics.median(cpus),
                 "run" if run_flag else "-", len(flagged), conf[:12], failed, side_path))
        for e in errors[:3]:
            print("  error: " + e[:300])
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
