"""Pipeline benchmark for the four-query trade pipeline
(`graft.streaming.StreamingJob`) and the offline backfill query set.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program with `build.py` (first
run only), generates the workload's inputs from the seed, drives the JVM
harness (`harness/Harness.scala`), checks the outputs, prints one report
line per metric (value, unit, sample count) and, last, one JSON line
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones; a traced run also writes its per-layer numbers and spans
to `.bench_runs/` and reports the tracing overhead against the untraced
runs recorded there. See README.md for what each metric means.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
from stats import median, percentile, summary  # noqa: E402

WORKLOADS = ("replay_backlog", "backfill_batch")
BACKLOG_FILES_PER_S = 5    # replay: 5 files x 20 envelopes x 10 trades per run second
BACKLOG_ENVELOPES = 20
FILES_PER_TRIGGER = 10     # replay batches of 2,000 trades
WARM_BACKLOG_FILES = 10    # one trigger's worth
# Late trades start in the third batch: a stateful operator drops late
# rows against the previous batch's watermark (Spark 3.4+), and batch 0
# sets none.
LATE_FROM_FILE = 2 * FILES_PER_TRIGGER
PROBE_BACKLOG_FILES = 20
HISTORY_ROWS = 8_000       # backfill history (events rows)
WARM_HISTORY_ROWS = 1_000
SETUP_REPEATS = 3          # setup_s is the median of this many set-ups
DEADLINE_S = 175
# a fixed-size heap with a fixed young generation: G1's adaptive sizing
# otherwise makes the peak resident set vary by a quarter run to run
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
BACKFILL_QUERIES = (
    "p1_decode_roundtrip", "a1_tumbling_volume", "a2_sliding_features", "f3_dateparts",
    "w1_cumulative_volume", "w3_resample_interpolate", "w2b_lookback_matrix",
    "k7_predict_writeback", "s6_serving_range", "s7_keyed_point_read")
# Spark on JDK 17 outside spark-submit needs these (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

E2E_METRICS = ("setup_s", "lat_mean_ms", "lat_p90_ms", "read_p50_ms", "trades_per_s",
               "disk_mb", "rss_peak_mb", "ok_share")


def cpu_steal():
    """(steal, total) jiffies of all CPUs: time the host gave to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


class RssPeak(threading.Thread):
    """Polls a process's peak resident set (VmHWM) until it exits."""

    def __init__(self, pid):
        super().__init__(daemon=True)
        self.pid, self.kb, self.stop = pid, 0, False

    def run(self):
        while not self.stop:
            try:
                with open(f"/proc/{self.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.kb = max(self.kb, int(line.split()[1]))
            except (OSError, ValueError):
                return
            time.sleep(0.2)


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)




def write_inputs(workload, work, seed, seconds, trace):
    """Writes the workload's inputs under `work`; returns what the checks
    need."""
    inp = {}
    if workload == "replay_backlog":
        inp["log"] = gen.write_backlog(os.path.join(work, "backlog"), seed,
                                       BACKLOG_FILES_PER_S * seconds, BACKLOG_ENVELOPES,
                                       late_from=LATE_FROM_FILE)
        gen.write_backlog(os.path.join(work, "warm_backlog"), seed + 1_000_003,
                          WARM_BACKLOG_FILES, BACKLOG_ENVELOPES)
    if workload == "backfill_batch":
        inp["rows"] = gen.write_history(os.path.join(work, "hist"), seed, HISTORY_ROWS)
    if workload == "backfill_batch" or trace:
        gen.write_history(os.path.join(work, "warm_hist"), seed + 1_000_003, WARM_HISTORY_ROWS)
    if workload == "backfill_batch" and trace:
        inp["log"] = gen.write_backlog(os.path.join(work, "probe_backlog"), seed + 7,
                                       PROBE_BACKLOG_FILES, BACKLOG_ENVELOPES,
                                       late_from=LATE_FROM_FILE)
    return inp


def prepare(workload, work, seed, seconds, trace):
    """Generates the inputs once per set-up: the first time under `work`,
    the repeats into a directory that is deleted again. Returns what the
    checks need, with each generation's time (ms) under "gen_ms"."""
    gen_ms = []
    for i in range(SETUP_REPEATS):
        d = work if i == 0 else os.path.join(work, f"regen{i}")
        t = time.time()
        out = write_inputs(workload, d, seed, seconds, trace)
        gen_ms.append((time.time() - t) * 1000)
        if i == 0:
            inp = out
        else:
            shutil.rmtree(d)
    inp["gen_ms"] = gen_ms
    return inp


def trades_from_backlog(log):
    return [{"symbol": s, "t_ms": t, "price": p, "volume": v, "file": f"b{fi:06d}.json",
             "late": late} for s, t, p, v, fi, late in log]


def duck(hist_dir=None):
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    if hist_dir:
        con.sql("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{hist_dir}/events.parquet/*.parquet')")
    return con


def oracle_checks(jvm, work):
    """Backfill outputs against SparkEntry.oracleSql, compared the way
    tools/check_oracle.py compares: columns by name, rows sorted,
    timestamps at microseconds, values exact."""
    import pandas as pd

    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)

    oracle = jvm["extra"].get("oracle", {})
    res, want_cache, cons = [], {}, {}
    for rec in jvm["extra"].get("backfill", []):
        if rec["query"] == "_round" or not rec["ok"]:
            continue
        r, n = rec["round"], rec["query"]
        hist = "warm_hist" if r < 0 else "hist"
        out = os.path.join(work, "probe", "ops", n) if r < 0 else os.path.join(work, "out", f"r{r}", n)
        try:
            if (hist, n) not in want_cache:
                if hist not in cons:
                    cons[hist] = duck(os.path.join(work, hist))
                want_cache[(hist, n)] = normalize(cons[hist].sql(oracle[n]).df())
            want = want_cache[(hist, n)]
            got = normalize(pd.read_parquet(out))
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                res.append((f"{n}@r{r}", False, f"shape spark={got.shape} duck={want.shape}"))
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            res.append((f"{n}@r{r}", True, f"{len(got)} rows"))
        except Exception as e:  # a mismatch or an unreadable output
            res.append((f"{n}@r{r}", False, str(e).split("\n")[0][:200]))
    for c in cons.values():
        c.close()
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    t_run0 = time.time()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes, jars = build.ensure_built(root)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_before = loadavg()
    steal_before = cpu_steal()

    inp = prepare(a.workload, work, a.seed, a.seconds, a.trace)
    cmd = (["java"] + JVM_HEAP + ["-Xss8m", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Harness",
              a.workload, work, str(a.seed), str(a.seconds), str(a.trace), str(cores),
              ",".join(BACKFILL_QUERIES), str(gen.BACKLOG_BASE_MS), str(SETUP_REPEATS),
              str(FILES_PER_TRIGGER)])
    t_spawn = time.time() * 1000
    with open(os.path.join(work, "jvm.log"), "w") as log:
        jvm_p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        rss = RssPeak(jvm_p.pid)
        rss.start()
        jvm_p.wait(timeout=max(1, t_run0 + DEADLINE_S - time.time()))
        rss.stop = True
        if jvm_p.returncode != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"harness exited with {jvm_p.returncode}")
    except subprocess.TimeoutExpired:
        fail("run exceeded its deadline")
    finally:
        if jvm_p.poll() is None:
            jvm_p.kill()
        jvm_p.wait()
    load_after = loadavg()
    steal_after = cpu_steal()

    with open(os.path.join(work, "jvm.json")) as f:
        jvm = json.load(f)
    report = compute(a, work, jvm, inp, rss.kb, t_spawn)
    report["hygiene"] = {
        "load_before": load_before, "load_after": load_after,
        "canary_s": float(jvm["extra"]["canary_s"]), "cores": cores,
        # CPU time the host gave to other guests during the run
        "steal_share": (steal_after[0] - steal_before[0]) / max(1, steal_after[1] - steal_before[1]),
        # graft.Bench's rule: a start above 1/16 load per core is contended
        "contended": load_before > 0.0625 * cores,
        "gen_ms": inp["gen_ms"][0]}
    emit(a, report, spec, root)
    shutil.rmtree(work, ignore_errors=True)


def setup_times(jvm, inp, t_spawn):
    """Each set-up's time (ms): generating the inputs, plus starting a
    Spark session and warming up in the JVM; the first also includes
    starting the JVM (the CPU canary excluded)."""
    ms = [g + s for g, s in zip(inp["gen_ms"], jvm["extra"]["setup_ms"])]
    ms[0] += jvm["phases"]["jvm_start_ms"] - t_spawn
    return ms


def compute(a, work, jvm, inp, rss_kb, t_spawn):
    """End-to-end metrics, the workload-specific metrics behind them, and
    the output checks."""
    named = {}       # name -> (value, unit, samples, effective samples)
    per_query = []
    checks = []
    terminated = [e for e in jvm["errors"] if e.startswith("query terminated")]
    reads = jvm["reads"]
    read_ms = [r[1] for r in reads if r[2]]
    read_failed = sum(1 for r in reads if not r[2])
    attempted = len(reads)
    failed_ops = len(terminated) + read_failed
    run_ids = set(jvm["extra"].get("run_ids", []))
    batches = analyze.load_batches(work, run_ids) if run_ids else None
    disk = int(jvm["extra"]["disk_bytes"])
    setup_ms = setup_times(jvm, inp, t_spawn)

    if a.workload == "replay_backlog":
        attempted += len(analyze.QUERIES)
        trades = trades_from_backlog(inp["log"])
        measure_start = jvm["phases"]["measure_start_ms"]
        con = duck()
        ck, frows, windows = analyze.check_streams(con, work, trades, batches)
        con.close()
        checks += ck
        fmap = {q: analyze.source_files(os.path.join(work, "ckpt", analyze.CKPT[q]))
                for q in analyze.STORES}
        commits = {q: analyze.commit_of(batches[q]) for q in analyze.STORES}
        since_start = lambda t: measure_start
        price, miss_p = analyze.visibility(trades, fmap["price_tracking"],
                                           commits["price_tracking"], since_start)
        vol, miss_v = analyze.visibility([t for t in trades if not t["late"]],
                                         fmap["volume_tracking"], commits["volume_tracking"],
                                         since_start)
        checks.append(("visibility", miss_p == 0 and miss_v == 0,
                       f"trades never read: price={miss_p} volume={miss_v}"))
        land = analyze.landing(frows, sorted(b["commit"] for b in batches["btc_features"]))
        emit_lat = [c - measure_start for k, c in land.items() if k in windows]
        data = [b for q in analyze.QUERIES for b in batches[q] if b["rows"] > 0]
        # micro-batch latency, trigger to commit, of every data batch of
        # the four queries
        lat_ms = [b["commit"] - b["start"] for b in data]
        tail_ms = lat_ms
        tps = len(trades) / ((max(b["commit"] for b in data) - measure_start) / 1000.0)
        nb = lambda q: sum(1 for b in batches[q] if b["rows"] > 0)
        ps = summary(price, effective=nb("price_tracking"))
        vs = summary(vol, effective=nb("volume_tracking"))
        es = summary(emit_lat, qs=(50,), effective=len(set(land.values())))
        for q, s in (("price", ps), ("volume", vs)):
            for p in ("p50", "p90"):
                named[f"{q}_catchup_{p}_ms"] = (s[p], "ms", s["n"], s["n_eff"])
        named["feature_emit_p50_ms"] = (es["p50"], "ms", es["n"], es["n_eff"])
        named["batch_p50_ms"] = (percentile(lat_ms, 50), "ms", len(lat_ms), len(lat_ms))
        named["replay_trades_per_s"] = (tps, "1/s", len(trades), nb("price_tracking"))
        named["replay_disk_mb"] = (disk / 1e6, "MB", 1, 1)
        n_trades = len(trades)
    else:
        recs = [r for r in jvm["extra"]["backfill"] if r["round"] >= 0]
        calls = [r for r in recs if r["query"] != "_round"]
        rounds = [r["ms"] for r in recs if r["query"] == "_round"]
        attempted += len(calls)
        failed_ops += sum(1 for r in calls if not r["ok"])
        lat_ms = [r["ms"] for r in calls if r["ok"]]
        # The p90 of single calls lands between the two slowest queries'
        # single, first-round timings; the p90 is taken over each query's
        # median of the rounds instead.
        tail_ms = [median(ms) for ms in ([r["ms"] for r in calls if r["ok"] and r["query"] == n]
                                         for n in BACKFILL_QUERIES) if ms]
        tps = inp["rows"] * len(rounds) / (sum(rounds) / 1000.0)
        named["backfill_s"] = (median(rounds) / 1000.0, "s", len(rounds), len(rounds))
        per_query = [(r["query"], r["ms"]) for r in calls]
        named["query_p50_ms"] = (percentile(lat_ms, 50), "ms", len(lat_ms), len(rounds))
        n_trades = inp["rows"]
    if jvm["extra"].get("backfill"):
        checks += oracle_checks(jvm, work)

    attempted += len(checks)
    failed_checks = [c for c in checks if not c[1]]
    failed = failed_ops + len(failed_checks)
    lat_mean = sum(lat_ms) / len(lat_ms) if lat_ms else None
    lat_p90 = percentile(tail_ms, 90) if tail_ms else None
    rs = summary(read_ms)
    named["read_p50_ms"] = (rs["p50"], "ms", rs["n"], rs["n"])
    named["read_p90_ms"] = (rs["p90"], "ms", rs["n"], rs["n"])
    named["rss_peak_mb"] = (rss_kb / 1024.0, "MB", 1, 1)
    named["failed_share"] = (failed / attempted, "share", attempted, attempted)
    named["setup_s"] = (median(setup_ms) / 1000.0, "s", len(setup_ms), len(setup_ms))
    named["setup_cold_s"] = (setup_ms[0] / 1000.0, "s", 1, 1)
    vals = (median(setup_ms) / 1000.0, lat_mean, lat_p90, rs["p50"], tps,
            disk / 1e6, rss_kb / 1024.0, 1 - failed / attempted)
    samples = (len(setup_ms), len(lat_ms), len(tail_ms), rs["n"], n_trades, 1, 1, attempted)
    units = ("s", "ms", "ms", "ms", "1/s", "MB", "MB", "share")
    out = {"e2e": {k: (v, u, n) for k, v, u, n in zip(E2E_METRICS, vals, units, samples)},
           "named": named, "per_query": per_query, "checks": checks, "attempted": attempted,
           "failed": failed, "correct": not failed_checks and not terminated,
           "errors": jvm["errors"][:20]}
    if a.trace:
        out["layers"], out["spans"] = layers(a, work, jvm, batches, inp, read_ms, read_failed, tps)
    return out


def layers(a, work, jvm, batches, inp, read_ms, read_failed, tps):
    """Per-layer metrics of a traced run, and its spans."""
    with open(os.path.join(work, "engine.json")) as f:
        engine = json.load(f)
    # the backfill's stream probe keeps its outputs apart from the run's
    base = os.path.join(work, "probe") if a.workload == "backfill_batch" else work
    m = analyze.per_layer_stream(batches, engine)
    m["source.lag_files_end"] = analyze.lag_files(work, base)
    dec = jvm["extra"]["decode"]
    m["ingest.decode.s"] = dec["ms"] / 1000.0
    m["ingest.decode.rows_in"] = dec["rows_in"]
    m["ingest.decode.rows_out"] = dec["rows_out"]
    m.update(analyze.per_layer_stores(base, engine, batches, jvm.get("rewrites", {})))
    rs = summary(read_ms)
    m["sink.upsert.read_ms_p50"] = rs["p50"]
    m["sink.upsert.read_ms_p90"] = rs["p90"]
    m["sink.upsert.read_failed"] = read_failed
    tags = engine.get("by_tag", {})
    recs = [r for r in jvm["extra"]["backfill"] if r["query"] != "_round"]
    rounds = len({r["round"] for r in recs})
    for n in BACKFILL_QUERIES:
        m[f"ops.{n}.s"] = median([r["ms"] for r in recs if r["query"] == n]) / 1000.0
        m[f"ops.{n}.shuffle_bytes"] = tags.get(f"ops.{n}", {}).get(
            "shuffle_write_bytes", 0) / rounds
    m.update(analyze.engine_metrics(engine))
    # single-thread baseline of the workload's unit of work
    local1 = float(jvm["extra"]["local1_ms"])
    if a.workload == "backfill_batch":
        main = median([r["ms"] for r in jvm["extra"]["backfill"]
                       if r["query"] == "_round" and r["round"] >= 0])
    else:
        main = len(inp["log"]) / tps * 1000.0
    m["engine.local1_speedup"] = local1 / main
    log = inp.get("log", [])
    m["gen.trades"] = len(log) + inp.get("rows", 0)
    m["gen.envelopes"] = len(log) // gen.ENVELOPE_TRADES
    m["gen.late_share"] = sum(r[5] for r in log) / len(log) if log else 0.0
    # no schedule: every input is due at the start, so the generator is
    # as late as its writes take
    m["gen.late_ms_p99"] = inp["gen_ms"][0]
    spans = []
    p = os.path.join(work, "spans.jsonl")
    if os.path.exists(p):
        with open(p) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    spans += analyze.batch_spans(batches, max([s["id"] for s in spans], default=0) + 1)
    return m, spans


def fmt(v):
    return "null" if v is None else repr(float(v))


def emit(a, r, spec, root):
    for k, (v, unit, n, n_eff) in sorted(r["named"].items()):
        print(f"metric {k} = {fmt(v)} {unit} (n={n}, batches/rounds={n_eff})")
    for n, ms in r.get("per_query", []):
        print(f"query {n} = {ms:.3f} ms")
    for name, ok, detail in r["checks"]:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    for e in r["errors"]:
        print(f"error {e}")
    print("hygiene " + json.dumps(r["hygiene"]))
    runs = os.path.join(root, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    if a.trace:
        missing = [m["name"] for m in spec["per_layer"] if r["layers"].get(m["name"]) is None]
        if missing:
            fail(f"per-layer metrics not measured: {missing}")
        base = []
        for f in sorted(os.listdir(runs)):
            if f.startswith(f"{a.workload}-s") and f.endswith(".e2e.json"):
                with open(os.path.join(runs, f)) as fh:
                    base.append(json.load(fh))
        overhead = {}
        for k, (v, _, _) in r["e2e"].items():
            prior = [b[k] for b in base if b.get(k) is not None]
            if prior and v is not None:
                overhead[k] = v - median(prior)
                print(f"trace_overhead {k} = {overhead[k]:+.4f} "
                      f"(traced minus median of {len(prior)} untraced runs)")
        stem = os.path.join(runs, f"{a.workload}-s{a.seed}")
        with open(stem + ".trace.json", "w") as f:
            json.dump({"per_layer": r["layers"], "self_ms": analyze.self_times(r["spans"]),
                       "overhead": overhead, "e2e": {k: v[0] for k, v in r["e2e"].items()}},
                      f, indent=1)
        with open(stem + ".spans.jsonl", "w") as f:
            for s in r["spans"]:
                f.write(json.dumps(s) + "\n")
        metrics = {m["name"]: {"value": float(r["layers"][m["name"]]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        with open(os.path.join(runs, f"{a.workload}-s{a.seed}.e2e.json"), "w") as f:
            json.dump({k: v[0] for k, v in r["e2e"].items()}, f)
        missing = [m["name"] for m in spec["end_to_end"] if r["e2e"][m["name"]][0] is None]
        if missing:
            fail(f"end-to-end metrics without samples: {missing}")
        metrics = {m["name"]: {"value": float(r["e2e"][m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
