"""Turns the files a benchmark run leaves in its work directory into
metrics, and checks the program's outputs against a batch recompute of
the generated input (streams) or the DuckDB oracle (backfill)."""
import csv
import datetime as dt
import glob
import json
import math
import os

from stats import median, percentile

QUERIES = ["volume_tracking", "price_tracking", "btc_features", "features_store"]
CKPT = {"volume_tracking": "query_01", "price_tracking": "query_02",
        "btc_features": "query_03", "features_store": "query_04"}
STORES = ["price_tracking", "volume_tracking"]


def iso_ms(s):
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


# ---------------------------------------------------------------- progress

def load_batches(work, run_ids):
    """name -> [batch dict] of the measured queries, in batch order."""
    out = {q: [] for q in QUERIES}
    with open(os.path.join(work, "progress.jsonl")) as f:
        for line in f:
            if not line.strip():
                continue
            p = json.loads(line)["progress"]
            if p["runId"] not in run_ids or p["name"] not in out:
                continue
            d = p.get("durationMs", {})
            start = iso_ms(p["timestamp"])
            out[p["name"]].append({
                "id": p["batchId"], "start": start,
                "commit": start + d.get("triggerExecution", 0),
                "rows": p["numInputRows"], "dur": d,
                "state": p.get("stateOperators", []),
                "watermark": iso_ms(p["eventTime"]["watermark"])
                if "watermark" in p.get("eventTime", {}) else None,
            })
    for b in out.values():
        b.sort(key=lambda x: x["id"])
    return out


def source_files(ckpt_query_dir):
    """file name -> batch id, from the file source's metadata log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt_query_dir, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_of(batches):
    return {b["id"]: b["commit"] for b in batches}


# ------------------------------------------------------------------ stores

def store_files(root):
    """Parquet files of a keyed store's current version, read from its
    documented layout (`_CURRENT` -> manifest -> bucket generations)."""
    cur = os.path.join(root, "_CURRENT")
    if not os.path.exists(cur):
        return [], {}
    v = int(open(cur).read().strip())
    m = json.load(open(os.path.join(root, f"manifest_v{v}.json")))
    files = []
    for b, g in m["buckets"].items():
        files += glob.glob(os.path.join(root, g, f"_bucket={b}", "*.parquet"))
    return sorted(files), m


def read_store(con, root):
    files, _ = store_files(root)
    if not files:
        return []
    return con.execute(
        "SELECT *, epoch_ms(\"timestamp\") AS t_ms FROM read_parquet(?)", [files]
    ).fetchdf().to_dict("records")


def sink_files(sink_dir):
    """Files a file-sink query committed, from its `_spark_metadata` log."""
    out = set()
    for p in glob.glob(os.path.join(sink_dir, "_spark_metadata", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    out.add(json.loads(line)["path"].replace("file://", ""))
    return sorted(out)


def feature_rows(sink_dir):
    """(symbol, window start ms, row dict, file mtime ms) for each row of
    `btc_features` (key, value-JSON csv)."""
    rows = []
    for path in sink_files(sink_dir):
        mtime = os.path.getmtime(path) * 1000.0
        with open(path, newline="") as f:
            for key, value in csv.reader(f, escapechar="\\", doublequote=False):
                v = json.loads(value)
                start = dt.datetime.fromisoformat(v["timestamp"]).replace(
                    tzinfo=dt.timezone.utc).timestamp() * 1000.0
                rows.append((key, int(start), v, mtime))
    return rows


def store_window_keys(sink_dir):
    """(symbol, window start ms, num_trades) of `features_store` rows."""
    out = []
    for path in sink_files(sink_dir):
        with open(path, newline="") as f:
            for r in csv.reader(f, escapechar="\\", doublequote=False):
                start = dt.datetime.fromisoformat(r[1].replace("Z", "+00:00")).timestamp() * 1000.0
                out.append((r[0], int(start), int(r[7])))
    return out


# ------------------------------------------------------- expected outputs

def close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def expected_windows(trades, size_ms, slide_ms):
    """(symbol, start ms) -> aggregates over the on-time trades."""
    out = {}
    for t in trades:
        if t["late"]:
            continue
        base = t["t_ms"] - t["t_ms"] % slide_ms
        for k in range(size_ms // slide_ms):
            start = base - k * slide_ms
            w = out.get((t["symbol"], start))
            if w is None:
                w = out[(t["symbol"], start)] = {
                    "n": 0, "vol": 0.0, "usd": 0.0, "high": -1e300, "low": 1e300,
                    "prices": set(), "last_created": None}
            w["n"] += 1
            w["vol"] += t["volume"]
            w["usd"] += t["price"] * t["volume"]
            w["high"] = max(w["high"], t["price"])
            w["low"] = min(w["low"], t["price"])
            w["prices"].add(t["price"])
            c = t.get("created_ms")
            if c is not None and (w["last_created"] is None or c > w["last_created"]):
                w["last_created"] = c
                w["last_phase"] = t.get("phase")
    return out


def check_streams(con, work, trades, batches):
    """Output checks for the four streaming queries. Returns a list of
    (name, ok, detail)."""
    out_dir = os.path.join(work, "out")
    res = []

    # price_tracking: one row per distinct (symbol, timestamp), late
    # trades included (this query has no watermark)
    rows = read_store(con, os.path.join(out_dir, "price_tracking"))
    want = {(t["symbol"], t["t_ms"]): t["price"] for t in trades}
    got = {}
    dup = 0
    for r in rows:
        k = (r["symbol"], int(r["t_ms"]))
        dup += k in got
        got[k] = r["price"]
    bad = sum(1 for k, p in want.items() if k not in got or got[k] != p)
    extra = sum(1 for k in got if k not in want)
    res.append(("price_tracking", bad == 0 and extra == 0 and dup == 0,
                f"rows={len(rows)} want={len(want)} missing_or_wrong={bad} extra={extra} dup={dup}"))

    # volume_tracking: windows equal a batch groupBy of on-time trades;
    # windows only late trades touched must be absent
    exp = expected_windows(trades, 60_000, 60_000)
    rows = read_store(con, os.path.join(out_dir, "volume_tracking"))
    seen = set()
    bad = 0
    for r in rows:
        k = (r["symbol"], int(r["t_ms"]))
        seen.add(k)
        w = exp.get(k)
        if w is None or not (close(r["total_volume"], w["vol"])
                             and close(r["total_usd_volume"], w["usd"])):
            bad += 1
    missing = sum(1 for k in exp if k not in seen)
    late_touched = {(t["symbol"], t["t_ms"] - t["t_ms"] % 60_000) for t in trades if t["late"]}
    res.append(("volume_tracking", bad == 0 and missing == 0,
                f"windows={len(rows)} want={len(exp)} wrong={bad} missing={missing} "
                f"late_touched={len(late_touched)}"))

    # btc_features: every window the final watermark closed, exactly once,
    # equal to a batch groupBy; close is one of the window's prices
    exp = expected_windows(trades, 30_000, 10_000)
    wm = max((b["watermark"] or 0) for b in batches["btc_features"])
    closed = {k for k in exp if k[1] + 30_000 <= wm}
    frows = feature_rows(os.path.join(out_dir, "btc_features"))
    keys = [(s, st) for s, st, _, _ in frows]
    bad = 0
    for s, st, v, _ in frows:
        w = exp.get((s, st))
        if w is None or not (v["num_trades"] == w["n"] and v["high"] == w["high"]
                             and v["low"] == w["low"] and v["close"] in w["prices"]
                             and close(v["total_btc_volume"], w["vol"])
                             and close(v["total_usd_volume"], w["usd"])):
            bad += 1
    dup = len(keys) - len(set(keys))
    missing = len(closed - set(keys))
    early = len(set(keys) - closed)
    res.append(("btc_features", bad == 0 and dup == 0 and missing == 0 and early == 0,
                f"windows={len(keys)} closed={len(closed)} wrong={bad} dup={dup} "
                f"missing={missing} unexpected={early}"))

    # features_store: the same windows, partitioned by date
    wm4 = max((b["watermark"] or 0) for b in batches["features_store"])
    closed4 = {k: exp[k]["n"] for k in exp if k[1] + 30_000 <= wm4}
    got4 = store_window_keys(os.path.join(out_dir, "features_store"))
    ok = (len(got4) == len(closed4) and
          all(closed4.get((s, st)) == n for s, st, n in got4))
    res.append(("features_store", ok, f"windows={len(got4)} closed={len(closed4)}"))
    return res, frows, exp


# ------------------------------------------------------------ freshness

def visibility(trades, files_to_batch, commits, t_from):
    """Per trade: commit time of the batch that read its file minus
    `t_from(trade)`; trades whose file no batch read are returned apart."""
    lat, missing = [], 0
    for t in trades:
        b = files_to_batch.get(t["file"])
        c = commits.get(b) if b is not None else None
        if c is None:
            missing += 1
        else:
            lat.append(c - t_from(t))
    return lat, missing


def landing(frows, commits_sorted):
    """Window row -> commit time of the first btc_features batch that
    committed at or after its file was written."""
    out = {}
    for s, st, _, mtime in frows:
        c = next((c for c in commits_sorted if c >= mtime - 1.0), None)
        if c is not None:
            out[(s, st)] = c
    return out


# ------------------------------------------------------------ per layer

def per_layer_stream(batches, engine):
    m = {}
    for q in QUERIES:
        bs = [b for b in batches[q] if b["rows"] > 0]
        allb = batches[q]
        pre = f"stream.{q}."
        dur = lambda k: [b["dur"].get(k, 0) for b in bs]
        m[pre + "batches"] = len(bs)
        m[pre + "rows_in"] = sum(b["rows"] for b in bs)
        if bs:
            m[pre + "batch_ms_p50"] = median(dur("triggerExecution"))
            m[pre + "batch_ms_p90"] = percentile(dur("triggerExecution"), 90)
            for k, name in [("queryPlanning", "planning_ms_p50"), ("addBatch", "add_batch_ms_p50"),
                            ("walCommit", "wal_commit_ms_p50"),
                            ("commitOffsets", "commit_offsets_ms_p50")]:
                m[pre + name] = median(dur(k))
        if allb:
            span = allb[-1]["commit"] - allb[0]["start"]
            busy = sum(b["dur"].get("triggerExecution", 0) for b in allb)
            m[pre + "idle_share"] = max(0.0, 1 - busy / span) if span > 0 else 0.0
            st = allb[-1]["state"]
            m[pre + "state_rows_end"] = sum(s.get("numRowsTotal", 0) for s in st)
            m[pre + "state_mem_bytes_end"] = sum(s.get("memoryUsedBytes", 0) for s in st)
            commits = [s.get("commitTimeMs", 0) for b in bs for s in b["state"]]
            m[pre + "state_commit_ms_p50"] = median(commits) if commits else 0
            m[pre + "rows_dropped_by_watermark"] = sum(
                s.get("numRowsDroppedByWatermark", 0) for b in allb for s in b["state"])
        per_batch = [x for x in engine.get("by_batch", []) if x["tag"] == q and x["batch"] >= 0]
        ids = {b["id"] for b in bs}
        pb = [x for x in per_batch if x["batch"] in ids]
        m[pre + "jobs_per_batch"] = sum(x["jobs"] for x in pb) / len(pb) if pb else 0
        m[pre + "tasks_per_batch"] = sum(x["tasks"] for x in pb) / len(pb) if pb else 0
    # source layer: time to find new files and to plan the batch read
    lo = [b["dur"].get("latestOffset", 0) for q in QUERIES for b in batches[q] if b["rows"] > 0]
    gb = [b["dur"].get("getBatch", 0) for q in QUERIES for b in batches[q] if b["rows"] > 0]
    m["source.latest_offset_ms_p50"] = median(lo) if lo else 0
    m["source.get_batch_ms_p50"] = median(gb) if gb else 0
    return m


def per_layer_stores(base, engine, batches, rewrites):
    m = {}
    out_dir = os.path.join(base, "out")
    tags = engine.get("by_tag", {})
    for s in STORES:
        root = os.path.join(out_dir, s)
        files, man = store_files(root)
        pre = f"sink.upsert.{s}."
        merges = sum(1 for b in batches[s] if b["rows"] > 0)
        written = tags.get(s, {}).get("bytes_written", 0)
        live = sum(os.path.getsize(f) for f in files)
        rw = rewrites.get(s, [])
        m[pre + "merges"] = merges
        m[pre + "bytes_written"] = written
        m[pre + "live_bytes_end"] = live
        m[pre + "buckets_rewritten_per_merge"] = sum(rw) / len(rw) if rw else 0
        m[pre + "write_amp"] = written / live if live else 0
        m[pre + "generations_live"] = len(set(man.get("buckets", {}).values())) if man else 0
    for q in ("btc_features", "features_store"):
        files = sink_files(os.path.join(out_dir, q))
        m[f"sink.csv.{q}.files"] = len(files)
        m[f"sink.csv.{q}.bytes"] = sum(os.path.getsize(f) for f in files if os.path.exists(f))
    return m


def engine_metrics(engine):
    tags = engine.get("by_tag", {})
    keys = ["jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "gc_ms", "executor_run_ms"]
    return {f"engine.{k}": sum(t.get(k, 0) for t in tags.values()) for k in keys}


def self_times(spans):
    """name -> total self time (ms): span duration minus the union of its
    children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in cs:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"] - covered)
    return out


def lag_files(work, base):
    """Input files no price_tracking batch had read when the run ended."""
    read = source_files(os.path.join(base, "ckpt", "query_02"))
    for d in ("backlog", "probe_backlog"):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            return len([f for f in os.listdir(p) if not f.startswith(".") and f not in read])
    return 0


PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def batch_spans(batches, next_id):
    """One span per micro-batch from listener progress, with its phases
    as children laid out in execution order."""
    out = []
    for q, bs in (batches or {}).items():
        for b in bs:
            pid = next_id
            next_id += 1
            out.append({"id": pid, "name": f"stream.{q}.batch", "parent": 0,
                        "start_ms": b["start"], "end_ms": b["commit"], "batch": b["id"]})
            t = b["start"]
            for k in PHASES:
                d = b["dur"].get(k)
                if d is None:
                    continue
                out.append({"id": next_id, "name": f"stream.{q}.{k}", "parent": pid,
                            "start_ms": t, "end_ms": t + d})
                next_id += 1
                t += d
    return out
