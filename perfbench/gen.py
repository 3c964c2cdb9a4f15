"""Seeded input generator for the pipeline benchmark.

Two inputs, both derived from one seed:

* ``backlog``  a pre-written backlog of equal-size envelope files for the
               replay drain, each written through a temp file and an
               atomic rename, with a small share of trades stamped beyond
               both watermarks;
* ``history``  an ``events.parquet`` table in the testdata's shape and
               value domain for the backfill query set.
"""
import bisect
import json
import os
import random

N_SYMBOLS = 50
ENVELOPE_TRADES = 10
TICK_S = 0.5
LATE_SHARE = 0.005
# a late trade's event time trails its due time by this much (plus up to
# 10 s): beyond both watermarks (30 s and 10 s) however much event time
# the batch before it spans
LATE_MS = 600_000
JITTER_MS = 2_000          # event time trails the due time by 0-2 s
BACKLOG_BASE_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z


def symbol(i):
    return f"BINANCE:S{i:02d}USDT"


class TradeGen:
    """Zipf-skewed symbols, per-symbol random-walk prices, volumes in
    thousandths, and the producer's running cumulative volume. Keys
    (symbol, event ms) are unique so every trade owns its row in the
    keyed price store."""

    def __init__(self, rnd, zipf_s=1.1):
        self.rnd = rnd
        self.cum = []
        total = 0.0
        for i in range(N_SYMBOLS):
            total += 1.0 / (i + 1) ** zipf_s
            self.cum.append(total)
        self.price = [round(rnd.uniform(5, 500), 2) for _ in range(N_SYMBOLS)]
        self.cv_milli = [0] * N_SYMBOLS
        self.used = set()

    def trade(self, t_ms):
        rnd = self.rnd
        i = min(bisect.bisect(self.cum, rnd.random() * self.cum[-1]), N_SYMBOLS - 1)
        p = max(0.01, round(self.price[i] * (1 + rnd.gauss(0, 0.002)), 2))
        self.price[i] = p
        v_milli = rnd.randint(1, 2000)
        self.cv_milli[i] += v_milli
        while (i, t_ms) in self.used:
            t_ms += 1
        self.used.add((i, t_ms))
        return {"c": None, "p": p, "s": symbol(i), "t": t_ms,
                "v": v_milli / 1000, "cv": self.cv_milli[i] / 1000}


def envelope_line(trades):
    return json.dumps({"data": trades, "type": "trade"}, separators=(",", ":"))


def write_atomic(path, text):
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def write_backlog(out_dir, seed, n_files, envelopes_per_file, late_from=None, rate=200):
    """Equal-size envelope files with distinct, increasing modification
    times, so the file source takes them in the same order every run.
    From file `late_from` on (None: never), a `LATE_SHARE` of trades is
    stamped `LATE_MS` before its due time; earlier files leave the first
    batch without a watermark to be late against. Returns the log rows
    (symbol, t_ms, price, volume, file, late)."""
    rnd = random.Random(seed)
    gen = TradeGen(rnd)
    os.makedirs(out_dir, exist_ok=True)
    per_file = envelopes_per_file * ENVELOPE_TRADES
    log = []
    k = 0
    for fi in range(n_files):
        trades, late = [], []
        for _ in range(per_file):
            due = int(BACKLOG_BASE_MS + k * 1000.0 / rate)
            is_late = late_from is not None and fi >= late_from and rnd.random() < LATE_SHARE
            trades.append(gen.trade(due - (LATE_MS + rnd.randint(0, 10_000) if is_late
                                           else rnd.randint(0, JITTER_MS))))
            late.append(int(is_late))
            k += 1
        lines = [envelope_line(trades[j:j + ENVELOPE_TRADES])
                 for j in range(0, per_file, ENVELOPE_TRADES)]
        path = os.path.join(out_dir, f"b{fi:06d}.json")
        write_atomic(path, "\n".join(lines) + "\n")
        mtime = BACKLOG_BASE_MS / 1000 + fi
        os.utime(path, (mtime, mtime))
        log.extend((t["s"], t["t"], t["p"], t["v"], fi, lt) for t, lt in zip(trades, late))
    return log


EVENT_TYPES = ["click", "view", "signup", "error", "purchase"]
JAN_2024_US = 1_704_067_200_000_000
MONTH_US = 30 * 24 * 3600 * 1_000_000


def history_columns(seed, n):
    """The testdata's `events` domain: Jan 2024 timestamps (µs), five
    event types, 150 users, two-decimal values in [0.01, 490]."""
    rnd = random.Random(seed)
    ts = sorted(JAN_2024_US + rnd.randrange(MONTH_US) for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts": ts,
        "user_id": [rnd.randrange(150) for _ in range(n)],
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n)],
        "value": [min(490.0, max(0.01, round(rnd.expovariate(1 / 40.0), 2))) for _ in range(n)],
        "props": ['{"k": %d}' % rnd.randrange(100) for _ in range(n)],
    }


def write_history(out_dir, seed, n, parts=4):
    """`<out_dir>/events.parquet/` as `parts` files, the multi-file shape
    a scan can split."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = history_columns(seed, n)
    table = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    step = (n + parts - 1) // parts
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
    return n

