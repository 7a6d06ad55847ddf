"""Seeded inputs and expected outputs for the EOD cascade benchmark.

Every input is a bronze CSV in the layout the extract side writes
(`trade_date,symbol,open,high,low,close,volume`, one file per trading date
under `eod/yyyy/MM/dd/`).  The same seed gives byte-identical files.

Each daily file carries, besides one row per listed symbol:
  * the reference's 10 negative-volume rows, verbatim;
  * duplicate keys with different prices (latest-wins dedup);
  * lower-case and space-padded variants of real tickers (normalization);
  * one symbol whose only row has an empty volume (lands nowhere);
  * one row whose trade_date does not parse (skipped at load).
Every third date, the first new one included, also gets a small
correction file for the same date.

Alongside the inputs the generator derives, from the reference semantics
alone, what the cascade must produce: the RunResult of every batch run,
per-date table counts, and an order-independent digest of the
FACT JOIN DIM_SECURITY rows.
"""
import datetime as dt
import functools
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

N_SYMBOLS = 12_000        # the reference's SECURITY_ID high-water mark is 11,882
HISTORY_DAYS = 60
NEW_LISTINGS_PER_DAY = 2
DUP_KEYS = 20
CASE_VARIANTS = 12
CORRECTION_ROWS = 150
CORRECTION_NEW_SYMBOLS = 2
FIRST_DATE = dt.date(2026, 1, 5)
HEADER = "trade_date,symbol,open,high,low,close,volume\n"

# dags/lib/eod_data_downloader.py:65-76, appended to every extract
NEGATIVE_ROWS = [
    ("AAPL_X", "192.3", "195.6", "191.8", "194.1", "-1500000"),
    ("GOOGL_X", "138.2", "140.5", "137.6", "139.8", "-980000"),
    ("MSFT_X", "410.5", "415.2", "409.1", "412.4", "-760000"),
    ("AMZN_X", "171.8", "175.0", "170.4", "174.2", "-620000"),
    ("TSLA_X", "252.9", "258.3", "251.7", "257.5", "-840000"),
    ("META_X", "465.7", "472.2", "463.8", "471.0", "-540000"),
    ("NFLX_X", "600.1", "610.8", "598.5", "609.2", "-430000"),
    ("NVDA_X", "1135.6", "1150.3", "1130.1", "1147.9", "-890000"),
    ("INTC_X", "43.2", "44.0", "42.9", "43.8", "-350000"),
    ("IBM_TEST", "185.7", "188.9", "184.8", "187.3", "-270000"),
]

# FACT JOIN DIM digest: each row folds to one residue mod a prime; the
# digest is (row count, sum of residues), so row order never matters and
# any single changed field changes the sum.
DIGEST_P = 2_147_483_647
DIGEST_K = 1_000_003


def weekdays(start, n):
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def date_sk(d):
    return d.year * 10000 + d.month * 100 + d.day


def cents(c):
    return f"{c // 100}.{c % 100:02d}"


@functools.lru_cache(maxsize=None)
def symbol_hash(sym):
    return int(hashlib.md5(sym.encode()).hexdigest()[:7], 16)


def fold(columns):
    """Residue of each row, given its fields as equal-length int64 arrays."""
    h = np.zeros(len(columns[0]), dtype=np.int64)
    for f in columns:
        h = (h * DIGEST_K + np.asarray(f, dtype=np.int64) % DIGEST_P) % DIGEST_P
    return h


class Market:
    """Prices of every symbol on every trading date of one seed."""

    def __init__(self, seed, dates):
        rng = np.random.default_rng(seed)
        self.dates = dates
        pool = N_SYMBOLS + 400
        codes = rng.choice(26 ** 4, size=pool + 1, replace=False)
        letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
        digits = np.stack([(codes // 26 ** i) % 26 for i in (3, 2, 1, 0)], axis=1)
        # the loader reads the literal NULL as a null key (COPY's NULL_IF),
        # so it is no ticker
        self.symbols = [s for s in ("".join(letters[r]) for r in digits) if s != "NULL"][:pool]
        t = len(dates)
        base = rng.integers(500, 50_000, pool)
        walk = np.exp(np.cumsum(rng.normal(0.0, 0.02, (pool, t)), axis=1))
        self.close = np.maximum(100, np.round(base[:, None] * walk)).astype(np.int64)
        self.open = np.maximum(100, np.round(
            self.close * (1 + rng.normal(0.0, 0.01, (pool, t))))).astype(np.int64)
        self.high = np.maximum(self.open, self.close) + rng.integers(0, 200, (pool, t))
        self.low = np.maximum(1, np.minimum(self.open, self.close) - rng.integers(0, 200, (pool, t)))
        self.volume = rng.integers(1_000, 50_000_000, (pool, t))
        self.seed = seed

    def row(self, i, t):
        return self.day(t)[i]

    @functools.lru_cache(maxsize=None)
    def day(self, t):
        """(open, high, low, close, volume) of every symbol on date t."""
        return list(zip(*(a[:, t].tolist() for a in
                          (self.open, self.high, self.low, self.close, self.volume))))


def _csv_line(d, sym, o, h, l, c, v):
    return f"{d},{sym},{cents(o)},{cents(h)},{cents(l)},{cents(c)},{v}\n"


NEGATIVE_LINES = {r[0]: ",".join(r) for r in NEGATIVE_ROWS}


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(HEADER)
        f.writelines(lines)


def bronze_path(root, d, correction=False):
    name = f"eod_prices_{d.isoformat()}{'_corr' if correction else ''}.csv"
    return os.path.join(root, "eod", f"{d.year:04d}", f"{d.month:02d}", f"{d.day:02d}", name)


def _decimal2(a):
    """int64 cents as a decimal128(18, 2) arrow array (formats as 123.45)."""
    buf = np.zeros((len(a), 2), dtype=np.int64)
    buf[:, 0] = a
    return pa.Array.from_buffers(pa.decimal128(18, 2), len(a), [None, pa.py_buffer(buf.tobytes())])


def write_history(m, root, days, parts):
    """Clean history: one row per base symbol plus the negative rows, its
    dates split into `parts` consecutive groups (root/part<n>/eod/...).
    Returns the paths of the files written."""
    paths = []
    order = np.argsort(np.array(m.symbols[:N_SYMBOLS]))
    symbols = pa.array([m.symbols[i] for i in order])
    opts = pacsv.WriteOptions(include_header=False, quoting_style="none")
    for t in range(days):
        d = m.dates[t].isoformat()
        table = pa.table({
            "trade_date": pa.array([d] * N_SYMBOLS), "symbol": symbols,
            "open": _decimal2(m.open[order, t]), "high": _decimal2(m.high[order, t]),
            "low": _decimal2(m.low[order, t]), "close": _decimal2(m.close[order, t]),
            "volume": pa.array(m.volume[order, t])})
        p = bronze_path(os.path.join(root, f"part{t * parts // days}"), m.dates[t])
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(HEADER.encode())
            pacsv.write_csv(table, f, opts)
            f.write("".join(f"{d},{line}\n" for line in NEGATIVE_LINES.values()).encode())
        paths.append(p)
    return paths


def daily_files(m, root, t, k):
    """Bronze file(s) of trading date m.dates[t], the k-th new date.
    Returns [(path, rows)] where a row is
    (date_or_None, symbol, o, h, l, c, volume_or_None)."""
    d = m.dates[t]
    rng = np.random.default_rng([m.seed, t])
    listed = list(range(N_SYMBOLS)) + list(range(N_SYMBOLS, N_SYMBOLS + NEW_LISTINGS_PER_DAY * (k + 1)))
    picks = rng.choice(N_SYMBOLS, size=1 + DUP_KEYS + CASE_VARIANTS + CORRECTION_ROWS, replace=False)
    null_sym = int(picks[0])
    dups = picks[1:1 + DUP_KEYS]
    variants = picks[1 + DUP_KEYS:1 + DUP_KEYS + CASE_VARIANTS]

    def nudged(i):
        o, h, l, c, v = m.row(i, t)
        delta = int(rng.integers(1, 60)) * (1 if rng.random() < 0.5 else -1)
        c2 = max(100, c + delta)
        return (o + 1, max(h, c2) + 3, max(1, min(l, c2) - 2), c2, v + int(rng.integers(1, 1000)))

    rows = []
    for i in listed:
        sym = m.symbols[i]
        if i == null_sym:
            rows.append((d, sym, *m.row(i, t)[:4], None))
        else:
            rows.append((d, sym, *m.row(i, t)))
    for i in dups:
        rows.append((d, m.symbols[i], *nudged(i)))
    for n, i in enumerate(variants):
        sym = m.symbols[i]
        variant = (sym.lower(), f" {sym} ", sym.capitalize(), f"{sym.lower()} ")[n % 4]
        rows.append((d, variant, *nudged(i)))
    rows.append((None, "BADKEY", 1000, 1100, 900, 1000, 5000))
    order = rng.permutation(len(rows))
    rows = [rows[j] for j in order]
    negatives = [(d, s, None, None, None, None, int(v)) for s, *_, v in NEGATIVE_ROWS]
    files = [(bronze_path(root, d), rows + negatives)]

    if k % 3 == 0:
        corr = []
        for i in picks[1 + DUP_KEYS + CASE_VARIANTS:]:
            o, h, l, c, v = m.row(int(i), t)
            corr.append((d, m.symbols[int(i)], o + 2, h + 5, max(1, l - 1), c + 1, v + 7))
        corr.append((d, m.symbols[null_sym], *m.row(null_sym, t)))
        late = N_SYMBOLS + 300 + 2 * (k // 3)
        for i in range(late, late + CORRECTION_NEW_SYMBOLS):
            corr.append((d, m.symbols[i], *m.row(i, t)))
        corr.append((d, "AAPL_X", None, None, None, None, -1500000))
        files.append((bronze_path(root, d, correction=True), corr))

    for path, rs in files:
        lines = []
        for (rd, sym, o, h, l, c, v) in rs:
            if sym in NEGATIVE_LINES:
                lines.append(f"{d.isoformat()},{NEGATIVE_LINES[sym]}\n")
            else:
                lines.append(_csv_line(rd.isoformat() if rd else "not-a-date", sym, o, h, l, c,
                                       "" if v is None else v))
        _write(path, lines)
    return files


class Warehouse:
    """The warehouse state the reference semantics imply."""

    def __init__(self):
        self.core = {}        # date -> {symbol: (o, h, l, c, v)}
        self.raw = {}         # date -> row count
        self.reject = {}      # date -> [normalized symbol of each stored reject row]
        self.dim = {}         # symbol -> security_id
        self._digests = {}    # date -> (rows, residue sum), dropped when the date changes
        self._history = {}    # date -> (rows, residue sum) of seeded dates never rerun

    def seed_history(self, m, days):
        order = np.argsort(np.array(m.symbols[:N_SYMBOLS]))
        base = [m.symbols[i] for i in order]
        self.dim = {s: i + 1 for i, s in enumerate(base)}
        hashes = [symbol_hash(s) for s in base]
        ids = np.arange(1, N_SYMBOLS + 1)
        for t in range(days):
            d = m.dates[t]
            h = fold([hashes, ids, np.full(N_SYMBOLS, date_sk(d))] +
                     [a[order, t] for a in (m.open, m.high, m.low, m.close, m.volume)])
            self._history[d] = (N_SYMBOLS, int(h.sum()))

    def apply(self, d, files, skipped):
        """One cascade over the rows of `files` for date `d` (a batch run
        when one file, a streaming micro-batch's date slice when several).
        Rows of later files win ties (their _src_file sorts higher)."""
        batch = [(rank, r) for rank, rows in enumerate(files) for r in rows if r[0] is not None]
        rejects = [r for _, r in batch if r[6] is not None and r[6] < 0]
        valid = [(rank, r) for rank, r in batch if r[6] is not None and r[6] >= 0]
        core = self.core.setdefault(d, {})
        best = {}
        for rank, r in valid:
            sym = r[1].strip(" ").upper()
            # latest ingest, then _src_file, then close/high/low/open/volume, all descending
            key = (rank, r[5], r[3], r[4], r[2], r[6])
            if sym not in best or key > best[sym][0]:
                best[sym] = (key, r[2:7])
        updates = sum(1 for s in best if s in core)
        stored = self.reject.setdefault(d, [])
        known = set(stored)
        stored += [r[1] for r in rejects if r[1] not in known]
        self.raw[d] = self.raw.get(d, 0) + len(batch)
        core.update({s: v for s, (_, v) in best.items()})
        self._digests.pop(d, None)
        nxt = max(self.dim.values(), default=0) + 1
        for s in sorted(set(best) - set(self.dim)):
            self.dim[s] = nxt
            nxt += 1
        return {"raw": len(batch), "reject": len(rejects), "skipped": skipped,
                "est_inserts": len(best) - updates, "est_updates": updates,
                "core": len(core), "fact": len(core)}

    def digest(self):
        for d, rows in self.core.items():
            if d not in self._digests:
                syms = list(rows)
                vals = np.array([rows[s] for s in syms], dtype=np.int64).reshape(-1, 5)
                h = fold([[symbol_hash(s) for s in syms], [self.dim[s] for s in syms],
                          np.full(len(syms), date_sk(d))] + [vals[:, j] for j in range(5)])
                self._digests[d] = (len(syms), int(h.sum()))
        parts = list(self._digests.values()) + list(self._history.values())
        return [sum(n for n, _ in parts), sum(t for _, t in parts)]

    def counts(self):
        return {d.isoformat(): {"raw": self.raw[d], "reject": len(self.reject[d]),
                                "core": len(self.core[d]), "fact": len(self.core[d])}
                for d in sorted(self.core)}


def _ts(d, hour):
    return f"{d.isoformat()} {hour:02d}:00:00"


def daily_batch(seed, root, n_days, history_parts):
    """60 days of history, then `n_days` new dates run one at a time."""
    m = Market(seed, weekdays(FIRST_DATE, HISTORY_DAYS + n_days))
    write_history(m, os.path.join(root, "history"), HISTORY_DAYS, history_parts)
    wh = Warehouse()
    wh.seed_history(m, HISTORY_DAYS)
    ops = []
    for k in range(n_days):
        t = HISTORY_DAYS + k
        d = m.dates[t]
        for n, (path, rows) in enumerate(daily_files(m, os.path.join(root, "bronze"), t, k)):
            skipped = sum(1 for r in rows if r[0] is None)
            result = wh.apply(d, [rows], skipped)
            ops.append({"path": path, "date": d.isoformat(), "ingest_ts": _ts(d, 21 + n), "correction": n > 0,
                        "bytes": os.path.getsize(path), "rows": len(rows),
                        "expect": result, "digest": wh.digest()})
    return {"history_globs": [os.path.join(root, "history", f"part{n}", "eod", "*", "*", "*", "*.csv")
                              for n in range(history_parts)],
            "history_ts": _ts(FIRST_DATE, 0), "ops": ops}


def stream_backfill(seed, root, n_days):
    """An `n_days` backlog landing in an empty bronze tree, drained by one
    stream into an empty warehouse."""
    m = Market(seed, weekdays(FIRST_DATE, n_days))
    wh = Warehouse()
    backlog, rows = [], 0
    for k in range(n_days):
        files = daily_files(m, os.path.join(root, "backlog"), k, k)
        wh.apply(m.dates[k], [rs for _, rs in files], 0)
        backlog += [p for p, _ in files]
        rows += sum(1 for _, rs in files for r in rs if r[0] is not None)
    return {"ingest_ts": _ts(m.dates[0], 21), "rows": rows,
            "first_date_dir": m.dates[0].strftime("%Y/%m/%d"),
            "bytes": sum(os.path.getsize(p) for p in backlog),
            "counts": wh.counts(), "digest": wh.digest()}
