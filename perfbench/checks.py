"""Output checks of the EOD cascade benchmark.

Every check compares what the program produced with what the generator
derived from the reference semantics, or with a DuckDB computation over
the same parquet, and returns a list of human-readable failures (empty
when the output is correct).  None of them runs inside a timed region.
"""
import math

import duckdb

import gen

RESULT_FIELDS = ("raw", "reject", "skipped", "est_inserts", "est_updates", "core", "fact")


def _table(wh, name):
    return f"read_parquet('{wh}/{name}/*/*.parquet', hive_partitioning = true)"


def check_runs(observed, expected, what="run"):
    """Every RunResult equals the generator's expectation."""
    errors = []
    for i, (o, e) in enumerate(zip(observed, expected)):
        diff = {k: (o.get(k), e[k]) for k in RESULT_FIELDS if o.get(k) != e[k]}
        if diff:
            errors.append(f"{what} {i}: (observed, expected) differ on {diff}")
    return errors


def warehouse_digest(wh):
    """(rows, residue sum) of FACT JOIN DIM_SECURITY, folded as gen.fold does."""
    fields = ["CAST(('0x' || substr(md5(d.symbol), 1, 7)) AS BIGINT)", "f.security_id", "f.date_sk",
              "CAST(f.open * 100 AS BIGINT)", "CAST(f.high * 100 AS BIGINT)",
              "CAST(f.low * 100 AS BIGINT)", "CAST(f.close * 100 AS BIGINT)", "CAST(f.volume AS BIGINT)"]
    h = "CAST(0 AS BIGINT)"
    for f in fields:
        h = f"(({h}) * {gen.DIGEST_K} + ({f}) % {gen.DIGEST_P}) % {gen.DIGEST_P}"
    rows, total = duckdb.sql(
        f"SELECT count(*), CAST(coalesce(sum({h}), 0) AS BIGINT) "
        f"FROM {_table(wh, 'fact_daily_price')} f "
        f"JOIN read_parquet('{wh}/dim_security/*.parquet') d USING (security_id)").fetchone()
    return [int(rows), int(total)]


def check_digest(wh, expected):
    got = warehouse_digest(wh)
    return [] if got == list(expected) else [f"FACT JOIN DIM digest {got} != expected {list(expected)}"]


def check_counts(wh, expected):
    """Per-date RAW, REJECT, CORE and FACT row counts."""
    got = {}
    for key, table in (("raw", "raw_eod_prices"), ("reject", "core_eod_prices_reject"),
                       ("core", "core_eod_prices"), ("fact", "fact_daily_price")):
        for d, n in duckdb.sql(f"SELECT CAST(trade_date AS VARCHAR), count(*) FROM {_table(wh, table)} "
                               "GROUP BY 1").fetchall():
            got.setdefault(d, {})[key] = n
    return [] if got == expected else [f"per-date counts {got} != expected {expected}"]


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a == b or (a is not None and b is not None and math.isnan(a) and math.isnan(b))
    return a == b


def check_dashboard(observed, oracle, wh):
    """Each measure's rows equal its DuckDB twin's, as sets of exact values."""
    errors = []
    for name, sql in oracle.items():
        sql = sql.replace("__FACT__", f"{wh}/fact_daily_price").replace("__DIM__", f"{wh}/dim_security")
        want = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
        got = sorted(tuple(r) for r in observed.get(name, []))
        bad = [(g, w) for g, w in zip(got, want) if len(g) != len(w) or not all(map(_same, g, w))]
        if len(got) != len(want) or bad:
            errors.append(f"dashboard {name}: {len(got)} rows vs oracle {len(want)}; "
                          f"first difference {bad[:1]}")
    return errors
