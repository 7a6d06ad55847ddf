"""Tests of the benchmark itself: `python3 -m pytest perfbench`.

They need no JVM: the generator is pure Python, and the output checks run
against small warehouses written here with pyarrow in the cascade's
on-disk layout.
"""
import datetime as dt
import filecmp
import glob
import json
import os
import re
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
import run

D1, D2 = dt.date(2026, 3, 2), dt.date(2026, 3, 3)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(root):
    return sorted(os.path.relpath(p, root) for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def _same_tree(a, b):
    return _files(a) == _files(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in _files(a))


def _without_root(g, root):
    return json.loads(json.dumps(g).replace(str(root), "ROOT"))


def test_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ga = gen.daily_batch(7, str(a), n_days=3, history_parts=3)
    gb = gen.daily_batch(7, str(b), n_days=3, history_parts=3)
    gen.daily_batch(8, str(c), n_days=3, history_parts=3)
    assert _same_tree(a, b)
    assert _without_root(ga, a) == _without_root(gb, b)
    assert not _same_tree(a, c)
    sa = gen.stream_backfill(7, str(tmp_path / "sa"), n_days=3)
    sb = gen.stream_backfill(7, str(tmp_path / "sb"), n_days=3)
    assert _same_tree(tmp_path / "sa", tmp_path / "sb")
    assert _without_root(sa, tmp_path / "sa") == _without_root(sb, tmp_path / "sb")


def test_no_ticker_is_the_null_token():
    # seed 302 drew the code for NULL, which the CSV reader turns into a null key
    assert "NULL" not in gen.Market(302, gen.weekdays(gen.FIRST_DATE, 1)).symbols
    assert len(gen.Market(302, gen.weekdays(gen.FIRST_DATE, 1)).symbols) == gen.N_SYMBOLS + 400


def test_expected_run_results_follow_the_reference_semantics(tmp_path):
    g = gen.daily_batch(3, str(tmp_path), n_days=3, history_parts=3)
    first, correction = g["ops"][0]["expect"], g["ops"][1]["expect"]
    # one unparseable key skipped; 10 negative rows rejected; one null
    # volume lands nowhere; duplicates and case/space variants collapse
    assert first["skipped"] == 1 and first["reject"] == 10
    assert first["raw"] == gen.N_SYMBOLS + gen.NEW_LISTINGS_PER_DAY + gen.DUP_KEYS + gen.CASE_VARIANTS + 10
    assert first["est_inserts"] == first["core"] == gen.N_SYMBOLS + gen.NEW_LISTINGS_PER_DAY - 1
    assert first["est_updates"] == 0
    # the correction updates 150 rows and inserts the null-volume symbol
    # and two late listings
    assert correction["est_updates"] == gen.CORRECTION_ROWS
    assert correction["est_inserts"] == 1 + gen.CORRECTION_NEW_SYMBOLS
    assert correction["core"] == first["core"] + 1 + gen.CORRECTION_NEW_SYMBOLS


def _prices(cents):
    return pa.array([Decimal(c) / 100 for c in cents], pa.decimal128(18, 6))


def _warehouse(root, core, dim):
    """fact_daily_price, core_eod_prices, raw and reject partitions plus
    dim_security, as the cascade lays them out."""
    for table in ("fact_daily_price", "core_eod_prices", "raw_eod_prices", "core_eod_prices_reject"):
        for d, rows in core.items():
            syms = sorted(rows)
            part = root / table / f"trade_date={d.isoformat()}"
            part.mkdir(parents=True)
            cols = {"security_id": pa.array([dim[s] for s in syms], pa.int64()),
                    "symbol": pa.array(syms),
                    "date_sk": pa.array([gen.date_sk(d)] * len(syms), pa.int32())}
            for j, c in enumerate(("open", "high", "low", "close")):
                cols[c] = _prices([rows[s][j] for s in syms])
            cols["volume"] = pa.array([Decimal(rows[s][4]) for s in syms], pa.decimal128(38, 0))
            pq.write_table(pa.table(cols), part / "part-00000.parquet")
    (root / "dim_security").mkdir()
    pq.write_table(pa.table({"security_id": pa.array(list(dim.values()), pa.int64()),
                             "symbol": pa.array(list(dim))}), root / "dim_security" / "part-00000.parquet")


def _state():
    wh = gen.Warehouse()
    wh.core = {D1: {"ABCD": (1000, 1100, 900, 1050, 5000), "WXYZ": (2000, 2100, 1900, 2050, 700)},
               D2: {"ABCD": (1060, 1150, 1000, 1100, 6000)}}
    wh.dim = {"ABCD": 1, "WXYZ": 2}
    return wh


def test_digest_check_fails_on_one_tampered_row(tmp_path):
    wh = _state()
    _warehouse(tmp_path / "ok", wh.core, wh.dim)
    assert checks.check_digest(str(tmp_path / "ok"), wh.digest()) == []
    tampered = _state()
    tampered.core[D2]["ABCD"] = (1060, 1150, 1000, 1101, 6000)
    _warehouse(tmp_path / "bad", tampered.core, tampered.dim)
    assert checks.check_digest(str(tmp_path / "bad"), wh.digest())


def test_counts_check_fails_on_one_missing_row(tmp_path):
    wh = _state()
    expected = {d.isoformat(): {k: len(r) for k in ("raw", "reject", "core", "fact")} for d, r in wh.core.items()}
    _warehouse(tmp_path / "ok", wh.core, wh.dim)
    assert checks.check_counts(str(tmp_path / "ok"), expected) == []
    tampered = _state()
    del tampered.core[D1]["WXYZ"]
    _warehouse(tmp_path / "bad", tampered.core, tampered.dim)
    assert checks.check_counts(str(tmp_path / "bad"), expected)


def test_run_result_check_fails_on_one_tampered_field():
    want = [{k: 5 for k in checks.RESULT_FIELDS}, {k: 7 for k in checks.RESULT_FIELDS}]
    got = [dict(w) for w in want]
    assert checks.check_runs(got, want) == []
    got[1]["est_updates"] = 6
    assert checks.check_runs(got, want)


def test_dashboard_check_fails_on_one_tampered_row(tmp_path):
    wh = _state()
    _warehouse(tmp_path, wh.core, wh.dim)
    oracle = {"closes": "SELECT security_id, CAST(close AS DOUBLE) / 3 AS c "
                        "FROM read_parquet('__FACT__/*/*.parquet', hive_partitioning = true)"}
    rows = [[1, 10.5 / 3], [2, 20.5 / 3], [1, 11.0 / 3]]
    assert checks.check_dashboard({"closes": rows}, oracle, str(tmp_path)) == []
    rows[2][1] = 11.01 / 3
    assert checks.check_dashboard({"closes": rows}, oracle, str(tmp_path))


def _result(layers=None):
    op = {"seconds": 6.5, "jobs": 54, "rows": 12046, "bytes": 600_000, "traced": False}
    return {"ops": [dict(op, warmup=True), op, dict(op, seconds=6.7), dict(op, traced=True, seconds=6.9)],
            "session_s": 4.0, "data_setup_s": [15.0, 5.0, 6.0], "data_setup_scale": 3, "warmup_s": 10.0,
            "bytes_before": 1_000_000, "bytes_after": 3_400_000, "input_bytes": 1_200_000,
            "layers": layers or {}}


def test_metric_names_are_well_formed_and_declared():
    spec = run.spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert all(NAME.fullmatch(n) for n in e2e + layer)
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert sorted(run.e2e_metrics(_result(), 1.0, traced=False)) == sorted(e2e)
    assert sorted(run.layer_metrics(_result(), 1.0, layer)) == sorted(layer)
    # every layer metric the JVM side can emit is declared
    sources = "".join(open(p).read() for p in glob.glob(os.path.join(run.HERE, "scala", "*.scala")))
    emitted = set(re.findall(r'"((?:EodPipeline|ingest|quality|metrics|core|dim|fact|streaming|sa)'
                             r'\.[a-z0-9_]+)" ->', sources))
    assert emitted and emitted <= set(layer)
    with pytest.raises(ValueError):
        run.layer_metrics(_result({"sa.undeclared_s": 1.0}), 1.0, layer)


def test_setup_time_is_the_median_part_times_the_parts():
    m = run.e2e_metrics(_result(), 1.0, traced=False)
    assert m["setup_s"] == pytest.approx(4.0 + 1.0 + 3 * 6.0 + 10.0)
    assert m["op_s"] == pytest.approx(6.6)
    assert m["bytes_stored_per_input_byte"] == pytest.approx(2.0)
