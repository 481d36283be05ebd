"""Seeded synthetic firn stations in TOA5 form, with their ground truth.

A station is what a field team brings home: Level-0 logger bales in the
FIXTURES.md section 1 shape (49 data columns at a 15-min cadence), a site
TOML, and an EC calibration CSV.  The generator plants every fault the
pipeline must handle and keeps the clean truth beside it, so the checks
never read Spark output to decide what is right:

* bales overlap their predecessor (exact duplicate rows) and carry one
  conflicting row per bale (an earlier timestamp, different values) whose
  keep-first winner is the earlier file's row;
* the last bale is followed by a ``serviced/`` file, overlapping as well;
* ``NAN`` sentinels in random cells, and one all-NAN column (``TDR3_VR``);
* out-of-range cells in every column family with a validity spec;
* quality flags out of range or missing, UDG spikes of +3 m;
* one unlogged UDG height change, whose delta the pipeline must derive
  from pre/post medians (the ``udg_height_change`` entry has no height).

Every value is a whole number of thousandths, written with three decimals,
so the doubles Spark parses equal ``k / 1000.0`` here bit for bit.

Run as a script to write one station and print its truth summary:

    python3 sitebench/stations.py --seed 7 --days 92 --out /tmp/st
"""

from __future__ import annotations

import argparse
import json
import os
import re
import struct
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

FREQ = pd.Timedelta(minutes=15)
T0 = pd.Timestamp("2023-04-01 00:00:00")
DEAD = "TDR3_VR"
REMOVE = ("RECORD", "PTemp_C_Min", "DT")
TDR_VARS = ("VWC", "EC", "T", "Perm", "Period", "VR")
COLUMNS = (
    ["TIMESTAMP", "RECORD", "BattV_Min", "PTemp_C_Min", "T107_C", "TCDT", "Q", "DT"]
    + [f"TDR{i}_{v}" for i in (1, 2, 3) for v in TDR_VARS]
    + [f"DTC1({j})" for j in range(1, 13)]
    + [f"EC({j})" for j in range(1, 13)]
)
# FIXTURES.md section 6 validity spec, as (column regex, lo, hi)
VALID = (
    (r"T107_C", -50.0, 10.0),
    (r"TDR[0-9]+_EC", 0.0, 8.0),
    (r"TDR[0-9]+_T", -50.0, 10.0),
    (r"TDR[0-9]+_VWC", 0.0, 1.0),
    (r"TDR[0-9]+_Perm", 1.0, 81.0),
    (r"EC\([0-9]+\)", 0.5, 1.0),
)
# the reference's level-2 rename table (FIXTURES.md section 7)
RENAME = (
    (r"DTC1\(([0-9]+)\)", r"DTC1_\1(C)"),
    (r"TCDT", "TCDT(m)"),
    (r"TDR([0-9]+)_VWC", r"TDR\1_VWC(m3/m3)"),
    (r"TDR([0-9]+)_EC", r"TDR\1_EC(dS/m)"),
    (r"TDR([0-9]+)_T", r"TDR\1_T(C)"),
    (r"TDR([0-9]+)_Period", r"TDR\1_Period(uS)"),
)
SCALE = 0.001


def l2_name(col: str) -> str:
    for pat, repl in RENAME:
        if re.fullmatch(pat, col):
            return re.sub(pat, repl, col)
    return col


def _round2_half_up(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _milli(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(round(lo * 1000)), int(round(hi * 1000)) + 1, n)


def make_station(seed: int, days: int, n_bales: int) -> dict:
    """Clean series, planted faults and file layout for one station."""
    rng = np.random.default_rng([abs(seed), days, n_bales])
    n = days * 96
    t = pd.date_range(T0, periods=n, freq=FREQ)
    day = np.arange(n) / 96.0
    milli: dict[str, np.ndarray] = {}
    milli["BattV_Min"] = (13000 + 600 * np.sin(2 * np.pi * day)).astype(np.int64) + _milli(rng, -0.2, 0.2, n)
    milli["PTemp_C_Min"] = _milli(rng, -20, 0, n)
    milli["T107_C"] = (-12000 + 8000 * np.sin(2 * np.pi * day)).astype(np.int64) + _milli(rng, -1, 1, n)
    milli["DT"] = _milli(rng, 0.4, 0.6, n)
    for i in (1, 2, 3):
        milli[f"TDR{i}_VWC"] = _milli(rng, 0.0, 0.3, n)
        milli[f"TDR{i}_EC"] = _milli(rng, 0.0, 2.0, n)
        milli[f"TDR{i}_T"] = _milli(rng, -10, 0, n)
        milli[f"TDR{i}_Perm"] = _milli(rng, 3, 10, n)
        milli[f"TDR{i}_Period"] = _milli(rng, 1.0, 1.1, n)
        milli[f"TDR{i}_VR"] = _milli(rng, 0.99, 1.01, n)
    for j in range(1, 13):
        milli[f"DTC1({j})"] = _milli(rng, -15, 0, n)
        milli[f"EC({j})"] = _milli(rng, 0.55, 0.98, n)

    # UDG: install height h0, slow accumulation, small noise, one step
    h0 = int(rng.integers(1950, 2150))
    trend = (-2.0 * day).astype(np.int64)  # -2 mm/day
    tcdt = h0 + trend + rng.integers(-3, 4, n)
    ev_i = int(n * rng.uniform(0.4, 0.6)) // 4 * 4  # on the hour
    step = int(rng.choice([-1, 1]) * rng.integers(150, 351))
    tcdt[ev_i:] += step
    # UDG spikes of +3 m, away from the start and the height change windows
    ok = np.ones(n, bool)
    ok[: 2 * 96] = False
    ok[max(0, ev_i - 2 * 96): ev_i + 2 * 96] = False
    spikes = np.sort(rng.choice(np.flatnonzero(ok), max(2, n // 4000), replace=False))
    tcdt[spikes] += 3000
    milli["TCDT"] = tcdt
    q = rng.integers(160, 201, n).astype(float)

    data = {c: v / 1000.0 for c, v in milli.items()}
    # out-of-range cells: a handful per ranged column
    out_of_range = []
    for col in data:
        for pat, lo, hi in VALID:
            if re.fullmatch(pat, col):
                k = max(2, n // 3000)
                rows = rng.choice(n, k, replace=False)
                bad = np.where(rng.random(k) < 0.5, lo - 1.5 * (hi - lo) - 1, hi + 0.5 * (hi - lo) + 1)
                data[col][rows] = np.round(bad, 3)
                out_of_range += [(col, int(r)) for r in rows]
    # quality flags: out of range, or missing (treated as 150 and kept)
    bad_q = rng.choice(n, max(2, n // 2500), replace=False)
    q[bad_q] = 250.0
    nan_q = rng.choice(np.setdiff1d(np.arange(n), bad_q), max(2, n // 2500), replace=False)
    q[nan_q] = np.nan
    data["Q"] = q
    # NAN sentinels: random cells of every measured column, then the dead one
    for col in data:
        if col == "Q":
            continue
        cells = rng.random(n) < 0.002
        data[col][cells] = np.nan
    data[DEAD] = np.full(n, np.nan)

    frame = pd.DataFrame({"TIMESTAMP": t, "RECORD": np.arange(n, dtype=np.int64)})
    for col in COLUMNS[2:]:
        frame[col] = data[col]
    frame["Q"] = frame["Q"].astype("Int64")

    # file layout: bales over [0, n_main), serviced file over the tail
    n_main = n - 3 * 96
    cuts = np.linspace(0, n_main, n_bales + 1).astype(int)
    files, conflicts = [], []
    for b in range(n_bales):
        lo = cuts[b] if b == 0 else cuts[b] - int(rng.integers(4, 25))
        part = frame.iloc[lo: cuts[b + 1]].copy()
        if b > 0:
            # a conflicting row: an earlier file's timestamp, other values
            ci = int(rng.integers(cuts[b - 1], cuts[b] - 30))
            row = frame.iloc[[ci]].copy()
            row["RECORD"] = 10_000_000 + ci
            row["BattV_Min"] = 99.0
            row["T107_C"] = -49.0
            part = pd.concat([part, row])
            conflicts.append(ci)
        files.append((f"MainTable{b + 1}.dat", part))
    serviced = frame.iloc[n_main - int(rng.integers(4, 25)):]
    files.append((os.path.join("serviced", "MainTable99.dat"), serviced))

    event = t[ev_i].to_pydatetime()
    return {
        "frame": frame,
        "files": files,
        "h0": h0 / 1000.0,
        "event": event,
        "step": step / 1000.0,
        "spikes": [int(i) for i in spikes],
        "bad_q": [int(i) for i in bad_q],
        "out_of_range": out_of_range,
        "conflicts": conflicts,
        "calibration": _calibration(rng),
    }


def _calibration(rng) -> dict[str, tuple[float, float]]:
    """Per-sensor (m, c); two sensors are missing and fall back to the mean."""
    missing = set(rng.choice(np.arange(1, 13), 2, replace=False).tolist())
    return {
        f"EC({j})": (int(rng.integers(385000, 869001)) / 1000.0, int(rng.integers(-5000, 5001)) / 1000.0)
        for j in range(1, 13)
        if j not in missing
    }


def _write_toa5(path: str, part: pd.DataFrame, station: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    names = list(part.columns)
    units = ["TS", "RN"] + ["unit"] * (len(names) - 2)
    aggs = ["", ""] + ["Smp"] * (len(names) - 2)
    q = lambda xs: ",".join(f'"{x}"' for x in xs)  # noqa: E731
    with open(path, "w", newline="") as f:
        f.write(f'"TOA5","{station}","CR1000X","1234","CR1000X.Std.05","CPU:fs.CR1X","5678","MainTable"\n')
        f.write(q(names) + "\n" + q(units) + "\n" + q(aggs) + "\n")
        body = part.copy()
        body["TIMESTAMP"] = '"' + body["TIMESTAMP"].dt.strftime("%Y-%m-%d %H:%M:%S") + '"'
        body.to_csv(f, header=False, index=False, float_format="%.3f", na_rep="NAN", lineterminator="\n", quoting=3)


def write_station(st: dict, root: str, name: str) -> str:
    """Write bales, site TOML and calibration CSV under ``root``; returns
    the TOML path.  The data root is ``root`` itself."""
    ds = os.path.join(root, "fielddata")
    for rel, part in st["files"]:
        _write_toa5(os.path.join(ds, rel), part, name)
    n_bales = len(st["files"]) - 1
    with open(os.path.join(root, "calibration.csv"), "w") as f:
        f.write(",m,c,r2\n")
        for sensor, (m, c) in st["calibration"].items():
            f.write(f"{sensor},{m:.3f},{c:.3f},0.99\n")
    toml = os.path.join(root, "site.toml")
    with open(toml, "w") as f:
        f.write(
            f'site="{name}"\ntz="UTC"\nlat=67.0\nlon=-47.0\n'
            "[level0_1]\nindex_col='TIMESTAMP'\nudg_key='TCDT'\n"
            "[level1_2]\n"
            f"udg_height_change=[[{T0:%Y-%m-%d}, {st['h0']:.3f}], [{st['event']:%Y-%m-%dT%H:%M:%S}]]\n"
            f"remove_columns={json.dumps(list(REMOVE))}\n"
            "[level0]\n[level0.fielddata]\nsubpath=''\ntype='bales'\n"
            f"bales_start=1\nbales_stop={n_bales}\n"
        )
    return toml


# --------------------------------------------------------------------------- #
# Expected products, computed from the clean series with pandas / numpy
# --------------------------------------------------------------------------- #


def expected_l1(st: dict) -> pd.DataFrame:
    """Keep-first winner of every planted timestamp, all-NAN column pruned."""
    return st["frame"].drop(columns=[DEAD]).reset_index(drop=True)


def auto_delta(st: dict) -> float:
    """The height-change median rule on the generator's series: medians of
    (date-1d .. date-4h) and (date .. date+1d), each rounded to 2 dp
    half-up, of the series already offset by the install height."""
    f = st["frame"]
    u = f["TCDT"] - st["h0"]
    ev = pd.Timestamp(st["event"])
    pre = u[(f["TIMESTAMP"] >= ev - pd.Timedelta(days=1)) & (f["TIMESTAMP"] <= ev - pd.Timedelta(hours=4))]
    post = u[(f["TIMESTAMP"] >= ev) & (f["TIMESTAMP"] <= ev + pd.Timedelta(days=1))]
    return round(_round2_half_up(float(post.median())) - _round2_half_up(float(pre.median())), 2)


def expected_l2(st: dict) -> pd.DataFrame:
    f = expected_l1(st)
    out = pd.DataFrame({"TIMESTAMP": f["TIMESTAMP"]})
    cal = st["calibration"]
    mean_m = sum(m for m, _ in cal.values()) / len(cal)
    mean_c = sum(c for _, c in cal.values()) / len(cal)
    for col in f.columns:
        if col in ("TIMESTAMP",) + REMOVE:
            continue
        v = f[col].astype("float64") if col != "Q" else f[col]
        for pat, lo, hi in VALID:
            if re.fullmatch(pat, col):
                v = v.where((v >= lo) & (v <= hi))
        if re.fullmatch(r"EC\([0-9]+\)", col):
            m, c = cal.get(col, (mean_m, mean_c))
            v = m * (1.0 - v) + c
        out[l2_name(col)] = v
    # UDG: normalised by install height and derived step, then despiked
    ev = pd.Timestamp(st["event"])
    u = (f["TCDT"] - st["h0"]).where(f["TIMESTAMP"] < ev, f["TCDT"] - st["h0"] - auto_delta(st))
    gone = np.zeros(len(f), bool)
    gone[st["spikes"]] = True
    gone[st["bad_q"]] = True
    out["TCDT(m)"] = u.where(~gone)
    return out


def check_products(st: dict, l1_dir: str, l2_dir: str, nc_path: str) -> list[str]:
    """Compare the written L1 CSV, L2 CSV and NetCDF with the expectations."""
    problems: list[str] = []
    l1 = _read_csv_dir(l1_dir)
    e1 = expected_l1(st)
    if len(l1) != len(e1) or l1["TIMESTAMP"].nunique() != len(e1):
        problems.append(f"L1 rows {len(l1)} (distinct ts {l1['TIMESTAMP'].nunique()}), expected {len(e1)}")
        return problems
    if set(l1.columns) != set(e1.columns):
        problems.append(f"L1 columns differ: {sorted(set(l1.columns) ^ set(e1.columns))}")
        return problems
    problems += _compare("L1", l1, e1, tol=0.0)
    ci = st["conflicts"]
    if not np.array_equal(l1["BattV_Min"].to_numpy()[ci], e1["BattV_Min"].to_numpy()[ci], equal_nan=True):
        problems.append("L1 keep-first winners wrong on conflicting rows")

    l2 = _read_csv_dir(l2_dir)
    e2 = expected_l2(st)
    if set(l2.columns) != set(e2.columns):
        problems.append(f"L2 columns differ: {sorted(set(l2.columns) ^ set(e2.columns))}")
        return problems
    if len(l2) != len(e2):
        problems.append(f"L2 rows {len(l2)}, expected {len(e2)}")
        return problems
    problems += _compare("L2", l2, e2, tol=1e-9)
    for col, r in st["out_of_range"]:
        if not pd.isna(l2.at[r, l2_name(col)]):
            problems.append(f"L2 {l2_name(col)} row {r}: out-of-range cell not null")
            break

    dims, variables = read_nc3(nc_path)
    if dims.get("time") != len(l2):
        problems.append(f"NetCDF records {dims.get('time')}, L2 rows {len(l2)}")
        return problems
    for col in l2.columns:
        if col == "TIMESTAMP":
            continue
        if col not in variables:
            problems.append(f"NetCDF lacks variable {col}")
            continue
        raw, attrs = variables[col]
        want = l2[col].to_numpy(dtype="float64")
        if "scale_factor" in attrs:
            null = np.isnan(want)
            if not np.all(raw[null] == attrs["_FillValue"]):
                problems.append(f"NetCDF {col}: _FillValue missing where L2 is null")
            elif np.abs(raw[~null] * attrs["scale_factor"] - want[~null]).max(initial=0) > 0.5 * SCALE + 1e-9:
                problems.append(f"NetCDF {col}: unpacked values differ from L2 beyond the 0.001 scale")
        elif not np.array_equal(raw.astype("float64"), want, equal_nan=True):
            problems.append(f"NetCDF {col}: values differ from L2")
    t_nc = variables["time"][0]
    t_l2 = (l2["TIMESTAMP"] - pd.Timestamp("1970-01-01")).dt.total_seconds().to_numpy()
    if not np.array_equal(t_nc, t_l2):
        problems.append("NetCDF time axis differs from L2 timestamps")
    return problems


def _read_csv_dir(path: str) -> pd.DataFrame:
    parts = sorted(p for p in os.listdir(path) if p.startswith("part-") and p.endswith(".csv"))
    df = pd.concat([pd.read_csv(os.path.join(path, p)) for p in parts], ignore_index=True)
    df["TIMESTAMP"] = pd.to_datetime(df["TIMESTAMP"], format="%Y-%m-%d %H:%M:%S")
    return df.sort_values("TIMESTAMP", kind="mergesort").reset_index(drop=True)


def _compare(label: str, got: pd.DataFrame, want: pd.DataFrame, tol: float) -> list[str]:
    if not got["TIMESTAMP"].equals(want["TIMESTAMP"].reset_index(drop=True)):
        return [f"{label}: timestamps differ"]
    out = []
    for col in want.columns:
        if col == "TIMESTAMP":
            continue
        a = got[col].to_numpy(dtype="float64", na_value=np.nan)
        b = want[col].to_numpy(dtype="float64", na_value=np.nan)
        same_null = np.isnan(a) == np.isnan(b)
        close = np.abs(np.nan_to_num(a) - np.nan_to_num(b)) <= tol * np.maximum(1.0, np.abs(np.nan_to_num(b)))
        if not (same_null.all() and close.all()):
            bad = int((~(same_null & close)).sum())
            out.append(f"{label} {col}: {bad} cells differ")
    return out


# --------------------------------------------------------------------------- #
# Independent NetCDF classic-format reader (CDF-1 / CDF-2)
# --------------------------------------------------------------------------- #

_NC_TYPES = {1: ("b", 1), 2: ("c", 1), 3: ("h", 2), 4: ("i", 4), 5: ("f", 4), 6: ("d", 8)}


def read_nc3(path: str) -> tuple[dict[str, int | None], dict[str, tuple[np.ndarray, dict]]]:
    """Dimensions and ``{name: (values, attrs)}`` of a classic NetCDF file."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError(f"{path}: not a classic NetCDF file")
    off_fmt = ">i" if buf[3] == 1 else ">q"
    pos = 4
    numrecs, = struct.unpack_from(">i", buf, pos)
    pos += 4

    def u32():
        nonlocal pos
        v, = struct.unpack_from(">i", buf, pos)
        pos += 4
        return v

    def name():
        nonlocal pos
        k = u32()
        s = buf[pos: pos + k].decode()
        pos += k + (-k % 4)
        return s

    def attrs():
        nonlocal pos
        tag, count = u32(), u32()
        out = {}
        for _ in range(count if tag else 0):
            key, typ, cnt = name(), u32(), u32()
            code, size = _NC_TYPES[typ]
            raw = buf[pos: pos + cnt * size]
            pos += cnt * size + (-(cnt * size) % 4)
            if code == "c":
                out[key] = raw.decode(errors="replace")
            else:
                vals = struct.unpack(f">{cnt}{code}", raw)
                out[key] = vals[0] if cnt == 1 else vals
        return out

    tag, count = u32(), u32()
    dims = []
    for _ in range(count if tag else 0):
        dname, size = name(), u32()
        dims.append((dname, size))
    attrs()
    tag, count = u32(), u32()
    specs = []
    for _ in range(count if tag else 0):
        vname = name()
        dimids = [u32() for _ in range(u32())]
        vattrs = attrs()
        typ, vsize = u32(), u32()
        begin, = struct.unpack_from(off_fmt, buf, pos)
        pos += struct.calcsize(off_fmt)
        specs.append((vname, dimids, vattrs, typ, vsize, begin))
    rec_vars = [s for s in specs if s[1] and dims[s[1][0]][1] == 0]
    recsize = sum(s[4] for s in rec_vars) if len(rec_vars) > 1 else (rec_vars[0][4] if rec_vars else 0)
    out = {}
    for vname, dimids, vattrs, typ, vsize, begin in specs:
        code, size = _NC_TYPES[typ]
        dt_ = np.dtype(">" + {"b": "i1", "c": "S1", "h": "i2", "i": "i4", "f": "f4", "d": "f8"}[code])
        if dimids and dims[dimids[0]][1] == 0:
            per = int(np.prod([dims[d][1] for d in dimids[1:]])) if len(dimids) > 1 else 1
            vals = np.concatenate([
                np.frombuffer(buf, dt_, per, begin + r * recsize) for r in range(numrecs)
            ]) if numrecs else np.empty(0, dt_)
        else:
            vals = np.frombuffer(buf, dt_, int(np.prod([dims[d][1] for d in dimids])) if dimids else 1, begin)
        out[vname] = (vals.astype(dt_.newbyteorder("=")), vattrs)
    return {d: (numrecs if s == 0 else s) for d, s in dims}, out


def truth(st: dict) -> dict:
    """What the generator planted, in JSON form."""
    seen: dict[str, int] = {}
    for _, part in st["files"]:
        for ts in part["TIMESTAMP"].dt.strftime("%Y-%m-%d %H:%M:%S"):
            seen[ts] = seen.get(ts, 0) + 1
    frame = st["frame"]
    return {
        "rows": len(frame),
        "height_change": st["event"].isoformat(),
        "planted_step": st["step"],
        "auto_delta": auto_delta(st),
        "install_height": st["h0"],
        "duplicate_timestamps": sorted(ts for ts, k in seen.items() if k > 1),
        "keep_first_battv": {
            f"{frame.at[i, 'TIMESTAMP']:%Y-%m-%d %H:%M:%S}": float(frame.at[i, "BattV_Min"])
            for i in st["conflicts"]
        },
        "out_of_range_cells": [[c, f"{frame.at[r, 'TIMESTAMP']:%Y-%m-%d %H:%M:%S}"] for c, r in st["out_of_range"]],
        "spikes": [f"{frame.at[r, 'TIMESTAMP']:%Y-%m-%d %H:%M:%S}" for r in st["spikes"]],
        "bad_quality": [f"{frame.at[r, 'TIMESTAMP']:%Y-%m-%d %H:%M:%S}" for r in st["bad_q"]],
        "calibration": st["calibration"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--days", type=int, default=92)
    ap.add_argument("--bales", type=int, default=3)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    st = make_station(a.seed, a.days, a.bales)
    write_station(st, a.out, f"FS{a.seed}")
    t = truth(st)
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump(t, f, indent=1)
    print(json.dumps({k: (len(v) if isinstance(v, (list, dict)) else v) for k, v in t.items()}))


if __name__ == "__main__":
    main()
