"""Seeded input generators for the benchmark.

Two inputs, both a pure function of ``(seed, size)``:

- ``write_tables``: the star schema the registered queries read
  (``events``, ``documents`` and the TPC-H-like tables), one
  single-row-group parquet file per table, with the same columns, types,
  key domains and value distributions as the engine's reference test
  tables at the same scale factor. Row counts scale with ``sf`` exactly
  as they do there (``events`` = 1e6 x sf, ``lineitem`` = 6e6 x sf, ...).
- ``write_wire_backlog``: a backlog of JSON-line files in the HRFCO wire
  format for the flagship stream. One file is one poll of the HRFCO API
  (SURVEY.md section 6: one poll every 10 minutes, one record per
  station), so event time advances one 10-minute tick per file and every
  file carries one observation per station code 0..119 (codes 100..119
  have no station row). The dirt classes of ``sources/synthetic.py``
  (blank codes, missing or short times, blank/garbage/out-of-range levels
  and flows) are injected at fixed rates. Two shapes have no source in
  the repo and are assumptions: a 3% share of late records (10 minutes to
  2 hours behind; the reference has no late data) and 1 truncated JSON
  line in 53. The generator returns the counts the output check expects.

Same seed, same bytes: every random draw comes from one
``numpy.random.Generator`` seeded with the seed, file names are fixed,
and file modification times are pinned so the stream source always
orders the backlog the same way.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
_PTYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts, built from integer cents so every value
    is the shortest decimal repr of its double (portable formatting)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(_VOCAB[w] for w in words[at : at + k]))
        at += k
    return out


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory (see the module docstring)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(_REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(("O", "P", "F"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    value = np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": np.array(("click", "signup", "error", "view", "purchase"))[
                rng.integers(0, 5, n_ev)
            ],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    text = _text(rng, n_doc)
    # 5% near-duplicates: another document's text plus one marker token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        text[i] = text[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": text,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in text], dtype=np.int64),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(
            table, f"{out_dir}/{name}.parquet", row_group_size=max(1, table.num_rows)
        )
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# wire backlog for the flagship stream
# --------------------------------------------------------------------------

N_CODES = 120  # station rows exist for 0..99 only (sources/synthetic.py)
TICK = dt.timedelta(minutes=10)


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def write_wire_backlog(out_dir: str, seed: int, n_files: int) -> dict[str, int]:
    """Land ``n_files`` polls, one JSON-line file of 120 lines each.

    Returns ``lines``, ``corrupt`` (truncated JSON → DLQ) and ``f1_drops``
    (well-formed lines the F1 required-fields rule drops), so the output
    check knows what each sink must hold.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    t0 = dt.datetime(2024, 7, 1) + dt.timedelta(days=int(rng.integers(0, 60)))
    mtime0 = 1_700_000_000
    counts = {"lines": 0, "corrupt": 0, "f1_drops": 0}
    for f in range(n_files):
        n = N_CODES
        # one draw per dirt switch per line, vectorized per file
        u_code, u_time, u_wl, u_fw, u_late, u_cut = rng.random((6, n))
        wl_c = rng.integers(0, 1300, n)
        fw_c = rng.integers(0, 4_000_000, n)
        late = rng.integers(1, 13, n)
        lines = []
        for i in range(n):
            tick = f
            if u_late[i] < 0.03:  # late arrival: 10 min to 2 h behind
                tick = max(0, tick - int(late[i]))
            ts = t0 + tick * TICK
            code = str(i)
            if u_code[i] < 1 / 37:
                code = "" if u_code[i] < 0.5 / 37 else " "
            if u_time[i] < 0.5 / 41:
                ymdhm = None
            elif u_time[i] < 1 / 41:
                ymdhm = ts.strftime("%Y%m%d")  # short: passes through T5
            else:
                ymdhm = ts.strftime("%Y%m%d%H%M")
            k = int(u_wl[i] * 43)
            wl = ("", "abc", None, "55.0", "-15.0", " ")[k] if k < 6 else _cents(int(wl_c[i]))
            k = int(u_fw[i] * 47)
            fw = (None, "", "60000.0")[k] if k < 3 else _cents(int(fw_c[i]))
            js = json.dumps(
                {"wlobscd": code, "ymdhm": ymdhm, "wl": wl, "fw": fw, "junk": 1},
                separators=(",", ":"),
            )
            if u_cut[i] < 1 / 53:
                js = js[:15]
                counts["corrupt"] += 1
            elif not (
                code.strip()
                and ymdhm
                and ((wl is not None and wl.strip()) or (fw is not None and fw.strip()))
            ):
                counts["f1_drops"] += 1
            lines.append(js)
        path = f"{out_dir}/obs-{f:05d}.json"
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (mtime0 + f, mtime0 + f))
        counts["lines"] += n
    return counts
