"""Spark-free, seeded input generator for the benchmark.

Two products, both pure functions of ``(seed, sf)``:

- ``make_tables`` builds the ten fixture tables (``events``,
  ``documents``, ``embeddings`` and the TPC-H-style star schema), with the
  schemas ``sources.tables.FIXTURE_SCHEMAS`` declares and value domains
  shaped like the repository's fixture data.
- ``poll_windows`` cuts the generated ``events`` into CTS poll windows and
  renders each as ``ListTracesResponse`` JSON pages (page size 50, marker
  chain), the bodies the reference's poller receives.

Only numpy and pyarrow are used, so generating inputs never starts a JVM
and never shows in the engine's timings. ``ensure_inputs`` caches both
products on disk under a directory keyed by seed and scale.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGE_SIZE = 50
TRACES_PER_WINDOW = 1000
#: Share of each poll window that re-delivers the previous window's tail
#: (the reference widens each window by the previous cycle's lag).
REDELIVER_SHARE = 0.01

_EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
_LANGS = np.array(["en", "en", "en", "fr", "es", "zh", "de"])
_COLORS = "blue cold hot large red small green steel".split()
_NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
_P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (events = 1e6 * sf rows)."""
    rng = np.random.default_rng(seed)
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500
    n_orders = max(1500, int(1_500_000 * sf))
    n_lines = 4 * n_orders
    n_parts = max(200, int(200_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))

    t = {}
    ts = np.sort(rng.integers(_EPOCH_2024, _EPOCH_2024 + 30 * _DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype="int64")),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )

    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    # 5% planted near-duplicates: a copy of an earlier document with one
    # word substituted and a marker word appended
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(_WORDS[rng.integers(0, len(_WORDS))])
        texts[i] = " ".join(words + ["dup"])
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype="int64")),
        }
    )

    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs, dtype="int32")),
        }
    )

    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_parts, dtype="int64")),
            "p_name": pa.array(
                [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in rng.integers(0, 8, (n_parts, 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_parts)]),
            "p_type": pa.array(_P_TYPES[rng.integers(0, 6, n_parts)]),
            "p_size": pa.array(rng.integers(1, 51, n_parts, dtype="int32")),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_parts) % 1000) * 0.1, 2)),
        }
    )
    order_days = rng.integers(0, 2405, n_orders)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype="int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n_orders)]),
        }
    )
    line_order = rng.integers(0, n_orders, n_lines)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(line_order.astype("int64")),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_lines, dtype="int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype="int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lines, dtype="int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_lines)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
            "l_shipdate": _ts(
                _EPOCH_1995 + (order_days[line_order] + rng.integers(1, 122, n_lines)) * _DAY_US
            ),
        }
    )
    return t


def events_as_traces(events: pa.Table) -> list[dict]:
    """Python mirror of ``normalize.events_as_traces``: one TRACE_SCHEMA
    dict per event, in the table's (event-time) order."""
    cols = events.to_pydict()
    out = []
    for eid, ts, uid, etype, value, props in zip(
        cols["event_id"], cols["ts"], cols["user_id"], cols["event_type"],
        cols["value"], cols["props"],
    ):
        millis = int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        out.append(
            {
                "trace_id": str(eid),
                "service_type": "cts",
                "trace_type": etype,
                "resource_type": "res",
                "trace_name": "" if etype == "view" else etype,
                "resource_id": f"r{uid}",
                "resource_name": "" if value < 100.0 else f"res-{uid}",
                "time": millis,
                "trace_status": "normal" if value < 100.0 else "warning" if value < 300.0 else "incident",
                "code": str(json.loads(props)["k"]),
            }
        )
    return out


def poll_windows(traces: list[dict], n_windows: int) -> list[list[dict]]:
    """Cut ``n_windows`` poll windows of TRACES_PER_WINDOW traces each, in
    event-time order. Window ``w > 0`` starts with the last
    ``REDELIVER_SHARE`` of window ``w - 1`` (at-least-once re-delivery).

    Cutting in event-time order keeps every new trace later than the
    previous tick's watermark, so the engine's 5-minute watermark drops
    only re-deliveries, never fresh traces.
    """
    redeliver = int(TRACES_PER_WINDOW * REDELIVER_SHARE)
    fresh = TRACES_PER_WINDOW - redeliver
    need = TRACES_PER_WINDOW + (n_windows - 1) * fresh
    if len(traces) < need:
        raise ValueError(f"{n_windows} windows need {need} traces, have {len(traces)}")
    windows = [traces[:TRACES_PER_WINDOW]]
    pos = TRACES_PER_WINDOW
    for _ in range(1, n_windows):
        windows.append(windows[-1][-redeliver:] + traces[pos:pos + fresh])
        pos += fresh
    return windows


def delivered_so_far(windows: list[list[str]]) -> list[int]:
    """Distinct trace ids delivered by ticks ``0..k``, for every ``k``,
    when the dedup state starts empty: each window's re-delivered head was
    already delivered by the window before it."""
    seen: set[str] = set()
    out = []
    for w in windows:
        seen.update(w)
        out.append(len(seen))
    return out


def max_windows(sf: float) -> int:
    """How many poll windows the ``events`` table at scale ``sf`` holds."""
    fresh = int(TRACES_PER_WINDOW * (1 - REDELIVER_SHARE))
    return (max(1000, int(1_000_000 * sf)) - TRACES_PER_WINDOW) // fresh + 1


def render_pages(window: list[dict]) -> list[str]:
    """One ``ListTracesResponse`` JSON body per page of PAGE_SIZE traces,
    sorted by trace id; ``marker`` is the page's last trace id when a page
    follows, empty on the final page (adapter.go's loop condition)."""
    ordered = sorted(window, key=lambda t: t["trace_id"])
    pages = [ordered[i:i + PAGE_SIZE] for i in range(0, len(ordered), PAGE_SIZE)]
    return [
        json.dumps(
            {
                "traces": page,
                "meta_data": {
                    "count": len(page),
                    "marker": page[-1]["trace_id"] if i < len(pages) - 1 else "",
                },
            },
            separators=(",", ":"),
        )
        for i, page in enumerate(pages)
    ]


def ensure_inputs(root: str, seed: int, sf: float, n_windows: int) -> tuple[str, str]:
    """Write (once) and return ``(tables_dir, windows_dir)`` for this
    seed and scale. ``windows_dir/<w>/page-<p>.json`` holds window ``w``'s
    pages; ``windows.json`` there lists each window's trace ids. With
    ``n_windows`` > 0 only the ``events`` table is written."""
    base = os.path.join(root, f"seed{seed}-sf{sf}-w{n_windows}")
    done = os.path.join(base, "_COMPLETE")
    tables_dir = os.path.join(base, "tables")
    windows_dir = os.path.join(base, "windows")
    if os.path.exists(done):
        return tables_dir, windows_dir
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(tables_dir)
    tables = make_tables(seed, sf)
    for name, table in tables.items():
        if n_windows and name != "events":
            continue
        pq.write_table(table, os.path.join(tables_dir, f"{name}.parquet"))
    windows = poll_windows(events_as_traces(tables["events"]), n_windows)
    for w, window in enumerate(windows):
        wdir = os.path.join(windows_dir, str(w))
        os.makedirs(wdir)
        for p, body in enumerate(render_pages(window)):
            with open(os.path.join(wdir, f"page-{p:03d}.json"), "w") as fh:
                fh.write(body + "\n")
    with open(os.path.join(windows_dir, "windows.json"), "w") as fh:
        json.dump([[t["trace_id"] for t in w] for w in windows], fh)
    with open(done, "w"):
        pass
    return tables_dir, windows_dir
