"""Seeded benchmark inputs.

Tables are derived from the sf0.01 testdata set (TESTDATA.md), copied
verbatim into ``perfbench/data/sf0.01``, the way ``tools/gen_scale.py``
scales a testdata set: ``copies`` key-offset copies of each source table.
The seed decides a perturbation of every copy that keeps the properties
the measured entries depend on:

- events: ids and user ids shift per copy; timestamps get up to +-30 s
  and values up to +-10% of jitter (the series and event-type mix stay);
- documents: ids shift per copy; per copy, a seeded 30% of the
  vocabulary is renamed consistently.  Within a copy the duplicate and
  near-duplicate structure is the source's exactly; across copies a
  document and its twin share too few word trigrams to be candidates;
- embeddings: ids shift per copy; each copy is rotated by a seeded
  coordinate sign flip and roll, which keeps norms and the geometry
  inside the copy;
- orders/lineitem: order keys and customer keys shift per copy; per
  copy, a seeded permutation relabels customers and suppliers, so every
  customer's and supplier's degree in the order graph is kept.  The
  suppliers are shared by the copies, as a dimension table does not
  grow with the facts.

Same ``(seed, copies)``, same parquet content.  Fact tables are written
as directories of FACT_FILES row-ordered part files, so a scan has one
split per file.

The RESP ingest feed has no testdata counterpart and is generated.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("events", "documents", "embeddings", "orders", "lineitem")
FACT_TABLES = ("events", "orders", "lineitem")
FACT_FILES = 8
RENAMED_SHARE = 0.3
TS_JITTER_US = 30_000_000


def _rng(seed: int, table: str, copy: int) -> np.random.Generator:
    # one stream per (table, copy): deriving a subset of the tables gives
    # the same content for each of them
    return np.random.default_rng([seed, TABLES.index(table), copy])


def _span(t: pa.Table, col: str) -> int:
    return int(pc.max(t[col]).as_py()) + 1


def _set(t: pa.Table, col: str, values) -> pa.Table:
    return t.set_column(t.schema.get_field_index(col), col, values)


def _shift(t: pa.Table, col: str, by: int) -> pa.Table:
    return _set(t, col, pc.add(t[col], by))


def _relabel(t: pa.Table, col: str, perm: np.ndarray, offset: int = 0) -> pa.Table:
    return _set(t, col, pa.array(perm[t[col].to_numpy()] + offset, pa.int64()))


def events(src: pa.Table, seed: int, k: int) -> pa.Table:
    rng = _rng(seed, "events", k)
    n = src.num_rows
    t = _shift(src, "event_id", k * _span(src, "event_id"))
    t = _shift(t, "user_id", k * _span(src, "user_id"))
    ts = t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    ts = ts + rng.integers(-TS_JITTER_US, TS_JITTER_US + 1, n)
    value = np.round(t["value"].to_numpy() * rng.uniform(0.9, 1.1, n), 2)
    t = _set(t, "ts", pa.array(ts, pa.int64()).cast(src.schema.field("ts").type))
    return _set(t, "value", pa.array(value))


def documents(src: pa.Table, seed: int, k: int) -> pa.Table:
    rng = _rng(seed, "documents", k)
    texts = src["text"].to_pylist()
    vocab = sorted({w for text in texts for w in text.split()})
    renamed = rng.random(len(vocab)) < RENAMED_SHARE
    rename = {w: f"{w}{k}x" if r else w for w, r in zip(vocab, renamed)}
    texts = [" ".join(rename[w] for w in text.split()) for text in texts]
    t = _shift(src, "doc_id", k * _span(src, "doc_id"))
    t = _set(t, "text", pa.array(texts, pa.string()))
    return _set(t, "n_chars", pa.array([len(x) for x in texts], src.schema.field("n_chars").type))


def embeddings(src: pa.Table, seed: int, k: int) -> pa.Table:
    rng = _rng(seed, "embeddings", k)
    vec = np.stack(src["embedding"].to_numpy(zero_copy_only=False))
    dim = vec.shape[1]
    vec = np.roll(vec * rng.choice([-1.0, 1.0], dim), int(rng.integers(dim)), axis=1)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(vec.astype(np.float32).ravel()), dim)
    t = _shift(src, "vec_id", k * _span(src, "vec_id"))
    return _set(t, "embedding", arr.cast(src.schema.field("embedding").type))


def orders_lineitem(
    orders: pa.Table, lineitem: pa.Table, seed: int, k: int
) -> tuple[pa.Table, pa.Table]:
    rng = _rng(seed, "orders", k)
    n_cust, n_supp = _span(orders, "o_custkey"), _span(lineitem, "l_suppkey")
    o = _shift(orders, "o_orderkey", k * _span(orders, "o_orderkey"))
    o = _relabel(o, "o_custkey", rng.permutation(n_cust), k * n_cust)
    li = _shift(lineitem, "l_orderkey", k * _span(orders, "o_orderkey"))
    li = _relabel(li, "l_suppkey", rng.permutation(n_supp))
    return o, li


def derive(seed: int, copies: int, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """``copies`` seeded copies of each requested source table."""
    src = {t: pq.read_table(os.path.join(SOURCE_DIR, f"{t}.parquet")) for t in names}
    if "lineitem" in names and "orders" not in names:
        src["orders"] = pq.read_table(os.path.join(SOURCE_DIR, "orders.parquet"))
    parts: dict[str, list[pa.Table]] = {t: [] for t in names}
    for k in range(copies):
        for name, fn in (("events", events), ("documents", documents), ("embeddings", embeddings)):
            if name in names:
                parts[name].append(fn(src[name], seed, k))
        if "orders" in names or "lineitem" in names:
            o, li = orders_lineitem(src["orders"], src["lineitem"], seed, k)
            for name, t in (("orders", o), ("lineitem", li)):
                if name in names:
                    parts[name].append(t)
    out = {t: pa.concat_tables(p) for t, p in parts.items()}
    if "events" in out:
        out["events"] = out["events"].sort_by("ts")
    return out


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """``<out_dir>/<name>.parquet``: a single file for documents and
    embeddings, a directory of FACT_FILES row-ordered part files for fact
    tables."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name not in FACT_TABLES:
            pq.write_table(t, path)
            continue
        os.makedirs(path)
        step = -(-t.num_rows // FACT_FILES)
        for i in range(FACT_FILES):
            pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def generate(out_dir: str, seed: int, copies: int, names: tuple[str, ...]) -> None:
    """Write the requested tables for ``(seed, copies)`` into ``out_dir``."""
    write_tables(out_dir, derive(seed, copies, names))


# ------------------------------------------------------------ RESP ingest
RESP_DAY0 = 19_783  # 2024-03-01 as a UTC day id
NS_PER_DAY = 86_400_000_000_000
RESP_HOSTS = 40
RESP_NUMERIC = ("cpu.user", "cpu.sys", "mem.used", "net.rx")
RESP_EVENT = "!app.log"
RESP_BODIES = ("GET /a 200", "POST /b 500", "GET /c 404", "PUT /d 201")


def resp_batches(seed: int, n_batches: int, pdus_per_batch: int) -> list[dict]:
    """RESP PDUs (one string per PDU) in event-time order, batches covering
    the next one, two, one, ... days (a fixed pattern, so the partition
    count each batch touches is the same for every seed).  Per PDU: 40% row protocol
    (``cpu.user|cpu.sys`` with a ``*2`` value array), 45% data points of
    ``mem.used``/``net.rx``, 13% ``!app.log`` events and 2% malformed
    (scalar for a row series, short array, non-numeric value, missing
    timestamp), which the parser drops whole.

    Each batch carries its ground truth: accepted rows, PDUs in, wire
    bytes, the touched day ids and, per (day, metric), the count and the
    exact sum in cents of the numeric values."""
    rng = np.random.default_rng([seed, len(TABLES)])
    out: list[dict] = []
    day = RESP_DAY0
    for b in range(n_batches):
        span = 1 + b % 2
        days = list(range(day, day + span))
        day += span
        n = pdus_per_batch
        ts = np.sort(rng.integers(days[0] * NS_PER_DAY, (days[-1] + 1) * NS_PER_DAY, n))
        kind = rng.choice(4, n, p=[0.40, 0.45, 0.13, 0.02])
        host = rng.integers(0, RESP_HOSTS, n)
        cents = rng.integers(0, 100_000, (n, 2))
        which = rng.integers(0, 2, n)
        pdus: list[str] = []
        rows = 0
        truth: dict[tuple[int, str], list[int]] = {}

        def add(d: int, metric: str, c: int) -> None:
            acc = truth.setdefault((d, metric), [0, 0])
            acc[0] += 1
            acc[1] += c

        for i in range(n):
            tags = f"host=h{host[i]} dc=d{host[i] % 4}"
            d = int(ts[i] // NS_PER_DAY)
            c0, c1 = int(cents[i, 0]), int(cents[i, 1])
            if kind[i] == 0:
                pdus.append(
                    f"+cpu.user|cpu.sys {tags}\n:{ts[i]}\n*2\n+{c0 / 100:.2f}\n+{c1 / 100:.2f}"
                )
                add(d, "cpu.user", c0)
                add(d, "cpu.sys", c1)
                rows += 2
            elif kind[i] == 1:
                metric = RESP_NUMERIC[2 + which[i]]
                pdus.append(f"+{metric} {tags}\n:{ts[i]}\n+{c0 / 100:.2f}")
                add(d, metric, c0)
                rows += 1
            elif kind[i] == 2:
                body = RESP_BODIES[c0 % len(RESP_BODIES)]
                pdus.append(f"+{RESP_EVENT} host=h{host[i]}\n:{ts[i]}\n+{body}")
                acc = truth.setdefault((d, RESP_EVENT), [0, 0])
                acc[0] += 1
                rows += 1
            else:
                pdus.append(
                    (
                        f"+cpu.user|cpu.sys {tags}\n:{ts[i]}\n+{c0 / 100:.2f}",
                        f"+cpu.user|cpu.sys {tags}\n:{ts[i]}\n*2\n+{c0 / 100:.2f}",
                        f"+mem.used {tags}\n:{ts[i]}\n+n/a",
                        f"+net.rx {tags}\n+{c0 / 100:.2f}",
                    )[c1 % 4]
                )
        out.append(
            {
                "pdus": pdus,
                "days": days,
                "rows": rows,
                "wire_bytes": sum(len(p.encode()) for p in pdus),
                "truth": truth,
            }
        )
    return out


def write_resp_batch(path: str, pdus: list[str]) -> None:
    """One batch as a parquet file of PDU strings (column ``value``), the
    shape a framed feed (e.g. a Kafka topic) lands in."""
    pq.write_table(pa.table({"value": pa.array(pdus, pa.string())}), path)
